"""Deterministic registry sampling for the driver-window test run.

The full registry crossed 320 keys in r15 and the whole-registry
parametrized sweeps (oracle parity, strict dtypes, two plan audits)
pushed the suite to ~38 min — past the driver's pytest capture window,
so VERIFY_r15 recorded tests_ok:false on a suite with ZERO failures
(VERDICT r15 "What's wrong" #4 / next #2).

Fix: the parametrized whole-registry sweeps run a deterministic
stride-4 sample by default (~80 keys each — the suite fits the window
with margin), and the FULL registry when SPARK_GRAFT_FULL_TESTS=1.
Full-registry correctness is still gated every round, twice over:

- the builder's committed full sweeps (scripts/sweep.py →
  docs/sweeps/SWEEP_r{N}*.json, 321/321 at sf0.01 and sf0.1), and
- SPARK_GRAFT_FULL_TESTS=1 pytest as the builder's closing gate;
- the driver's own CORRECTNESS oracle check runs independently of
  pytest.

The sample is a FIXED stride over the sorted key list — reproducible,
no randomness, and uniform across query families (sorted names
interleave agg_/dedup_/pipeline_/sim_/text_ prefixes). Whenever a
sweep is sampled, the session summary says so (conftest.py).
"""

from __future__ import annotations

import os

# (kept, total) per sampled sweep, reported in the session summary
SAMPLED: list[tuple[int, int]] = []


def full_tests() -> bool:
    return os.environ.get("SPARK_GRAFT_FULL_TESTS", "") == "1"


def registry_sample(names, stride: int = 4) -> list[str]:
    """Sorted full list when SPARK_GRAFT_FULL_TESTS=1, else every
    ``stride``-th key of the sorted list."""
    names = sorted(names)
    if full_tests():
        return names
    SAMPLED.append((len(names[::stride]), len(names)))
    return names[::stride]


def sampling_warning() -> str | None:
    """The session-summary warning when any sweep ran a sample."""
    if not SAMPLED:
        return None
    sweeps = ", ".join(f"{k}/{n}" for k, n in SAMPLED)
    return (
        f"REGISTRY SAMPLED: whole-registry sweeps ran only a key sample "
        f"({sweeps} keys). A green run does NOT imply "
        "registry-wide parity; the closing gate is SPARK_GRAFT_FULL_TESTS=1."
    )
