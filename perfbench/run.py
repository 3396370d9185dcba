"""Benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from any working directory. It generates the workload's inputs from
the seed under ``.perfbench/`` at the repository root, computes the
expected results with DuckDB, starts the engine's SparkSession on
``local[<usable cores>]``, warms up, then runs the workload's closed loop
for S seconds (always finishing the round in progress) and checks every
op's result. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` rounds alternate
between traced and untraced and the metrics are the per-layer ones.
Details (sample counts, input sizes, load average, failures) go to
stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

# Engine functions the traced run wraps in spans: "module:attr" -> span name.
TARGETS = {
    f"mercurygate_spark.{t}": n
    for t, n in {
        "queries.registry:load_tables": "queries.registry.load_tables",
        "io.readers:read_csv": "io.readers.read_csv",
        "io.writers:write_parquet_partitioned": "io.writers.write_parquet_partitioned",
        "io.writers:write_delta_or_parquet": "io.writers.write_delta_or_parquet",
        "io.fs:rename_path": "io.fs.rename_path",
        "io.fs:delete_path": "io.fs.delete_path",
        "pipeline.bronze:ingest_table": "pipeline.bronze.ingest_table",
        "pipeline.silver:conform": "pipeline.silver.conform",
        "pipeline.silver:merge_upsert_scd": "pipeline.silver.merge_upsert_scd",
        "queries.gold_claims:monthly_claim_kpis": "queries.gold_claims.monthly_claim_kpis",
        "queries.gold_claims:open_claim_aging": "queries.gold_claims.open_claim_aging",
        "operators.text:quality_features": "operators.text.quality_features",
        "operators.dedup:minhash_candidate_pairs": "operators.dedup.minhash_candidate_pairs",
        "operators.similarity:train_ivf_centroids": "operators.similarity.train_ivf_centroids",
        "operators.similarity:ivf_assign": "operators.similarity.ivf_assign",
        "concurrency:BackgroundJob.result": "concurrency.BackgroundJob.result",
    }.items()
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + ([pp] if pp else []))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: Path):
    from mercurygate_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Xms2g",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it to exit, also
    when the JVM has already died (a TERM sent to the process group)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = gateway.proc if gateway is not None else None
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    kb = 0
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    log(f"peak rss: driver JVM {kb / 1024:.0f} MB, benchmark process {own_kb / 1024:.0f} MB")
    return (kb + own_kb) / 1024.0


class OpRecord:
    """One attempted op: its type, where it ran, and what it measured."""

    __slots__ = ("kind", "round", "index", "latency", "ok", "rows", "span", "recall")

    def __init__(self, kind, rnd, index):
        self.kind, self.round, self.index = kind, rnd, index
        self.latency, self.ok, self.rows = None, False, 0
        self.span, self.recall = None, None


def run_loop(spark, workload, seconds: float, tracer=None) -> list[OpRecord]:
    """Closed loop over the workload's rounds until ``seconds`` have passed.
    In a traced run, even rounds are traced and odd rounds run the same
    wrapped code with tracing switched off (at least one of each)."""
    from perfbench.workloads import ANN_KEY, recall_at_k

    records: list[OpRecord] = []
    deadline = time.perf_counter() + seconds
    rnd = 0
    while rnd == 0 or time.perf_counter() < deadline or (tracer is not None and rnd < 2):
        traced = tracer is not None and rnd % 2 == 0
        if tracer is not None:
            tracer.enabled = traced
        for i, op in enumerate(workload.round(rnd)):
            rec = OpRecord(op.kind, rnd, i)
            res = None
            try:
                span = tracer.span(f"op.{op.kind}") if traced else contextlib.nullcontext()
                with span as rec.span:
                    t0 = time.perf_counter()
                    try:
                        res = op.run(spark)
                    finally:
                        rec.latency = time.perf_counter() - t0
                op.check(res)
                rec.ok = True
                rec.rows = op.out_rows(res)
                if op.kind == ANN_KEY:
                    rec.recall = recall_at_k(res, workload.exact_topk)
            except Exception:  # a failing op is counted, reported and the loop goes on
                log(f"op failed: round {rnd} op {i} {op.kind}\n{traceback.format_exc()}")
            if rec.span is not None:
                tracer.resolve(list(rec.span.subtree()))
            records.append(rec)
            log(
                f"op {rnd}.{i} {op.kind} {rec.latency or 0:.3f}s "
                + ("ok" if rec.ok else "FAILED")
            )
            exit_if_terminated()
        workload.end_round(rnd)
        rnd += 1
    if tracer is not None:
        tracer.enabled = True
    return records


def end_to_end(records: list[OpRecord], setup_s: float, rss_mb: float) -> dict:
    """Latency statistics cover completed ops; failed ones are counted in
    the result line's ``failed`` and their time in ``ops_per_s``."""
    done = [r for r in records if r.ok]
    lat = [r.latency for r in done]
    busy = sum(r.latency for r in records if r.latency is not None)
    return {
        "setup_s": (setup_s, "s", 1),
        "op_p50_s": (statistics.median(lat) if lat else 0.0, "s", len(lat)),
        "ops_per_s": (len(done) / busy if busy else 0.0, "1/s", len(done)),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }


_terminated = False


def _on_sigterm(*_) -> None:
    """Unwind through ``main``'s clean-up. A SystemExit raised inside a
    py4j call can be lost (pyspark's own clean-up call then fails and
    raises in its place), so ``exit_if_terminated`` checks again after
    every op and after warm-up."""
    global _terminated
    _terminated = True
    # a second TERM (``timeout`` signals the child and its group) must not
    # cut the clean-up short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def exit_if_terminated() -> None:
    if _terminated:
        sys.exit(143)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "mercurygate_spark" / "__init__.py").is_file():
        log(f"no mercurygate_spark package under {ROOT}; run from a full checkout")
        return 2
    from perfbench import layers
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    # on SIGTERM, unwind through the finally below: stop Spark, remove inputs
    signal.signal(signal.SIGTERM, _on_sigterm)
    _prepare_env(work)
    load_start = os.getloadavg()[0]
    spark = None
    try:
        t = time.perf_counter()
        workload = WORKLOADS[args.workload](str(work), args.seed)
        log(f"inputs + expected results: {time.perf_counter() - t:.2f}s; sizes {workload.sizes}")

        # set-up: session start, then the workload's warm-up
        t0 = time.perf_counter()
        spark = start_session(work)
        t_session = time.perf_counter() - t0
        workload.warm_up(spark)
        exit_if_terminated()
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.3f}s (session start {t_session:.3f}s)")

        tracer = None
        if args.trace:
            from perfbench.tracer import Tracer, install

            tracer = Tracer(spark.sparkContext)
            install(tracer, TARGETS)
        records = run_loop(spark, workload, args.seconds, tracer)
        rss = peak_rss_mb(spark)
        attempted = len(records)
        failed = sum(not r.ok for r in records)
        if args.trace:
            metrics = layers.per_layer(records, workload, t_session)
            trace_dir = ROOT / ".perfbench" / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.write_jsonl(str(trace_dir / f"{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = end_to_end(records, setup_s, rss)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    log(f"load_avg_1m start {load_start:.2f} end {os.getloadavg()[0]:.2f}; "
        f"attempted {attempted} failed {failed}")
    for name, (value, unit, n) in metrics.items():
        log(f"{name} = {value:.6g} {unit} (n={n})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
