"""Seeded input generators for the benchmark.

Every input the engine sees is made here from the run's seed, so the
same seed gives byte-identical inputs and the engine never reads a file
the benchmark did not write.

* ``write_tables`` writes the ten analytic tables (one parquet file
  each, the layout ``queries.registry.load_tables`` reads) with the
  shapes, key ranges and value distributions of the engine's sf0.1
  test tables: uniform keys, uniform categorical columns, a 30-word
  bag-of-words corpus in which 5% of documents are copies of another
  document with one extra word, and unit-norm 64-d embeddings.
* ``ClaimFeed`` makes the claim extracts of the medallion workload:
  a first snapshot of open claims shaped like ``orders`` rows (status,
  price, order date, as ``queries.medallion`` derives its claim feed)
  and refresh snapshots in which a seeded share of the claims change,
  vanish or appear.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# sf0.1 row counts of the engine's test tables
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _ids(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """The ten tables at sf0.1 row counts; ``rows`` overrides the count
    of single tables."""
    rng = np.random.default_rng(seed)
    n = SF01_ROWS | (rows or {})
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": _ids("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": _ids("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no)),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl)),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    lengths = rng.integers(10, 101, nd)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    # 5% near-duplicates: another document's text plus one extra word
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    v = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )


def write_tables(
    out_dir: str, seed: int, rows: dict[str, int] | None = None
) -> dict[str, tuple[int, int]]:
    """Write every table to ``out_dir/<name>.parquet``; returns
    ``(rows, bytes)`` per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in build_tables(seed, rows).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = (table.num_rows, os.path.getsize(path))
    return sizes


# ---------------------------------------------------------------- claims

_TS_FMT = "%Y-%m-%d %H:%M:%S"
CHURN = 0.05  # share of claims that change, vanish or are new per refresh


@dataclass
class ClaimFeed:
    """Snapshot extracts of the claim table, one per load generation.

    Generation 0 holds ``rows`` claims with amounts in whole cents, as
    ``o_totalprice``. Each later generation starts from the previous one;
    a seeded ``CHURN`` share of the claims close (status ``F``, amount
    +100, half of it paid, a close date), another ``CHURN`` share vanish
    from the extract, and ``CHURN`` × ``rows`` new claims appear."""

    seed: int
    rows: int

    def first(self) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, 0])
        n = self.rows
        key = np.arange(n, dtype=np.int64)
        total = _money(rng, 1000.0, 500000.0, n)
        status = rng.choice(np.array(["F", "O", "P"]), n)
        created = _days(rng, "1995-01-01", "2001-08-01", n)
        closed = np.where(status == "F", created + np.timedelta64(30, "D"), np.datetime64("NaT"))
        return {
            "key": key,
            "status": status,
            "total": total,
            "paid": np.round(total * rng.uniform(0.0, 1.0, n), 2),
            "created": created,
            "closed": closed.astype("datetime64[us]"),
        }

    def next(self, prev: dict[str, np.ndarray], gen: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, gen])
        n = len(prev["key"])
        roll = rng.random(n)
        keep = roll >= CHURN
        change = keep & (roll < 2 * CHURN)
        out = {k: v[keep].copy() for k, v in prev.items()}
        ch = change[keep]
        out["status"][ch] = "F"
        out["total"][ch] = np.round(out["total"][ch] + 100.0, 2)
        out["paid"][ch] = np.round(out["total"][ch] * 0.5, 2)
        out["closed"][ch] = out["created"][ch] + np.timedelta64(60 + gen, "D")
        n_new = int(CHURN * self.rows)
        start = int(prev["key"].max()) + 1
        new = {
            "key": np.arange(start, start + n_new, dtype=np.int64),
            "status": np.full(n_new, "O"),
            "total": _money(rng, 1000.0, 500000.0, n_new),
            "paid": np.zeros(n_new),
            "created": _days(rng, "2001-01-01", "2001-08-01", n_new),
            "closed": np.full(n_new, np.datetime64("NaT"), "datetime64[us]"),
        }
        return {k: np.concatenate([out[k], new[k]]) for k in out}

    def generations(self, count: int) -> list[dict[str, np.ndarray]]:
        gens = [self.first()]
        for g in range(1, count):
            gens.append(self.next(gens[-1], g))
        return gens


def claim_extract_table(snap: dict[str, np.ndarray]) -> pa.Table:
    """One snapshot in the source system's raw column names."""

    def fmt(a: np.ndarray) -> pa.Array:
        ts = pa.array(a.astype("datetime64[s]"), pa.timestamp("s"), mask=np.isnat(a))
        return pc.strftime(ts, format=_TS_FMT)

    keys = pc.cast(pa.array(snap["key"]), pa.string())
    return pa.table(
        {
            "claimnumber": pc.binary_join_element_wise("CLM-", keys, ""),
            "statuscode": pa.array(snap["status"]),
            "totalamount": snap["total"],
            "paymentamount": snap["paid"],
            "datecreated": fmt(snap["created"]),
            "dateclosed": fmt(snap["closed"]),
        }
    )


def write_claim_extract(snap: dict[str, np.ndarray], out_dir: str) -> int:
    """Write ``out_dir/claim.txt`` (headered CSV); returns its size in bytes."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "claim.txt")
    pacsv.write_csv(
        claim_extract_table(snap),
        path,
        pacsv.WriteOptions(include_header=True, quoting_style="none"),
    )
    return os.path.getsize(path)
