"""The benchmark's workloads: seeded inputs, ops, warm-up and output checks.

Both workloads are closed loops with one client: the next op starts when
the previous one has returned its result. An op's latency runs from the
call into the engine until its result rows are on the driver; its output
check runs after that, outside the timed interval.

Expected results come from DuckDB, computed on the same generated inputs
before the SparkSession starts: a query key's registered oracle SQL,
normalised with ``tests/oracle_harness.rows_normalized``, or for the
medallion loads a DuckDB replay of the claim extracts.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np

from perfbench import datagen

# Two more analytic keys of this shape are left out. agg_star_multijoin
# fails its output check on some seeds (seed 21 among them): its revenue
# sum of 4-decimal products can land exactly on a half cent, and the
# engine and DuckDB, adding in different orders, then round it to
# different cents (an open engine defect; a benchmark run must have no
# failing op).
# agg_hll_partial_merge, the slowest (2.2 s a call), does not fit the
# run budget.
GOLD_KEYS = [
    "agg_group_sum_avg_minmax",
    "join_inner_equi",
    "join_broadcast_dim",
    "window_rank_topn_per_group",
    "window_dedupe_latest",
    "agg_rollup_cube",
    "sort_limit_topk",
    "fn_date_trunc_month",
    "join_asof",
    "ts_ohlc_bars",
]
# corpus and vector keys: text quality, MinHash near-duplicates and IVF
# search. Their DuckDB oracles take about a second at CORPUS_ROWS; at
# sf0.1 sizes (5000 documents, 2000 vectors) the MinHash oracle alone
# runs past 8 s, which a run cannot afford for every seed.
CORPUS_KEYS = ["text_quality_score", "dedup_minhash_lsh", "sim_ivfsq_topk"]
CORPUS_ROWS = {"documents": 250, "embeddings": 500}
ANN_KEY = "sim_ivfsq_topk"
CALLS_PER_ROUND = 2
WARM_PASSES = 2
TOP_K = 10

LOAD_OP = "medallion_load"
CLAIM_ROWS = 50_000        # claims in the first extract
LOADS_PER_CYCLE = 3        # first load + 2 refreshes, on fresh tables each cycle
FIRST_LOAD_TS = datetime(2026, 1, 15, 8, 0, 0)
AGING_AS_OF = date(2001, 9, 1)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    from tests.oracle_harness import rows_normalized

    norm = rows_normalized(list(cols), rows)
    return hashlib.sha256(repr((sorted(cols), norm)).encode()).hexdigest()


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


class CheckFailed(AssertionError):
    """An op's output differs from its expected result."""


@dataclass
class Op:
    kind: str                                   # op type: a query key or LOAD_OP
    run: Callable[[object], object]             # spark -> result (timed)
    check: Callable[[object], None]             # result -> None, raises CheckFailed
    out_rows: Callable[[object], int]           # result -> rows returned


@dataclass
class Sizes:
    """Input sizes, reported on stderr with the result."""

    tables: dict[str, tuple[int, int]] = field(default_factory=dict)
    extracts: list[tuple[int, int]] = field(default_factory=list)


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def _key_op(queries: dict, key: str, data_dir: str, expected: dict[str, str]) -> Op:
    def run(spark):
        return _collect(queries[key](spark, data_dir))

    def check(res):
        got = result_hash(*res)
        if got != expected[key]:
            raise CheckFailed(f"{key}: result hash differs from its DuckDB oracle")

    return Op(kind=key, run=run, check=check, out_rows=lambda res: len(res[1]))


def _oracle_hashes(data_dir: str, keys: list[str]) -> dict[str, str]:
    from mercurygate_spark.queries.registry import REGISTRY
    from tests.oracle_harness import duck_connection

    con = duck_connection(data_dir)
    try:
        return {k: result_hash(*duck_rows(con, REGISTRY[k].oracle)) for k in keys}
    finally:
        con.close()


def _warm(call: Callable[[], object]) -> None:
    """Run one warm-up call. A failure is logged, not raised: the same op
    fails again when measured, where it is counted and reported."""
    try:
        call()
    except Exception:  # noqa: BLE001 — reported, then counted by the measured op
        print(f"# warm-up call failed\n{traceback.format_exc()}", file=sys.stderr, flush=True)


def _concurrently(calls: list[Callable[[], object]]) -> None:
    """Warm-up calls on one thread per usable core."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
        for f in [pool.submit(_warm, c) for c in calls]:
            f.result()


# ------------------------------------------------------------ gold_interactive


class GoldInteractive:
    """An analyst running oracle-backed analytic keys at sf0.1, plus a
    corpus-quality lookup, a near-duplicate lookup and a vector search."""

    name = "gold_interactive"
    op_types = [*GOLD_KEYS, *CORPUS_KEYS]

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.data_dir = os.path.join(work, "gold")
        self.sizes = Sizes(tables=datagen.write_tables(self.data_dir, seed, rows=CORPUS_ROWS))
        self.expected = _oracle_hashes(self.data_dir, self.op_types)
        self.exact_topk = _exact_topk(os.path.join(self.data_dir, "embeddings.parquet"))

    def _ops(self, keys: list[str]) -> list[Op]:
        from mercurygate_spark.queries import all_queries

        queries = all_queries()
        return [_key_op(queries, k, self.data_dir, self.expected) for k in keys]

    def round(self, i: int) -> list[Op]:
        """Every key ``CALLS_PER_ROUND`` times, in a seeded order, so the
        median does not rest on one call of one key."""
        keys = CALLS_PER_ROUND * list(self.op_types)
        random.Random(f"{self.seed}:{i}").shuffle(keys)
        return self._ops(keys)

    def warm_up(self, spark) -> None:
        """Read every table's footer, then call every key WARM_PASSES
        times, one pass at a time, the calls of a pass on one thread per
        core: two passes of sequential calls took 35 s on a 4-core host,
        two concurrent passes about 22 s."""
        from mercurygate_spark.queries.registry import TABLES, load_tables

        for df in load_tables(spark, self.data_dir, *TABLES).values():
            df.schema  # noqa: B018 — forces the footer read
        for _ in range(WARM_PASSES):
            _concurrently([lambda op=op: op.run(spark) for op in self._ops(self.op_types)])

    def end_round(self, i: int) -> None:
        pass


# ------------------------------------------------------------ medallion_refresh


def _replay_sql(n_gens: int) -> str:
    """Latest version per claim over extracts e0..e{n-1} (the silver
    table a merge-mode load leaves: every bronze datePart is re-read,
    the newest ``updated_on`` wins, and since all keys are present in
    bronze none is flagged inactive)."""
    union = " UNION ALL ".join(f"SELECT *, {g} AS gen FROM e{g}" for g in range(n_gens))
    return f"""
        SELECT claimnumber AS claim_number, statuscode AS status_code,
               totalamount AS total_amount, paymentamount AS payment_amount,
               CAST(datecreated AS TIMESTAMP) AS date_created,
               CAST(dateclosed AS TIMESTAMP) AS date_closed,
               'Y' AS active,
               TIMESTAMP '{FIRST_LOAD_TS:%Y-%m-%d %H:%M:%S}' + gen * INTERVAL 1 DAY AS updated_on
        FROM ({union})
        QUALIFY row_number() OVER (PARTITION BY claimnumber ORDER BY gen DESC) = 1
    """


_KPI_SQL = """
    SELECT strftime(date_created, '%Y-%m') AS year_month, count(*) AS n_claims,
           floor(sum(total_amount) * 100 + 0.5) / 100 AS claimed,
           floor(sum(payment_amount) * 100 + 0.5) / 100 AS paid,
           count(date_closed) AS n_closed,
           floor(avg(date_diff('day', CAST(date_created AS DATE),
                                      CAST(date_closed AS DATE))) * 100 + 0.5) / 100
             AS avg_days_to_close
    FROM silver GROUP BY 1
"""

_AGING_SQL = f"""
    WITH a AS (
      SELECT date_diff('day', CAST(date_created AS DATE), DATE '{AGING_AS_OF}') AS age,
             total_amount
      FROM silver WHERE active = 'Y' AND date_closed IS NULL)
    SELECT CASE WHEN age <= 30 THEN '0-30' WHEN age <= 90 THEN '31-90'
                WHEN age <= 180 THEN '91-180' ELSE '180+' END AS age_bucket,
           count(*) AS n_claims,
           floor(sum(total_amount) * 100 + 0.5) / 100 AS exposure
    FROM a GROUP BY 1
"""

SILVER_COLS = [
    "claim_number", "status_code", "total_amount", "payment_amount",
    "date_created", "date_closed", "active", "updated_on",
]


class MedallionRefresh:
    """A scheduled load: claim extracts through bronze, silver merge and
    Gold KPIs, a first load and refreshes on fresh tables each cycle."""

    name = "medallion_refresh"
    op_types = [LOAD_OP]

    def __init__(self, work: str, seed: int) -> None:
        import duckdb

        self.seed = seed
        self.work = work
        feed = datagen.ClaimFeed(seed=seed, rows=CLAIM_ROWS)
        snaps = feed.generations(LOADS_PER_CYCLE)
        self.extract_dirs, self.extract_rows, self.extract_bytes = [], [], []
        con = duckdb.connect()
        self.expected_loads = []
        for g, snap in enumerate(snaps):
            d = os.path.join(work, "extracts", f"gen{g}")
            self.extract_bytes.append(datagen.write_claim_extract(snap, d))
            self.extract_dirs.append(d)
            self.extract_rows.append(len(snap["key"]))
            con.register(f"e{g}", datagen.claim_extract_table(snap))
            con.execute(f"CREATE OR REPLACE TABLE silver AS {_replay_sql(g + 1)}")
            self.expected_loads.append(
                {
                    "kpis": result_hash(*duck_rows(con, _KPI_SQL)),
                    "aging": result_hash(*duck_rows(con, _AGING_SQL)),
                }
            )
        self.expected_silver = con.execute(
            f"SELECT {', '.join(SILVER_COLS)} FROM silver ORDER BY claim_number"
        ).df()
        con.close()
        self.sizes = Sizes(extracts=list(zip(self.extract_rows, self.extract_bytes)))
        self.small_feed = datagen.ClaimFeed(seed=seed, rows=2000)
        self.stored_bytes = 0

    def _load_op(self, root: str, g: int, extract_dir: str, expected: dict | None) -> Op:
        from mercurygate_spark.catalog import TABLES
        from mercurygate_spark.concurrency import run_in_background
        from mercurygate_spark.io.sftp import LocalFetcher
        from mercurygate_spark.pipeline.run import run_bronze, run_silver
        from mercurygate_spark.queries.gold_claims import monthly_claim_kpis, open_claim_aging

        spec = TABLES["claim"]

        def run(spark):
            run_bronze(
                spark, LocalFetcher(extract_dir), f"{root}/staging", f"{root}/bronze",
                "mm", "perfbench", FIRST_LOAD_TS + timedelta(days=g),
                mode="initial" if g == 0 else "refresh", tables=[spec],
            )
            silver = run_silver(
                spark, f"{root}/bronze", f"{root}/silver", "mm", mode="merge", tables=[spec]
            )["claim"]
            # the two Gold reads are independent job chains: overlap them
            aging = run_in_background(
                lambda: _collect(open_claim_aging(silver, AGING_AS_OF)), "claim-aging"
            )
            kpis = _collect(monthly_claim_kpis(silver))
            return silver, kpis, aging.result()

        def check(res):
            silver, kpis, aging = res
            if expected is None:
                return
            if result_hash(*kpis) != expected["kpis"]:
                raise CheckFailed(f"load {g}: monthly_claim_kpis differs from the DuckDB replay")
            if result_hash(*aging) != expected["aging"]:
                raise CheckFailed(f"load {g}: open_claim_aging differs from the DuckDB replay")
            if g == LOADS_PER_CYCLE - 1 and not _same_frame(
                silver.select(*SILVER_COLS).toPandas(), self.expected_silver
            ):
                raise CheckFailed("final silver table differs from the DuckDB replay")

        return Op(kind=LOAD_OP, run=run, check=check, out_rows=lambda res: len(res[1][1]))

    def round(self, i: int) -> list[Op]:
        """One cycle: every load, in order, on fresh tables."""
        root = os.path.join(self.work, "lake", f"cycle{i}")
        return [
            self._load_op(root, g, self.extract_dirs[g], self.expected_loads[g])
            for g in range(LOADS_PER_CYCLE)
        ]

    def warm_up(self, spark) -> None:
        """A first load and a refresh of a small extract, so the JIT has
        compiled the first-load and the merge path before the first
        measured load."""
        root = os.path.join(self.work, "lake", "warmup")
        for g, snap in enumerate(self.small_feed.generations(2)):
            d = os.path.join(self.work, "extracts", f"warmup{g}")
            datagen.write_claim_extract(snap, d)
            _warm(lambda d=d, g=g: self._load_op(root, g, d, None).run(spark))
        shutil.rmtree(root, ignore_errors=True)

    def end_round(self, i: int) -> None:
        """Record what the cycle left on disk, then drop its tables."""
        root = os.path.join(self.work, "lake", f"cycle{i}")
        self.stored_bytes = _dir_bytes(f"{root}/bronze") + _dir_bytes(f"{root}/silver")
        shutil.rmtree(root, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _same_frame(got, expected) -> bool:
    """Row-for-row equality of two frames after sorting by claim number."""
    got = got.sort_values("claim_number", ignore_index=True)
    if list(got.columns) != list(expected.columns) or len(got) != len(expected):
        return False
    for c in got.columns:
        a, b = got[c], expected[c]
        if a.dtype.kind == "M" or b.dtype.kind == "M":
            a, b = a.astype("datetime64[ns]"), b.astype("datetime64[ns]")
        if not a.equals(b):
            return False
    return True


def _exact_topk(embeddings_path: str) -> dict[int, set[int]]:
    """Exact cosine top-k of each query vector (vec_id < N_QUERIES),
    excluding the query itself — the reference for recall@k."""
    import pyarrow.parquet as pq

    from mercurygate_spark.queries.similarity import N_QUERIES

    t = pq.read_table(embeddings_path)
    ids = t["vec_id"].to_numpy()
    v = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in np.flatnonzero(ids < N_QUERIES):
        sims = v @ v[q]
        sims[q] = -np.inf
        order = np.lexsort((ids, -sims))[:TOP_K]
        out[int(ids[q])] = {int(x) for x in ids[order]}
    return out


def recall_at_k(res, exact: dict[int, set[int]]) -> float:
    """Mean share of each query's returned top-k that is in its exact top-k."""
    cols, rows = res
    qi, ci = cols.index("query_id"), cols.index("candidate_id")
    got: dict[int, set[int]] = {q: set() for q in exact}
    for r in rows:
        got.setdefault(r[qi], set()).add(r[ci])
    return float(np.mean([len(got[q] & exact[q]) / TOP_K for q in exact]))


WORKLOADS = {w.name: w for w in (GoldInteractive, MedallionRefresh)}
