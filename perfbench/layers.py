"""Per-layer metrics of a traced run, computed from its op spans.

Every metric is printed on every traced run. A layer the workload never
calls reads 0 with n=0; ``perfbench/README.md`` names the workload that moves
each metric and the end-to-end metric it should move.

Span metrics (``<span>.s``, ``.jobs``, ...) are medians over the calls
of that function, each call counted with its whole span subtree, so a
call's Spark jobs include those of the functions it calls. A function
that only builds a lazy plan records its plan-build time and any eager
actions; its lazy work lands in the enclosing op.
"""

from __future__ import annotations

import statistics

from perfbench.tracer import Span, union_length
from perfbench.workloads import ANN_KEY, CORPUS_KEYS, GOLD_KEYS, LOAD_OP, LOADS_PER_CYCLE

OP_KINDS = [*GOLD_KEYS, *CORPUS_KEYS, LOAD_OP]


def op_metric(kind: str) -> str:
    """Per-op-type latency metric: ``queries.<key>.s``, or for a load
    ``pipeline.run.load.s``."""
    return "pipeline.run.load.s" if kind == LOAD_OP else f"queries.{kind}.s"

# span name -> extra counters reported per call besides ``.s``
SPAN_METRICS = {
    "queries.registry.load_tables": [],
    "io.readers.read_csv": [],
    "io.writers.write_parquet_partitioned": ["output_bytes"],
    "io.writers.write_delta_or_parquet": ["output_bytes"],
    "pipeline.bronze.ingest_table": ["jobs"],
    "pipeline.silver.conform": [],
    "pipeline.silver.merge_upsert_scd": ["jobs", "shuffle_write_bytes", "spill_bytes"],
    "queries.gold_claims.monthly_claim_kpis": [],
    "queries.gold_claims.open_claim_aging": [],
    "operators.text.quality_features": [],
    "operators.dedup.minhash_candidate_pairs": ["jobs"],
    "operators.similarity.train_ivf_centroids": ["jobs"],
    "operators.similarity.ivf_assign": [],
}
CALL_COUNTS = ["io.fs.rename_path", "io.fs.delete_path"]
UNITS = {
    "s": "s",
    "jobs": "count",
    "output_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
}


def totals(span: Span) -> dict[str, float]:
    """Counters of a span summed over its subtree, plus job count and the
    union of its jobs' run intervals."""
    out: dict[str, float] = {"jobs": 0, "job_busy_s": 0.0}
    intervals = []
    for s in span.subtree():
        out["jobs"] += len(s.jobs)
        intervals += s.job_intervals
        for k, v in s.counters.items():
            out[k] = out.get(k, 0) + v
    out["job_busy_s"] = union_length(intervals)
    out["spill_bytes"] = out.get("memory_spill_bytes", 0) + out.get("disk_spill_bytes", 0)
    out["executor_s"] = out.get("executor_ms", 0) / 1000.0
    return out


def _median(values: list[float]) -> tuple[float, int]:
    return (statistics.median(values), len(values)) if values else (0.0, 0)


def metric_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    names = {"session.get_spark.s": "s"}
    for k, u in [
        ("jobs", "count"), ("tasks", "count"), ("job_busy_s", "s"), ("driver_gap_s", "s"),
        ("executor_s", "s"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
        ("failed_tasks", "count"), ("rows_read_per_row_returned", "ratio"),
    ]:
        names[f"op.{k}"] = u
    for kind in OP_KINDS:
        names[op_metric(kind)] = "s"
    for span, extra in SPAN_METRICS.items():
        for k in ["s", *extra]:
            names[f"{span}.{k}"] = UNITS[k]
    for span in CALL_COUNTS:
        names[f"{span}.calls"] = "count"
    names |= {
        "io.write_amplification": "ratio",
        "io.stored_bytes_per_input_byte": "ratio",
        "pipeline.rows_per_s": "1/s",
        "pipeline.silver.merge_last_over_first": "ratio",
        "operators.similarity.recall_at_k": "ratio",
        "concurrency.BackgroundJob.result.wait_s": "s",
        "trace.overhead_ratio": "ratio",
    }
    return names


def per_layer(records, workload, t_session: float) -> dict[str, tuple[float, str, int]]:
    units = metric_names()
    values: dict[str, tuple[float, int]] = {"session.get_spark.s": (t_session, 1)}
    traced = [r for r in records if r.span is not None and r.ok]

    op_tot = [(r, totals(r.span)) for r in traced]
    for k in ["jobs", "tasks", "job_busy_s", "executor_s", "shuffle_write_bytes", "spill_bytes"]:
        values[f"op.{k}"] = _median([t.get(k, 0) for _, t in op_tot])
    values["op.driver_gap_s"] = _median([r.latency - t["job_busy_s"] for r, t in op_tot])
    every_traced = [r for r in records if r.span is not None]
    values["op.failed_tasks"] = (
        sum(totals(r.span).get("failed_tasks", 0) for r in every_traced), len(every_traced)
    )
    values["op.rows_read_per_row_returned"] = _median(
        [t.get("input_records", 0) / max(1, r.rows) for r, t in op_tot]
    )
    for kind in OP_KINDS:
        values[op_metric(kind)] = _median([r.latency for r in traced if r.kind == kind])

    spans_by_name: dict[str, list[Span]] = {}
    for r in traced:
        for s in r.span.subtree():
            spans_by_name.setdefault(s.name, []).append(s)
    for name, extra in SPAN_METRICS.items():
        spans = spans_by_name.get(name, [])
        values[f"{name}.s"] = _median([s.duration for s in spans])
        for k in extra:
            values[f"{name}.{k}"] = _median([totals(s).get(k, 0) for s in spans])
    for name in CALL_COUNTS:
        per_op = [
            sum(1 for s in r.span.subtree() if s.name == name) for r in traced
        ]
        per_op = [n for n in per_op if n]
        values[f"{name}.calls"] = _median(per_op)
    waits = spans_by_name.get("concurrency.BackgroundJob.result", [])
    values["concurrency.BackgroundJob.result.wait_s"] = _median([s.duration for s in waits])

    loads = [(r, t) for r, t in op_tot if r.kind == LOAD_OP]
    if loads:
        ex_bytes, ex_rows = workload.extract_bytes, workload.extract_rows
        values["io.write_amplification"] = _median(
            [t.get("output_bytes", 0) / ex_bytes[r.index] for r, t in loads]
        )
        values["io.stored_bytes_per_input_byte"] = (
            workload.stored_bytes / sum(ex_bytes), 1
        )
        values["pipeline.rows_per_s"] = _median(
            [ex_rows[r.index] / r.latency for r, _ in loads]
        )
        merge = {
            (r.round, r.index): s.duration
            for r, _ in loads
            for s in r.span.subtree()
            if s.name == "pipeline.silver.merge_upsert_scd"
        }
        values["pipeline.silver.merge_last_over_first"] = _median(
            [
                merge[(rnd, LOADS_PER_CYCLE - 1)] / merge[(rnd, 1)]
                for rnd in {r.round for r, _ in loads}
                if (rnd, 1) in merge and (rnd, LOADS_PER_CYCLE - 1) in merge
            ]
        )
    recalls = [r.recall for r in records if r.ok and r.kind == ANN_KEY]
    if recalls:
        values["operators.similarity.recall_at_k"] = (statistics.fmean(recalls), len(recalls))

    rate = {}
    for is_traced in (True, False):
        rs = [r for r in records if r.ok and (r.span is not None) == is_traced]
        busy = sum(r.latency for r in rs)
        rate[is_traced] = len(rs) / busy if busy else 0.0
    values["trace.overhead_ratio"] = (
        rate[False] / rate[True] if rate[True] else 0.0,
        sum(1 for r in records if r.ok),
    )
    out = {}
    for k, u in units.items():
        v, n = values.get(k, (0.0, 0))
        out[k] = (v, u, n)
    return out
