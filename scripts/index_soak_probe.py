"""Incremental-dedup index lifecycle soak (VERDICT r8 #2): K sequential
probe→append cycles against the persisted bucketed band index at
scaled data, measuring what a continuous-ingestion pipeline actually
pays — probe wall-clock vs accumulated index size (must stay ~flat:
probe cost is batch-proportional, never corpus-proportional, because
the index side of the join is bucket-pruned and exchange-free) and the
small-file growth appends cause (one file per writer-task×bucket per
append), then the compact_bucketed rewrite: file count back to one per
bucket, probe results bit-identical, probe time not worse.

Method: documents scaled ×FACTOR with the structure-preserving
transform from scale_probe (rotated-alphabet text, shifted ids), split
50% corpus / K batches of 5% by doc_id bucket. Each cycle probes the
CURRENT index then appends the batch's bands under the same bucket
spec. The probe result is forced with a noop write; a hash checksum of
the final probe pins value-invisibility of the compaction.

Usage:
    python scripts/index_soak_probe.py [--sf-dir /root/testdata/sf0.1]
        [--factor 10] [--batches 10] [--out docs/index_soak_r09.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from mercurygate_spark.io.bucketing import compact_bucketed, write_bucketed  # noqa: E402
from mercurygate_spark.operators.dedup import (  # noqa: E402
    lsh_bands,
    minhash_signature_arrow,
)
from mercurygate_spark.queries.dedup import (  # noqa: E402
    _band_bucket_key,
    _best_index_match,
)
from mercurygate_spark.session import get_spark  # noqa: E402
from scripts.scale_probe import _copy_expr_documents  # noqa: E402


def bands_of(df, alias):
    return lsh_bands(minhash_signature_arrow(df, "doc_id"), "doc_id").select(
        F.col("doc_id").alias(alias), _band_bucket_key().alias("bk")
    )


def probe(spark, idx_name, batch_bands):
    cand = (
        batch_bands.join(spark.table(idx_name), "bk")
        .groupBy("new_id", "match_id")
        .agg(F.count("*").alias("shared"))
    )
    return _best_index_match(cand)


def run_probe(spark, idx_name, batch_bands) -> tuple[float, int]:
    t0 = time.monotonic()
    n = probe(spark, idx_name, batch_bands).count()
    return time.monotonic() - t0, n


def checksum(df) -> int:
    cols = sorted(df.columns)
    return df.select(
        F.sum(F.hash(*cols)).alias("cs")
    ).first()["cs"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--batches", type=int, default=10)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    K = args.batches

    spark = get_spark(app_name="index_soak", cpus=args.cpus)
    scratch = tempfile.mkdtemp(prefix="mg_index_soak_")
    idx_name = f"mg_soak_band_index_{os.getpid()}"
    try:
        # ×factor documents, structure-preserving
        small = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        parts = []
        for i in range(args.factor):
            d = small
            for c, e in _copy_expr_documents(i).items():
                d = d.withColumn(c, e)
            parts.append(d)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        docs_path = f"{scratch}/documents.parquet"
        big.write.mode("overwrite").parquet(docs_path)
        docs = spark.read.parquet(docs_path)
        n_docs = docs.count()

        mod = 2 * K
        corpus = docs.where(F.col("doc_id") % mod >= K)
        spark.sql(f"DROP TABLE IF EXISTS {idx_name}")
        t0 = time.monotonic()
        write_bucketed(
            bands_of(corpus, "match_id"), idx_name, "bk", 8, sort_by="bk"
        )
        build_s = time.monotonic() - t0

        cycles = []
        for k in range(K):
            batch = docs.where(F.col("doc_id") % mod == k)
            bb = bands_of(batch, "new_id").localCheckpoint(eager=True)
            idx_files = len(spark.table(idx_name).inputFiles())
            probe_s, n_matched = run_probe(spark, idx_name, bb)
            t0 = time.monotonic()
            write_bucketed(
                bb.select(F.col("new_id").alias("match_id"), "bk"),
                idx_name, "bk", 8, sort_by="bk", mode="append",
            )
            append_s = time.monotonic() - t0
            cycles.append({
                "batch": k,
                "index_files_before_probe": idx_files,
                "probe_seconds": round(probe_s, 3),
                "matched_docs": n_matched,
                "append_seconds": round(append_s, 3),
            })
            print(f"# cycle {k}: files={idx_files} probe={probe_s:.2f}s "
                  f"matched={n_matched} append={append_s:.2f}s", file=sys.stderr)

        # compaction: probe the same last batch before and after
        last = bands_of(docs.where(F.col("doc_id") % mod == K - 1), "new_id")
        last = last.localCheckpoint(eager=True)
        files_before = len(spark.table(idx_name).inputFiles())
        rows_before = spark.table(idx_name).count()
        t_before, _ = run_probe(spark, idx_name, last)
        cs_before = checksum(probe(spark, idx_name, last))
        t0 = time.monotonic()
        files_after = compact_bucketed(spark, idx_name, "bk", 8, sort_by="bk")
        compact_s = time.monotonic() - t0
        rows_after = spark.table(idx_name).count()
        t_after, _ = run_probe(spark, idx_name, last)
        cs_after = checksum(probe(spark, idx_name, last))

        out = {
            "sf_dir": args.sf_dir, "factor": args.factor, "n_docs": n_docs,
            "index_build_seconds": round(build_s, 3),
            "cycles": cycles,
            "compaction": {
                "files_before": files_before, "files_after": files_after,
                "rows_before": rows_before, "rows_after": rows_after,
                "compact_seconds": round(compact_s, 3),
                "probe_seconds_before": round(t_before, 3),
                "probe_seconds_after": round(t_after, 3),
                "checksum_equal": cs_before == cs_after,
            },
        }
        print(json.dumps(out))
        if args.out:
            with open(args.out, "w") as f:
                json.dump(out, f, indent=1)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx_name}")
        spark.sql(f"DROP TABLE IF EXISTS {idx_name}__new")
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
