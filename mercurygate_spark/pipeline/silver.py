"""Silver layer (SURVEY.md §3 EP2 + §2b realizations).

Reference behavior: read bronze across all dateParts, rename ~140
columns, flag active='Y', overwrite Delta (mm_bronze_silver.py:
204-275). This engine adds what the reference only declares:

- consistent typing of ALL timestamp columns on EVERY path
  (fixes §2d-4 — the reference types one column, first load only);
- pk-latest dedupe using the catalog's primary_key/order_by
  (config.py:36-72 intent, never implemented there);
- merge-upsert + SCD soft delete: existing keys updated, new keys
  inserted, vanished keys kept with active='N' (the reference writes
  active='Y' forever and never flips it — mm_bronze_silver.py:222).

Merge is implemented Delta-free as anti-join + union, published with
io.fs.publish: at every step of a load either the old or the new table
is intact on disk, and the next load recovers it before it reads.
At scale both sides shuffle once on the pk; AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mercurygate_spark.catalog import TableSpec
from mercurygate_spark.io.fs import path_exists, publish, recover
from mercurygate_spark.io.writers import read_delta_or_parquet
from mercurygate_spark.pipeline.conform import (
    add_soft_delete_flag,
    dedupe_latest,
    rename_conform,
    type_timestamps,
)


def conform(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Bronze → silver shape: single-projection rename, type ALL
    declared timestamp columns, soft-delete flag. Pure; applied
    identically on initial and refresh paths."""
    out = rename_conform(df, spec.rename, keep_unmapped=True)
    out = type_timestamps(out, spec.ts_columns)
    return add_soft_delete_flag(out)


def publish_snapshot(df: DataFrame, spec: TableSpec, path: str) -> str:
    """Reference-parity publish: dedupe to latest per pk, then
    replace the table (the reference's snapshot-replace, K2)."""
    latest = dedupe_latest(df, spec.primary_key, spec.order_by, tiebreakers=None)
    return publish(df.sparkSession, latest, path)


def merge_upsert_scd(
    spark: SparkSession,
    incoming: DataFrame,
    spec: TableSpec,
    path: str,
    soft_delete_missing: bool = True,
) -> DataFrame:
    """Incremental publish realizing the declared registry intent
    (SURVEY.md §2b): latest-per-pk incoming rows win over existing.
    Keys absent from the extract are retained; with
    ``soft_delete_missing`` (SNAPSHOT extracts — absence means the row
    is gone upstream) they're flagged active='N', without it (DELTA
    extracts — absence just means unchanged) they keep their flag.
    Returns the new current table (also written).

    Plan: union(existing, dedupe(incoming)) → latest-per-pk dedupe
    (order_by decides between existing and incoming — a late-arriving
    OLDER row can never regress the table; incoming wins exact ties) →
    soft-delete flagging. One shuffle per side; no driver-side state.

    Path probes and the publish go through the Hadoop FileSystem API
    (io.fs) so the first-load/refresh routing works on s3a://,
    abfss://, hdfs:// — not just the driver's local disk (the
    reference's os.path.exists bug, SURVEY.md §2d-3)."""
    incoming_latest = dedupe_latest(incoming, spec.primary_key, spec.order_by)
    recover(spark, path)
    if not path_exists(spark, path):
        publish(spark, incoming_latest, path)
        return incoming_latest
    existing = read_delta_or_parquet(spark, path)
    all_rows = existing.withColumn("__src", F.lit(0)).unionByName(
        incoming_latest.withColumn("__src", F.lit(1)), allowMissingColumns=True
    )
    current = dedupe_latest(
        all_rows, spec.primary_key, spec.order_by, tiebreakers=["__src"]
    ).drop("__src")
    if soft_delete_missing:
        incoming_keys = incoming_latest.select(spec.primary_key).distinct()
        current = current.join(
            incoming_keys.withColumn("__present", F.lit(1)), spec.primary_key, "left"
        ).withColumn(
            "active", F.when(F.col("__present").isNull(), F.lit("N")).otherwise(F.col("active"))
        ).drop("__present")
    publish(spark, current, path)
    return read_delta_or_parquet(spark, path)


def _scd2_dirs(path: str) -> tuple[str, str]:
    """The SCD2 table's two physical parts: ``open/`` (the live version
    per key, republished each load) and ``closed/`` (finished versions,
    one write-once directory per load — see _closed_dir)."""
    root = path.rstrip("/")
    return root + "/open", root + "/closed"


def _closed_dir(c_dir: str, load_ts: str) -> str:
    """The directory holding the versions closed by the load at
    ``load_ts``. Raw timestamps carry ':' and spaces, which Hadoop
    ``Path`` and partition discovery misread, so the name is the hex
    of the timestamp's UTF-8 bytes (injective, [0-9a-f] only)."""
    return f"{c_dir}/{load_ts.encode().hex()}"


def read_scd2_history(spark: SparkSession, path: str) -> DataFrame:
    """Full SCD2 history = open ∪ closed. The ONLY reader of the
    closed part — the merge itself never scans it. Each per-load dir
    is written once, so a recursive parquet listing of ``closed/`` is
    exactly its rows (hidden publish sidecars are not listed); closed
    rows carry the open rows' schema."""
    o_dir, c_dir = _scd2_dirs(path)
    out = read_delta_or_parquet(spark, o_dir)
    if path_exists(spark, c_dir):
        closed = spark.read.schema(out.schema).option("recursiveFileLookup", "true")
        out = out.unionByName(closed.parquet(c_dir))
    return out


def merge_upsert_scd2(
    spark: SparkSession,
    incoming: DataFrame,
    pk: list[str],
    tracked: list[str],
    path: str,
    load_ts: str,
    order_by: list[str] | None = None,
) -> DataFrame:
    """Full type-2 slowly-changing-dimension merge — the reference's
    active='Y' intent (mm_bronze_silver.py:222) taken to its
    production conclusion (VERDICT r11 next #5): instead of one
    current row per key with a flag, the table keeps EVERY version as
    a row spanning [valid_from, valid_to), with valid_to NULL (open)
    and is_current=true on the live version.

    Per load (snapshot semantics — absence means gone upstream):
    - NEW key            → insert (valid_from=load_ts, open);
    - CHANGED tracked    → close the open row (valid_to=load_ts) and
      insert the new version (open);
    - UNCHANGED          → untouched (idempotent: replaying the same
      snapshot is a no-op — pinned by test_merge_semantics);
    - VANISHED key       → close the open row, no successor.
    Closed history rows are never rewritten — PHYSICALLY: the table
    is two parts (``path/open`` and ``path/closed``, see _scd2_dirs);
    the merge reads ONLY the open rows, publishes the newly closed
    versions to their own ``closed/`` dir, then publishes the new open
    set. Per load the scan volume is O(live keys) and the write volume
    is O(live keys + changes), not O(full history).

    Crash safety: both writes go through io.fs.publish, and a load's
    closed dir is skipped when it already exists, so re-running a load
    (after a crash at any step, or after it succeeded) converges to
    the crash-free history with no duplicate versions.

    Plan: reduce incoming to ONE row per pk first (order_by DESC when
    supplied, else a deterministic md5 pick — same contract as
    merge_upsert_scd; a duplicate-pk incoming would otherwise fan out
    the full-outer join and insert multiple open rows per key,
    breaking the ≤1-open-row invariant), then ONE full-outer join
    between the open rows and that latest-per-pk incoming on the pk
    (both sides shuffle once; AQE handles skew), a null-safe struct
    comparison over the tracked columns (null-safe so a NULL→value
    transition counts as a change). Timestamps are caller-supplied
    strings so replay/backfill is deterministic — no wall-clock reads
    inside the merge."""
    incoming = dedupe_latest(incoming, pk, order_by or []).select(*pk, *tracked)
    o_dir, c_dir = _scd2_dirs(path)

    def open_row(df: DataFrame) -> DataFrame:
        return df.select(
            *pk,
            *tracked,
            F.lit(load_ts).alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    recover(spark, o_dir)
    if not path_exists(spark, o_dir):
        if path_exists(spark, c_dir):
            raise RuntimeError(
                f"SCD2 table {path} has closed history but no open rows; "
                "refusing to rebuild it as a first load"
            )
        publish(spark, open_row(incoming), o_dir)
        return read_scd2_history(spark, path)

    # the merge scans ONLY the live rows; closed history stays on disk
    cur = read_delta_or_parquet(spark, o_dir).where(F.col("is_current"))

    inc = incoming.select(*pk, *tracked)
    tracked_struct = lambda side: F.struct(  # noqa: E731
        *[F.col(f"{side}.{c}") for c in tracked]
    )
    # presence of the incoming side can't key off a tracked column
    # (it may legitimately be NULL) — use a sentinel presence flag
    j = cur.alias("c").join(
        inc.withColumn("__in", F.lit(1)).alias("i"), pk, "full_outer"
    )
    in_cur = F.col("c.valid_from").isNotNull()
    in_inc = F.col("i.__in").isNotNull()
    same = tracked_struct("c").eqNullSafe(tracked_struct("i"))

    unchanged = j.where(in_cur & in_inc & same).select("c.*")
    to_close = j.where(in_cur & (~in_inc | ~same)).select("c.*").withColumn(
        "valid_to", F.lit(load_ts)
    ).withColumn("is_current", F.lit(False))
    to_insert = open_row(
        j.where(in_inc & (~in_cur | ~same)).select(
            *pk, *[F.col(f"i.{c}").alias(c) for c in tracked]
        )
    )
    # closed rows publish BEFORE open/: to_close reads the open rows
    # this load replaces. An existing closed dir is already complete.
    closed_dir = _closed_dir(c_dir, load_ts)
    if not path_exists(spark, closed_dir):
        publish(spark, to_close, closed_dir)
    publish(spark, unchanged.unionByName(to_insert), o_dir)
    return read_scd2_history(spark, path)
