"""Filesystem operations routed through the Hadoop FileSystem API.

The reference probes and cleans storage with driver-local POSIX calls
(``os.path.exists`` on a cloud mount — mm_bronze_silver.py:206,265;
SURVEY.md §2d-3). That silently breaks on the URIs a 100 TB deployment
actually uses: ``os.path.exists("s3a://...")`` is always False, which
would re-route every incremental load to "first load" and clobber the
table. Every existence probe / delete / size estimate in this engine
goes through ``Path.getFileSystem`` instead, which resolves the right
FileSystem implementation (local, HDFS, S3A, ABFS, ...) from the URI
scheme and the session's Hadoop configuration.

``publish`` is the engine's one way to replace a path-based table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm  # noqa: SLF001 — the public py4j bridge
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-aware existence probe (works on file:, hdfs:, s3a:, ...)."""
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Scheme-aware delete; returns False when the path didn't exist."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, recursive))


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """Scheme-aware rename (move). On local disk and HDFS this is a
    metadata-only directory move, so ``publish`` never re-writes the
    bytes it just staged. On object stores
    without atomic rename (s3a) the FileSystem implementation falls
    back to a server-side copy — still no recompute and no Spark job.
    Raises when the filesystem refuses the rename (e.g. dst exists)."""
    fs, jsrc = _fs_and_path(spark, src)
    _, jdst = _fs_and_path(spark, dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename failed: {src} -> {dst}")


def dir_size_bytes(spark: SparkSession, path: str) -> int:
    """Total byte size under a path (ContentSummary — one namenode/
    object-store listing, no data read)."""
    fs, jpath = _fs_and_path(spark, path)
    return int(fs.getContentSummary(jpath).getLength())


def _sidecars(path: str) -> tuple[str, str]:
    """``publish``'s (staging, aside) dirs next to ``path``. The leading
    dot hides them from Spark's file listing, so a reader of the parent
    dir never sees a half-written or set-aside copy."""
    head, sep, name = path.rstrip("/").rpartition("/")
    hidden = f"{head}{sep}.{name}"
    return hidden + "__staging", hidden + "__prev"


def recover(spark: SparkSession, path: str) -> None:
    """Finish or undo an interrupted ``publish`` of ``path``: a set-aside
    copy comes back when the live dir is missing (else it is stale and
    goes), and a leftover staging dir is dropped. Afterwards ``path``
    either holds a complete table or does not exist."""
    staging, aside = _sidecars(path)
    if path_exists(spark, aside):
        if path_exists(spark, path):
            delete_path(spark, aside)
        else:
            rename_path(spark, aside, path)
    if path_exists(spark, staging):
        delete_path(spark, staging)


def publish(spark: SparkSession, df: DataFrame, path: str) -> str:
    """Replace the table at ``path`` with ``df``, crash-safe: write
    staging, rename the live dir aside, rename staging into place,
    delete the aside copy. At every step either the old or the new
    table is intact on disk, and ``recover`` (run first) puts it back
    under ``path``. ``df`` may read ``path`` itself. Returns the format
    written ('delta' | 'parquet')."""
    from mercurygate_spark.io import writers

    staging, aside = _sidecars(path)
    recover(spark, path)
    fmt = writers.write_delta_or_parquet(df, staging, mode="overwrite")
    replacing = path_exists(spark, path)
    if replacing:
        rename_path(spark, path, aside)
    rename_path(spark, staging, path)
    if replacing:
        delete_path(spark, aside)
    # the renames happened behind Spark's back: drop cached listings
    spark.catalog.refreshByPath(path)
    return fmt
