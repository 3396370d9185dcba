"""Crash matrix for io.fs.publish and the table writes routed through it.

Each scenario is a list of loads. A crash-free run fixes the expected
result and counts the filesystem steps (``write_delta_or_parquet``,
``rename_path``, ``delete_path``). Then, for every step, a fresh run
raises right after that step. The crashed load must leave a readable
table (after ``recover``) or a clean first-load state; retrying it and
running the remaining loads must end with the crash-free rows, with no
duplicates. Faults are injected by monkeypatching the ``io.fs`` and
``io.writers`` functions, not through any engine hook.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mercurygate_spark.catalog import TableSpec
from mercurygate_spark.io import fs, writers
from mercurygate_spark.io.maintenance import compact_parquet
from mercurygate_spark.io.writers import read_delta_or_parquet
from mercurygate_spark.pipeline.silver import (
    merge_upsert_scd,
    merge_upsert_scd2,
    read_scd2_history,
)

STEPS = [(fs, "rename_path"), (fs, "delete_path"), (writers, "write_delta_or_parquet")]
SPEC = TableSpec(
    name="crash_case",
    source_file="claim.txt",
    primary_key=["pk"],
    order_by=["version"],
    rename={},
    ts_columns=[],
)


class Crash(RuntimeError):
    pass


class Faults:
    """Counts every filesystem step; raises right after step number
    ``crash_at`` (0 = never)."""

    def __init__(self, monkeypatch):
        self.crash_at, self.steps = 0, []
        for mod, name in STEPS:
            monkeypatch.setattr(mod, name, self._wrap(getattr(mod, name), name))

    def _wrap(self, real, name):
        def step(*args, **kwargs):
            out = real(*args, **kwargs)
            self.steps.append(name)
            if len(self.steps) == self.crash_at:
                raise Crash(f"after step {self.crash_at} ({name})")
            return out

        return step


@pytest.fixture
def faults(monkeypatch):
    return Faults(monkeypatch)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _table_rows(spark, path):
    """Rows of the recovered table at ``path``; None when absent."""
    fs.recover(spark, path)
    if not fs.path_exists(spark, path):
        return None
    return _rows(read_delta_or_parquet(spark, path))


def _crash_matrix(spark, faults, tmp_path, loads, read=None, check_crashed=None):
    """Run ``loads`` (callables of the table path) crash-free, then once
    per filesystem step with a crash right after it. ``read(path)`` is
    the result compared (default: the recovered table's rows);
    ``check_crashed(path, i, states)`` asserts the state a crash in load
    ``i`` left, given the crash-free states after each load (states[0] =
    before any load). By default the recovered table must be the state
    before or after the crashed load."""
    read = read or (lambda p: _table_rows(spark, p))
    if check_crashed is None:
        def check_crashed(p, i, states):
            assert _table_rows(spark, p) in (states[i], states[i + 1])
    base = str(tmp_path / "free")
    states = [None]
    for load in loads:
        load(base)
        states.append(read(base))
    n_steps = len(faults.steps)
    assert n_steps > 0
    for k in range(1, n_steps + 1):
        path = str(tmp_path / f"crash{k}")
        faults.steps.clear()
        faults.crash_at = k
        crashed = False
        for i, load in enumerate(loads):
            try:
                load(path)
            except Crash:
                crashed = True
                faults.crash_at = 0
                check_crashed(path, i, states)
                load(path)
        assert crashed, f"step {k} of {n_steps} never ran"
        faults.crash_at = 0
        assert read(path) == states[-1], f"crash after step {k}"
    return n_steps


def test_publish_crash_matrix(spark, faults, tmp_path):
    """publish itself: a first publish, then a replace whose frame reads
    the live table (the merge shape)."""
    first = spark.range(0, 40).withColumn("v", F.col("id") % 7)
    extra = spark.range(30, 60).withColumn("v", F.col("id") % 7)

    def load1(p):
        fs.publish(spark, first, p)

    def load2(p):
        fs.recover(spark, p)
        cur = read_delta_or_parquet(spark, p)
        fs.publish(spark, cur.unionByName(extra).distinct(), p)

    n = _crash_matrix(spark, faults, tmp_path, [load1, load2])
    # first publish: write + rename; replace: write + 2 renames + delete
    assert n == 6


def test_scd1_merge_crash_matrix(spark, faults, tmp_path):
    schema = "pk long, version long, payload string, active string"
    gens = [
        [(1, 1, "a", "Y"), (2, 1, "b", "Y"), (3, 1, "c", "Y")],
        [(1, 2, "A", "Y"), (3, 1, "c", "Y"), (4, 1, "d", "Y")],
    ]

    def load(rows):
        return lambda p: merge_upsert_scd(
            spark, spark.createDataFrame(rows, schema), SPEC, p
        )

    _crash_matrix(spark, faults, tmp_path, [load(g) for g in gens])


def test_scd2_merge_crash_matrix(spark, faults, tmp_path):
    """Covers the first load, the closed-rows publish and the open-rows
    publish; after every retry the history equals the crash-free one as
    a multiset, so no version is duplicated."""
    gens = [
        ("2026-01-01 00:00:00", [(1, "a"), (2, "b"), (3, "c")]),
        ("2026-01-02 00:00:00", [(1, "a"), (2, "B"), (4, "d")]),
    ]

    def load(ts, rows):
        return lambda p: merge_upsert_scd2(
            spark, spark.createDataFrame(rows, "k long, v string"),
            ["k"], ["v"], p, ts,
        )

    def history(p):
        return _rows(read_scd2_history(spark, p))

    def check(p, i, states):
        fs.recover(spark, p + "/open")
        if i == 0 and not fs.path_exists(spark, p + "/open"):
            assert not fs.path_exists(spark, p + "/closed")
        else:
            history(p)  # readable

    _crash_matrix(spark, faults, tmp_path, [load(*g) for g in gens], history, check)
    final = history(str(tmp_path / "free"))
    assert len(final) == len(set(final)) == 5


def test_scd2_first_load_refuses_orphan_closed_history(spark, tmp_path):
    p = str(tmp_path / "scd2")
    inc = spark.createDataFrame([(1, "a")], "k long, v string")
    merge_upsert_scd2(spark, inc, ["k"], ["v"], p, "t1")
    merge_upsert_scd2(spark, inc.where("false"), ["k"], ["v"], p, "t2")
    fs.delete_path(spark, p + "/open")
    with pytest.raises(RuntimeError, match="closed history but no open rows"):
        merge_upsert_scd2(spark, inc, ["k"], ["v"], p, "t3")


def test_compact_parquet_crash_matrix(spark, faults, tmp_path):
    src = spark.range(0, 500).withColumn("v", F.col("id") * 3)

    def create(p):  # a plain multi-file write: no publish steps
        if not fs.path_exists(spark, p):
            src.repartition(6).write.parquet(p)

    def compact(p):
        compact_parquet(spark, p, target_file_bytes=512 * 1024 * 1024)

    def read(p):
        return _table_rows(spark, p), len(spark.read.parquet(p).inputFiles())

    def check(p, i, states):
        assert _table_rows(spark, p) == _rows(src)

    n = _crash_matrix(spark, faults, tmp_path, [create, compact], read, check)
    assert n == 4
    assert read(str(tmp_path / "free")) == (_rows(src), 1)


def test_swap_bucketed_recovers_crash_between_renames(spark, monkeypatch):
    """A crash after the live table is renamed aside and before staging
    takes its name: the retry puts the old table back, then completes
    the swap, so the live name ends up holding the new index."""
    from mercurygate_spark.io.bucketing import swap_bucketed, write_bucketed

    name, staging = "mg_swap_crash", "mg_swap_crash__new"
    for t in (name, staging, f"{name}__old"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(spark.range(0, 10).withColumn("gen", F.lit(1)), name, "id", 2)
    write_bucketed(spark.range(0, 20).withColumn("gen", F.lit(2)), staging, "id", 2)

    real_sql = spark.sql

    def crashing_sql(query, *a, **kw):
        if query.startswith(f"ALTER TABLE {staging} RENAME"):
            raise Crash("between the renames")
        return real_sql(query, *a, **kw)

    try:
        monkeypatch.setattr(spark, "sql", crashing_sql)
        with pytest.raises(Crash):
            swap_bucketed(spark, name, staging)
        monkeypatch.undo()
        assert not spark.catalog.tableExists(name)
        swap_bucketed(spark, name, staging)
        live = spark.table(name)
        assert live.count() == 20
        assert {r["gen"] for r in live.collect()} == {2}
        assert not spark.catalog.tableExists(f"{name}__old")
        assert not spark.catalog.tableExists(staging)
    finally:
        monkeypatch.undo()
        for t in (name, staging, f"{name}__old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
