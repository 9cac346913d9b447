"""One filesystem layer for the mirror's data directories: the bucket
tasks write them through pyarrow.fs, and the driver lists, sizes and
garbage-collects them through the same layer. Spark's Hadoop filesystem
helpers (`streaming.versioned_state._hadoop_fs` and the two built on it)
serve the Spark-written view and dedup state only, so every mirror write
path and `mirror_stats` must work with them broken."""

from __future__ import annotations

import importlib
import os

import pytest

from go_pq_cdc_spark.streaming.changelog_stream import (
    FLAT_CHANGE_SCHEMA,
    _read_manifest,
    compact_mirror,
    merge_mirror_batch,
    mirror_stats,
    read_mirror,
    rebucket_mirror,
)


@pytest.fixture()
def no_hadoop_fs(monkeypatch):
    def broken(*_a, **_kw):
        raise AssertionError("a mirror data dir went through Hadoop FS")

    # raising=False: wherever a copy of the helpers lives, it is broken
    for path in ("changelog_stream", "versioned_state"):
        mod = importlib.import_module(f"go_pq_cdc_spark.streaming.{path}")
        for name in ("_hadoop_fs", "_fs_list_names", "_fs_delete"):
            monkeypatch.setattr(mod, name, broken, raising=False)


def _batch(spark, events):
    return spark.createDataFrame(
        [(op, lsn, lsn, None, pk, val) for op, lsn, pk, val in events],
        FLAT_CHANGE_SCHEMA,
    )


def test_mirror_writes_and_stats_skip_hadoop_fs(spark, tmp_path, no_hadoop_fs):
    """A cow merge, a delta merge, its compaction and a rebucket reach the
    right state; stats size it; GC leaves exactly the live bucket dirs."""
    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [("I", 10 + pk, pk, float(pk)) for pk in range(1, 21)]),
        d, n_buckets=4,
    )
    merge_mirror_batch(
        _batch(spark, [("U", 40, 1, 1.5), ("D", 41, 2, None), ("I", 42, 30, 3.0)]),
        d, merge_mode="delta",
    )
    assert _read_manifest(d).get("deltas")
    assert compact_mirror(spark, d) > 0
    assert rebucket_mirror(spark, d) == 8

    want = {pk: float(pk) for pk in range(1, 21) if pk != 2} | {1: 1.5, 30: 3.0}
    assert {r["pk"]: r["after_val"] for r in read_mirror(spark, d).collect()} == want

    m = _read_manifest(d)
    stats = mirror_stats(spark, d)
    assert stats["n_buckets"] == 8 and stats["delta_files"] == 0
    assert stats["base_files"] == len(m["buckets"]) and stats["base_bytes"] > 0

    eroot = os.path.join(d, "epochs")
    on_disk = {
        os.path.join("epochs", e, b)
        for e in os.listdir(eroot)
        for b in os.listdir(os.path.join(eroot, e))
    }
    assert on_disk == set(m["buckets"].values())


def test_changelog_stream_submodule_is_not_shadowed():
    """The package re-exports no name that hides this submodule, so
    importing it by path (and patching through that name) reaches the
    module's own globals."""
    import types

    import go_pq_cdc_spark.streaming.changelog_stream as cs

    assert isinstance(cs, types.ModuleType)
    assert cs.merge_mirror_batch is merge_mirror_batch
