"""The merge's fold job is sized by what it reads: one task per
`FOLD_TASK_BYTES` of the mirror's stored bytes, capped at one per core
and per bucket. The stored bytes come from the manifest, where each fold
task's result row records the size of the file it wrote."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_pq_cdc_spark.streaming.changelog_stream import (
    FLAT_CHANGE_SCHEMA,
    FOLD_TASK_BYTES,
    _fold_groups,
    _read_manifest,
    _stored_bytes,
    merge_mirror_batch,
    mirror_stats,
)


class _EchoTask:
    """A stand-in for BucketTask: one empty result row per bucket."""

    def by_group(self):
        import pyarrow as pa

        from go_pq_cdc_spark.operators.bucket_fold import RESULT_SCHEMA

        def per_bucket(key, _rows):
            return pa.Table.from_pylist(
                [{"pb": key[0].as_py(), "kind": "base", "rows": 0, "bytes": 0}],
                RESULT_SCHEMA,
            )

        return per_bucket


@pytest.fixture()
def fold_tasks(spark, monkeypatch):
    """The task count each `_fold_groups` call shuffles its rows into."""
    seen: list[int] = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    orig = cls.repartition

    def spy(self, n, *cols):
        seen.append(n)
        return orig(self, n, *cols)

    monkeypatch.setattr(cls, "repartition", spy)
    return seen


def _rows(spark, n_buckets: int):
    return spark.range(0, 64).select(
        (F.col("id") % n_buckets).cast("int").alias("pb")
    )


def _fold(spark, stored, n_buckets=32):
    return _fold_groups(_rows(spark, n_buckets), _EchoTask(), n_buckets, stored)


def test_small_mirror_folds_in_one_task(spark, fold_tasks):
    cores = spark.sparkContext.defaultParallelism
    assert cores >= 4
    results = _fold(spark, stored=4 << 20)
    assert fold_tasks == [1]
    assert sorted(r["pb"] for r in results) == list(range(32))


def test_stored_bytes_set_the_task_count(spark, fold_tasks):
    cores = spark.sparkContext.defaultParallelism
    _fold(spark, stored=2 * FOLD_TASK_BYTES + 1)  # k = 3
    _fold(spark, stored=64 * FOLD_TASK_BYTES)  # k = 64: capped by cores
    _fold(spark, stored=64 * FOLD_TASK_BYTES, n_buckets=2)  # capped by buckets
    assert fold_tasks == [min(cores, 32, 3), min(cores, 32), 2]


def test_unknown_stored_bytes_keep_a_task_per_core(spark, fold_tasks):
    _fold(spark, stored=None)
    assert fold_tasks == [min(spark.sparkContext.defaultParallelism, 32)]


def _batch(spark, events):
    return spark.createDataFrame(
        [(op, lsn, lsn, None, pk, val) for op, lsn, pk, val in events],
        FLAT_CHANGE_SCHEMA,
    )


def test_manifest_records_the_bytes_each_fold_wrote(spark, tmp_path):
    state = str(tmp_path / "mirror")
    merge_mirror_batch(
        _batch(spark, [("I", i, i, float(i)) for i in range(1, 201)]), state, n_buckets=8
    )
    merge_mirror_batch(
        _batch(spark, [("U", 300, 5, 5.5), ("D", 301, 6, None)]), state,
        merge_mode="delta",
    )
    m = _read_manifest(state)
    rels = [*m["buckets"].values(), *(r for rs in m["deltas"].values() for r in rs)]
    assert set(m["bytes"]) == set(rels)
    for rel in rels:
        (name,) = os.listdir(os.path.join(state, rel))
        assert m["bytes"][rel] == os.path.getsize(os.path.join(state, rel, name))
    st = mirror_stats(spark, state)
    assert _stored_bytes(m) == st["base_bytes"] + st["delta_bytes"] > 0


def test_manifest_without_sizes_reads_as_unknown():
    m = {"buckets": {"0": "epochs/e1/pb=0", "1": "epochs/e1/pb=1"},
         "bytes": {"epochs/e1/pb=0": 10}}
    assert _stored_bytes(m) is None
    m["bytes"]["epochs/e1/pb=1"] = 5
    assert _stored_bytes(m) == 15
    assert _stored_bytes({"buckets": {}}) == 0
