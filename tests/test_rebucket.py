"""Online rebucketing of the mirror (r9 verdict item 6): N -> 2^k*N
bucket-count migration as one epochs-atomic rewrite under the merge lock
— state-preserving, delta-debt-folding, time-travel-compatible, and
losing cleanly when raced by a merge."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from go_pq_cdc_spark.snapshot.claim_backend import (
    FakeObjectStore,
    ObjectStoreBackend,
)
from go_pq_cdc_spark.streaming.changelog_stream import (
    FLAT_CHANGE_SCHEMA,
    MirrorLockLost,
    _MergeLock,
    _read_manifest,
    lookup_mirror,
    merge_mirror_batch,
    read_mirror,
    read_mirror_as_of,
    rebucket_mirror,
)

import datetime

# slow tier (r13 verdict item 1): excluded from the default pytest run
# so the driver's gate finishes inside its window; run with
# `pytest -m "slow or not slow"` (full) or `-m slow` (this tier only).
pytestmark = pytest.mark.slow


def _ev(op, lsn, xid, pk, val):
    return Row(
        op=op,
        lsn=lsn,
        xid=xid,
        commit_ts=datetime.datetime(2024, 1, 1)
        + datetime.timedelta(seconds=lsn),
        pk=pk,
        after_val=val,
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, FLAT_CHANGE_SCHEMA)


def _state(spark, d):
    return {r["pk"]: r["after_val"] for r in read_mirror(spark, d).collect()}


def test_rebucket_doubles_preserves_state_and_lookup(spark, tmp_path):
    d = str(tmp_path / "m")
    rows = [_ev("I", i, 1, i, float(i)) for i in range(1, 40)]
    merge_mirror_batch(_batch(spark, rows), d)
    # leave merge-on-read debt pending: the rebucket must fold it in
    merge_mirror_batch(
        _batch(spark, [_ev("U", 100, 2, 5, 50.0), _ev("D", 101, 2, 7, None)]),
        d, merge_mode="delta",
    )
    before = _state(spark, d)
    assert before[5] == 50.0 and 7 not in before

    new_n = rebucket_mirror(spark, d, factor=2)
    assert new_n == 64
    m = _read_manifest(d)
    assert m["n_buckets"] == 64
    assert not any(m.get("deltas", {}).values())  # debt folded
    assert _state(spark, d) == before
    # point lookups prune with the NEW count and stay exact
    got = {
        r["pk"]: r["after_val"]
        for r in lookup_mirror(spark, d, [5, 7, 11]).collect()
    }
    assert got == {5: 50.0, 11: 11.0}
    # and the mirror keeps merging normally afterwards (both modes)
    merge_mirror_batch(_batch(spark, [_ev("U", 200, 3, 11, 111.0)]), d)
    merge_mirror_batch(
        _batch(spark, [_ev("I", 201, 3, 99, 9.9)]), d, merge_mode="delta"
    )
    after = _state(spark, d)
    assert after[11] == 111.0 and after[99] == 9.9
    # a merge demanding the OLD count now fails loudly (no silent re-hash)
    with pytest.raises(ValueError, match="rebucket_mirror"):
        merge_mirror_batch(
            _batch(spark, [_ev("I", 300, 4, 1, 1.0)]), d, n_buckets=32
        )


def test_rebucket_factor_must_be_power_of_two(spark, tmp_path):
    d = str(tmp_path / "m")
    merge_mirror_batch(_batch(spark, [_ev("I", 1, 1, 1, 1.0)]), d)
    for bad in (0, 1, 3, 6):
        with pytest.raises(ValueError, match="power of two"):
            rebucket_mirror(spark, d, factor=bad)


def test_rebucket_time_travel_across_epoch(spark, tmp_path):
    """Pre-rebucket snapshot manifests pin the OLD bucket dirs; reads
    through them serve the exact old state while the live manifest is on
    the new layout."""
    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 10, 1, 1, 1.0)]), d, epoch=0, keep_epochs=4
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 1, 2.0), _ev("I", 21, 2, 2, 5.0)]),
        d, epoch=1, merge_mode="delta",
    )
    rebucket_mirror(spark, d)  # epoch 2
    merge_mirror_batch(_batch(spark, [_ev("U", 30, 3, 2, 6.0)]), d, epoch=3)

    def as_of(e):
        return {
            r["pk"]: r["after_val"]
            for r in read_mirror_as_of(spark, d, e).collect()
        }

    assert as_of(0) == {1: 1.0}
    assert as_of(1) == {1: 2.0, 2: 5.0}  # pre-rebucket, delta-folded
    assert as_of(2) == {1: 2.0, 2: 5.0}  # the rebucket epoch itself
    assert as_of(3) == {1: 2.0, 2: 6.0}
    assert _state(spark, d) == {1: 2.0, 2: 6.0}


def test_rebucket_zombie_loses_manifest_cas(
    spark, tmp_path, monkeypatch, mount_backend
):
    """A rebucket racing a merge either queues on the lock (normal) or —
    as a fence-bypassing zombie — loses the manifest CAS at the commit
    point: the peer merge's state survives, the zombie's full-rewrite
    epoch dir is an unreferenced orphan."""
    d = str(tmp_path / "m")
    be = mount_backend(d, ObjectStoreBackend(FakeObjectStore()))
    merge_mirror_batch(_batch(spark, [_ev("I", 1, 1, 1, 1.0)]), d, keep_epochs=2)

    fired = {"done": False}
    in_rebucket = {"active": False}
    orig_read = ObjectStoreBackend.read

    def hooked_read(self, path):
        doc, etag = orig_read(self, path)
        if (
            not fired["done"]
            and in_rebucket["active"]
            and path == f"{d}/manifest.json"
            and doc is not None
        ):
            # between the rebucket's manifest read and its commit, a
            # peer merge commits through the same store
            fired["done"] = True
            in_rebucket["active"] = False
            merge_mirror_batch(
                _batch(spark, [_ev("U", 5, 5, 1, 55.0)]),
                d,
                lock_ttl_s=0.0,
            )
        return doc, etag

    monkeypatch.setattr(ObjectStoreBackend, "read", hooked_read)
    monkeypatch.setattr(_MergeLock, "check_owned", lambda self: None)
    in_rebucket["active"] = True
    with pytest.raises(MirrorLockLost):
        rebucket_mirror(spark, d)
    # peer's merge intact, bucket count unchanged
    assert _state(spark, d) == {1: 55.0}
    m, _ = be.read(f"{d}/manifest.json")
    assert m["n_buckets"] == 32


def test_mirror_stats_reports_debt_and_sizing(spark, tmp_path):
    """mirror_stats closes the sizing loop: live byte size + per-bucket
    delta debt from manifest-referenced paths only (no Spark job), and a
    rebucket recommendation via suggest_mirror_buckets."""
    from go_pq_cdc_spark.streaming.changelog_stream import mirror_stats

    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", i, 1, i, float(i)) for i in range(1, 30)]), d
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 100, 2, 5, 50.0)]), d, merge_mode="delta"
    )
    st = mirror_stats(spark, d)
    assert st["n_buckets"] == 32 and st["epoch"] == 1
    assert st["base_bytes"] > 0 and st["base_files"] > 0
    assert st["delta_bytes"] > 0 and st["delta_files"] >= 1
    assert sum(st["delta_debt"].values()) == 1
    assert st["suggested_buckets"] == 32  # tiny state: default floor
    # compaction clears the reported debt
    from go_pq_cdc_spark.streaming.changelog_stream import rebucket_mirror

    rebucket_mirror(spark, d)
    st2 = mirror_stats(spark, d)
    assert st2["delta_debt"] == {} and st2["delta_bytes"] == 0
    assert st2["n_buckets"] == 64


def test_maintenance_auto_rebucket_opt_in(spark, tmp_path):
    """r11 verdict item 8: run_mirror_maintenance(auto_rebucket=True)
    executes the recommended rebucket inside the policy pass (under the
    merge lock rebucket_mirror takes) with the smallest power-of-two
    factor reaching suggested_buckets; the default arm still only
    surfaces the recommendation. Answers must be identical across the
    auto-rebucket."""
    from go_pq_cdc_spark.streaming.changelog_stream import (
        run_mirror_maintenance,
    )

    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", i, 1, i, float(i)) for i in range(1, 60)]), d
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 100, 2, 5, 50.0), _ev("D", 101, 2, 9, None)]),
        d, merge_mode="delta",
    )
    before = _state(spark, d)

    # default arm: recommendation surfaced, bucket count untouched
    st = run_mirror_maintenance(spark, d, target_rewrite_bytes=1024)
    assert st["rebucket_recommended"] is True
    assert "rebucket_performed" not in st
    assert st["n_buckets"] == 32
    suggested = st["suggested_buckets"]
    assert suggested > 32

    # opt-in arm: the rebucket runs, reaches the suggestion in ONE
    # rewrite, reports itself, and preserves every answer
    reports = []
    st2 = run_mirror_maintenance(
        spark, d, target_rewrite_bytes=1024, auto_rebucket=True,
        on_maintenance=reports.append,
    )
    assert st2["rebucket_performed"] == st2["n_buckets"]
    assert st2["n_buckets"] >= suggested
    assert reports and reports[-1]["rebucket_performed"] == st2["n_buckets"]
    assert _state(spark, d) == before
    assert _read_manifest(d)["n_buckets"] == st2["n_buckets"]

    # next tick under a sane target: no recommendation, no rewrite
    st3 = run_mirror_maintenance(spark, d, auto_rebucket=True)
    assert "rebucket_performed" not in st3
    assert st3["rebucket_recommended"] is False
    assert _state(spark, d) == before
