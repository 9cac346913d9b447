"""Merge-on-read delta arm of the mirror (r9 verdict item 1).

The COW merge rewrites every affected bucket in full per micro-batch;
with uniform pk-hash bucketing any batch ≳ n_buckets rows touches ALL
buckets, so steady-state write volume scales with MIRROR size. The delta
arm appends per-epoch delta files for touched buckets (write ∝ BATCH),
folds base+deltas at read with the exact COW fold semantics, and
compacts a bucket only when its delta debt crosses the budget.

Scenarios here pin:
  * read equivalence COW vs delta over the same event log (TOAST NULLs,
    deletes, replay duplicates, multi-batch)
  * the scale property itself: bytes-written-per-batch ∝ batch, not
    state, on a state >> batch fixture
  * compaction triggers at the budget and clears the debt
  * TRUNCATE kills delta debt with the state
  * idempotent replay, point lookups, time travel, GC retention of
    referenced delta dirs, schema evolution and drops over the delta
    arm, mixed-mode (COW folds pending deltas), and object-store
    coordination parity
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from go_pq_cdc_spark.snapshot.claim_backend import (
    FakeObjectStore,
    ObjectStoreBackend,
)
from go_pq_cdc_spark.streaming.changelog_stream import (
    FLAT_CHANGE_SCHEMA,
    _bucket_col,
    _read_manifest,
    lookup_mirror,
    merge_mirror_batch,
    read_mirror,
    read_mirror_as_of,
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


def _state(spark, state_dir):
    return {
        r["pk"]: (r["after_val"], r["lsn"])
        for r in read_mirror(spark, state_dir).collect()
    }


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# Event log exercising every fold rule: insert, TOAST-unchanged update
# (NULL value inherits), real update, delete, reinsert after delete,
# replayed duplicate event.
_LOG = [
    [_ev("I", 10, 1, 1, 1.0), _ev("I", 11, 1, 2, 2.0), _ev("I", 12, 1, 3, 3.0)],
    [_ev("U", 20, 2, 1, None), _ev("U", 21, 2, 2, 2.5), _ev("D", 22, 2, 3, None)],
    # replay of (21) + reinsert of deleted pk 3 + fresh pk 4
    [_ev("U", 21, 2, 2, 2.5), _ev("I", 30, 3, 3, 3.5), _ev("I", 31, 3, 4, 4.0)],
]
_LOG_FINAL = {1: (1.0, 20), 2: (2.5, 21), 3: (3.5, 30), 4: (4.0, 31)}


def test_delta_reads_equal_cow_over_same_log(spark, tmp_path):
    """The core contract: a delta-merged mirror reads IDENTICAL to a
    COW-merged one over the same event log — TOAST inheritance across
    the base/delta boundary, deletes, and replayed duplicates included
    (the fold is the same `fold_bucket`, applied at read instead of at
    write)."""
    cow, delta = str(tmp_path / "cow"), str(tmp_path / "delta")
    for rows in _LOG:
        merge_mirror_batch(_batch(spark, rows), cow)
        merge_mirror_batch(_batch(spark, rows), delta, merge_mode="delta")
    assert _state(spark, cow) == _LOG_FINAL
    assert _state(spark, delta) == _LOG_FINAL
    # delta debt actually exists (the arm exercised merge-on-read)
    m = _read_manifest(delta)
    assert any(m.get("deltas", {}).values())
    # point lookups fold too
    got = {
        r["pk"]: r["after_val"]
        for r in lookup_mirror(spark, delta, [1, 3]).collect()
    }
    assert got == {1: 1.0, 3: 3.5}
    # a pk deleted and not reinserted reads absent through the fold
    merge_mirror_batch(
        _batch(spark, [_ev("D", 40, 4, 4, None)]), delta, merge_mode="delta"
    )
    assert 4 not in _state(spark, delta)
    assert lookup_mirror(spark, delta, [4]).count() == 0


def test_delta_write_volume_scales_with_batch_not_state(spark, tmp_path):
    """THE scale property (r9 verdict item 1 'Done=' clause): on a
    state >> batch mirror, a delta merge's bytes-written is a small
    fraction of the COW merge's (which rewrites every affected bucket —
    here ALL buckets, since the batch spans them)."""
    cow, delta = str(tmp_path / "cow"), str(tmp_path / "delta")
    # state: 20k rows across all 32 buckets
    big = (
        spark.range(20_000)
        .select(
            F.lit("I").alias("op"),
            (F.col("id") + 100).alias("lsn"),
            F.lit(1).cast("long").alias("xid"),
            F.lit(None).cast("timestamp").alias("commit_ts"),
            F.col("id").alias("pk"),
            (F.col("id") * 1.5).alias("after_val"),
        )
    )
    for d in (cow, delta):
        merge_mirror_batch(big, d)
    base_bytes = _dir_bytes(os.path.join(cow, "epochs"))
    # batch: 200 rows spread over pks 0..20k — touches ~all buckets
    small = (
        spark.range(200)
        .select(
            F.lit("U").alias("op"),
            (F.col("id") + 50_000).alias("lsn"),
            F.lit(2).cast("long").alias("xid"),
            F.lit(None).cast("timestamp").alias("commit_ts"),
            (F.col("id") * 100).alias("pk"),
            (F.col("id") * 2.0).alias("after_val"),
        )
    )
    pre_cow = _dir_bytes(os.path.join(cow, "epochs"))
    merge_mirror_batch(small, cow, keep_epochs=2)  # retain: no GC of old epoch
    cow_written = _dir_bytes(os.path.join(cow, "epochs")) - pre_cow
    pre_delta = _dir_bytes(os.path.join(delta, "epochs"))
    merge_mirror_batch(small, delta, keep_epochs=2, merge_mode="delta")
    delta_written = _dir_bytes(os.path.join(delta, "epochs")) - pre_delta
    # COW rewrote ~the whole 20k-row state; delta wrote ~the 200-row batch
    assert cow_written > 0.5 * base_bytes
    assert delta_written < cow_written / 5
    # both still answer identically
    assert _state(spark, cow) == _state(spark, delta)


def test_compaction_triggers_at_budget_and_clears_debt(spark, tmp_path):
    """A bucket whose pending delta count reaches `compact_deltas` is
    folded and rewritten inside the same merge; its debt clears, reads
    stay identical, and the read plan for that bucket is fold-free
    again."""
    d = str(tmp_path / "m")
    # all events on one pk -> one bucket accumulates debt
    for i in range(4):
        merge_mirror_batch(
            _batch(spark, [_ev("U" if i else "I", 10 + i, 1, 7, float(i))]),
            d,
            merge_mode="delta",
            compact_deltas=3,
        )
        m = _read_manifest(d)
        debts = [len(v) for v in m.get("deltas", {}).values() if v]
        # debt never exceeds the budget: the merge that would push a
        # bucket past it compacts instead
        assert all(n <= 3 for n in debts)
    m = _read_manifest(d)
    # 4 merges at budget 3: appends at 1,2,3 then compaction on the 4th
    assert not any(m.get("deltas", {}).values())
    assert _state(spark, d)[7] == (3.0, 13)
    # post-compaction merge starts a fresh debt cycle
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 7, 9.0)]), d,
        merge_mode="delta", compact_deltas=3,
    )
    m = _read_manifest(d)
    assert sum(len(v) for v in m.get("deltas", {}).values()) == 1
    assert _state(spark, d)[7] == (9.0, 20)


def test_truncate_kills_delta_debt_with_state(spark, tmp_path):
    """TRUNCATE takes the full-rewrite path in either mode: all stored
    state AND all pending delta debt die; only events strictly after the
    truncate survive."""
    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 10, 1, 1, 1.0), _ev("I", 11, 1, 2, 2.0)]),
        d, merge_mode="delta",
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 1, 1.5)]), d, merge_mode="delta"
    )
    assert any(_read_manifest(d).get("deltas", {}).values())
    trunc = _batch(
        spark, [_ev("T", 30, 3, None, None), _ev("I", 31, 3, 5, 5.0)]
    )
    merge_mirror_batch(trunc, d, merge_mode="delta")
    assert _state(spark, d) == {5: (5.0, 31)}
    assert not any(_read_manifest(d).get("deltas", {}).values())


def test_delta_merge_idempotent_replay(spark, tmp_path):
    """At-least-once replay in delta mode: re-merging an identical batch
    appends duplicate delta events, and the read-side (pk, lsn, txn_seq)
    dedup folds them away — same state, byte-for-byte."""
    d = str(tmp_path / "m")
    rows = [_ev("I", 1, 10, 1, 1.0), _ev("U", 2, 10, 1, 2.0)]
    merge_mirror_batch(_batch(spark, rows), d, merge_mode="delta")
    first = sorted(read_mirror(spark, d).collect())
    merge_mirror_batch(_batch(spark, rows), d, merge_mode="delta")
    second = sorted(read_mirror(spark, d).collect())
    assert first == second == [Row(pk=1, lsn=2, op="R", after_val=2.0)]


def test_cow_merge_folds_and_clears_pending_deltas(spark, tmp_path):
    """Modes compose: a COW merge over a mirror with pending deltas must
    fold the delta events in (NOT lose them) and clear the debt for the
    buckets it rewrites."""
    d = str(tmp_path / "m")
    merge_mirror_batch(_batch(spark, [_ev("I", 10, 1, 1, 1.0)]), d)
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 1, None), _ev("I", 21, 2, 2, 2.0)]),
        d, merge_mode="delta",
    )  # TOAST NULL on pk 1 rides in a delta file
    pre = _read_manifest(d)
    debt_buckets = {b for b, rels in pre.get("deltas", {}).items() if rels}
    assert debt_buckets  # both pk 1's and pk 2's buckets owe debt
    # COW merge touching pk 1: ANOTHER TOAST NULL — the fold must chain
    # through the delta event (also NULL) down to the base value 1.0
    merge_mirror_batch(_batch(spark, [_ev("U", 30, 3, 1, None)]), d)  # COW
    assert _state(spark, d) == {1: (1.0, 30), 2: (2.0, 21)}
    m = _read_manifest(d)
    # pk 1's bucket was rewritten by the COW merge -> its debt cleared;
    # untouched buckets (pk 2's, if it hashes elsewhere) keep theirs
    from go_pq_cdc_spark.streaming.changelog_stream import _bucket_col

    pk1_b = str(
        spark.createDataFrame([(1,)], "pk bigint")
        .select(_bucket_col("pk", int(m["n_buckets"])).alias("b"))
        .collect()[0]["b"]
    )
    assert not m.get("deltas", {}).get(pk1_b)
    assert pk1_b in m["buckets"]


def test_time_travel_and_gc_retention_across_delta_epochs(spark, tmp_path):
    """read_mirror_as_of folds the deltas RECORDED AT that epoch; GC
    retains delta dirs referenced by any retained manifest snapshot."""
    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 10, 1, 1, 1.0)]), d, epoch=0, keep_epochs=4
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 1, 2.0)]), d, epoch=1,
        merge_mode="delta",
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 30, 3, 1, 3.0), _ev("I", 31, 3, 2, 9.0)]),
        d, epoch=2, merge_mode="delta",
    )
    as_of = lambda e: {
        r["pk"]: r["after_val"] for r in read_mirror_as_of(spark, d, e).collect()
    }
    assert as_of(0) == {1: 1.0}
    assert as_of(1) == {1: 2.0}
    assert as_of(2) == {1: 3.0, 2: 9.0}
    assert _state(spark, d)[1] == (3.0, 30)


def test_schema_evolution_and_drop_over_delta_arm(spark, tmp_path):
    """Widening evolution with delta merges: pre-DDL delta files read
    NULL/promoted under the widened pin; a dropped column masks dead
    through the fold (delta-stored values never resurrect)."""
    d = str(tmp_path / "m")

    def b(rows, ddl):
        return spark.createDataFrame(rows, f"op string, lsn bigint, pk bigint, {ddl}")

    merge_mirror_batch(
        b([("I", 10, 1, "a", 1)], "name string, qty int"), d,
        value_cols=("name", "qty"), merge_mode="delta",
    )
    # widen qty int->bigint + add note, via a delta merge (TOAST NULL on
    # name inherits 'a' across the pre-DDL delta file)
    merge_mirror_batch(
        b([("U", 20, 1, None, 5, "hello")], "name string, qty bigint, note string"),
        d, value_cols=("name", "qty", "note"), evolve_schema=True,
        merge_mode="delta",
    )
    row = read_mirror(spark, d).collect()[0]
    assert (row["name"], row["qty"], row["note"]) == ("a", 5, "hello")
    assert dict(row.asDict())["qty"] == 5
    # drop note: delta-stored 'hello' must read NULL from the drop epoch
    merge_mirror_batch(
        b([("U", 30, 1, None, 7)], "name string, qty bigint"), d,
        value_cols=("name", "qty"), evolve_schema=True,
        dropped_cols=("note",), merge_mode="delta",
    )
    row = read_mirror(spark, d).collect()[0]
    assert (row["name"], row["qty"], row["note"]) == ("a", 7, None)


def test_delta_arm_on_object_store_backend(spark, tmp_path, mount_backend):
    """Coordination parity: the delta manifest fields ride the same
    ClaimBackend CAS commit as COW (FakeObjectStore enforces real etag
    semantics), and the data dirs stay Spark-filesystem."""
    d = str(tmp_path / "m")
    mount_backend(d, ObjectStoreBackend(FakeObjectStore()))
    for rows in _LOG:
        merge_mirror_batch(_batch(spark, rows), d, merge_mode="delta")
    assert {
        r["pk"]: (r["after_val"], r["lsn"])
        for r in read_mirror(spark, d).collect()
    } == _LOG_FINAL
    m = _read_manifest(d)
    assert any(m.get("deltas", {}).values())


def test_compact_mirror_explicit_maintenance(spark, tmp_path):
    """compact_mirror folds every indebted bucket's base+deltas without
    waiting for a batch to touch it (the OPTIMIZE idiom): debt clears,
    state is byte-identical, deletes riding only in deltas apply, and a
    debt-free mirror is a no-op."""
    from go_pq_cdc_spark.streaming.changelog_stream import compact_mirror

    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", 10, 1, 1, 1.0), _ev("I", 11, 1, 2, 2.0)]), d
    )
    merge_mirror_batch(
        _batch(spark, [_ev("U", 20, 2, 1, None), _ev("D", 21, 2, 2, None),
                       _ev("I", 22, 2, 3, 3.0)]),
        d, merge_mode="delta",
    )
    before = _state(spark, d)
    assert before == {1: (1.0, 20), 3: (3.0, 22)}
    n = compact_mirror(spark, d)
    assert n >= 1
    m = _read_manifest(d)
    assert not any(m.get("deltas", {}).values())
    assert _state(spark, d) == before
    # pk 2's bucket: if its base emptied entirely it left the manifest;
    # either way the key is gone
    assert 2 not in _state(spark, d)
    # idempotent: nothing owed -> no-op, epoch unchanged
    e = m["epoch"]
    assert compact_mirror(spark, d) == 0
    assert _read_manifest(d)["epoch"] == e
    # min_deltas threshold respected
    merge_mirror_batch(
        _batch(spark, [_ev("U", 30, 3, 1, 5.0)]), d, merge_mode="delta"
    )
    assert compact_mirror(spark, d, min_deltas=2) == 0
    assert compact_mirror(spark, d, min_deltas=1) >= 1
    assert _state(spark, d)[1] == (5.0, 30)


def test_bucket_files_are_pk_sorted(spark, tmp_path):
    """Every state write lays each bucket out as exactly ONE pk-ascending
    file, so parquet row-group min/max stats on pk prune point lookups
    INSIDE the bucket-pruned file (free at write, pays once buckets
    outgrow one row group). More buckets than the session's cores, so
    writer tasks each carry several buckets — still one file apiece —
    through the cow merge, a compaction and a rebucket."""
    import pyarrow.parquet as pq

    from go_pq_cdc_spark.streaming.changelog_stream import (
        compact_mirror,
        rebucket_mirror,
    )

    n = 16
    assert spark.sparkContext.defaultParallelism < n

    def check_buckets(sd, expect):
        man = _read_manifest(sd)
        assert len(man["buckets"]) == expect
        for rel in man["buckets"].values():
            bdir = os.path.join(sd, rel)
            files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
            assert len(files) == 1, f"bucket {rel} holds {len(files)} files"
            pks = pq.read_table(os.path.join(bdir, files[0]), columns=["pk"])["pk"].to_pylist()
            assert pks == sorted(pks), f"unsorted bucket file {rel}/{files[0]}"

    sd = str(tmp_path / "m")
    rows = [_ev("I", i + 1, 1, (i * 2654435761) % 4096, float(i)) for i in range(800)]
    merge_mirror_batch(_batch(spark, rows), sd, n_buckets=n)
    check_buckets(sd, n)
    upd = [_ev("U", 1000 + i, 2, (i * 2654435761) % 4096, -float(i)) for i in range(0, 800, 7)]
    merge_mirror_batch(_batch(spark, upd), sd, merge_mode="delta")
    assert compact_mirror(spark, sd) > 0
    check_buckets(sd, n)
    assert rebucket_mirror(spark, sd, factor=2) == 2 * n
    check_buckets(sd, 2 * n)


def test_cow_merge_runs_at_most_two_spark_jobs(spark, tmp_path):
    """A cow merge is ONE grouped-map Spark job over the batch (each
    bucket's task reads its files, folds and writes), which adaptive
    execution submits as two jobs: the shuffle map stage and the result
    stage. No cache fill, no routing aggregate, no separate write job —
    however many buckets the batch touches."""
    d = str(tmp_path / "m")
    merge_mirror_batch(
        _batch(spark, [_ev("I", i + 1, 1, i, float(i)) for i in range(400)]), d
    )
    # updates (half TOAST-unchanged) and deletes spread over ~all buckets
    batch = _batch(spark, [
        _ev("D" if i % 7 == 0 else "U", 1000 + i, 2, i,
            None if i % 2 else -float(i))
        for i in range(0, 400, 3)
    ])
    touched = {
        r["b"]
        for r in batch.select(_bucket_col("pk", 32).alias("b")).distinct().collect()
    }
    assert len(touched) >= 24
    sc = spark.sparkContext
    group = f"cow-merge-{os.getpid()}-{id(batch)}"
    sc.setJobGroup(group, "one cow merge")
    try:
        merge_mirror_batch(batch, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, f"cow merge ran {len(jobs)} Spark jobs"
    want = {i: (float(i), i + 1) for i in range(400)}
    for i in range(0, 400, 3):
        if i % 7 == 0:
            del want[i]
        elif i % 2 == 0:
            want[i] = (-float(i), 1000 + i)
        else:
            want[i] = (float(i), 1000 + i)  # TOAST NULL inherits
    assert _state(spark, d) == want


def test_auto_maintenance_policy_compacts_and_recommends(spark, tmp_path):
    """r10 verdict item 6: the opt-in maintenance policy wired into
    mirror_sink must drive lingering delta debt back under budget WITHOUT
    any user maintenance call, and surface (never execute) a rebucket
    recommendation through the observability listener."""
    import shutil

    from go_pq_cdc_spark.observability import CdcMetricsListener
    from go_pq_cdc_spark.streaming.changelog_stream import (
        file_change_stream,
        mirror_sink,
        mirror_stats,
    )

    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    # base state the deltas accumulate against
    merge_mirror_batch(
        _batch(spark, [_ev("I", pk, 1, pk, float(pk)) for pk in range(1, 33)]),
        state,
    )

    listener = CdcMetricsListener()
    reports: list[dict] = []

    def on_maint(stats):
        reports.append(stats)
        listener.record_mirror(stats)

    def write_file(rows, i):
        df = _batch(spark, rows)
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(in_dir, f"b{i}")
        )

    stream = file_change_stream(spark, in_dir + "/*")
    q = mirror_sink(
        stream,
        state,
        ckpt,
        merge_mode="delta",
        compact_deltas=100,  # inline budget never fires: debt LINGERS
        maintain_every=2,
        maintain_min_deltas=2,
        maintain_target_rewrite_bytes=1,  # any real state -> recommend
        on_maintenance=on_maint,
    )
    try:
        # two micro-batches updating the same keys: debt reaches 2 per
        # touched bucket, then the policy pass at batch 2 compacts it
        write_file([_ev("U", 100 + pk, 2, pk, pk * 10.0) for pk in range(1, 9)], 0)
        q.processAllAvailable()
        write_file([_ev("U", 200 + pk, 3, pk, pk * 100.0) for pk in range(1, 9)], 1)
        q.processAllAvailable()
    finally:
        q.stop()

    assert reports, "policy never ran"
    stats = mirror_stats(spark, state)
    assert not stats["delta_debt"], f"debt survived the policy: {stats['delta_debt']}"
    # the policy compacted without changing the answer
    got = {r["pk"]: r["after_val"] for r in read_mirror(spark, state).collect()}
    want = {pk: float(pk) for pk in range(9, 33)}
    want.update({pk: pk * 100.0 for pk in range(1, 9)})
    assert got == want
    # recommendation SURFACED (tiny target forces it), bucket count UNCHANGED
    assert reports[-1]["rebucket_recommended"] is True
    assert stats["n_buckets"] == 32
    assert listener.get_status()["mirror"]["rebucket_recommended"] is True
    assert "go_pq_cdc_spark_mirror_rebucket_recommended 1" in listener.prometheus_text()

    shutil.rmtree(ckpt, ignore_errors=True)


def test_maintenance_failure_does_not_fail_the_batch(spark, tmp_path):
    """The merge commits BEFORE the policy pass runs; a maintenance
    failure (lock race, stats hiccup) must log and let the batch commit
    rather than forcing an idempotent replay of work already done."""
    from go_pq_cdc_spark.streaming.changelog_stream import (
        file_change_stream,
        mirror_sink,
    )

    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(in_dir)

    boom = []

    def exploding(stats):
        boom.append(stats)
        raise RuntimeError("listener exploded")

    def write_file(rows, i):
        _batch(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(in_dir, f"b{i}")
        )

    q = mirror_sink(
        file_change_stream(spark, in_dir + "/*"),
        state,
        str(tmp_path / "ckpt"),
        maintain_every=1,
        on_maintenance=exploding,
    )
    try:
        write_file([_ev("I", 1, 1, 1, 1.0), _ev("I", 2, 1, 2, 2.0)], 0)
        q.processAllAvailable()  # would raise if maintenance failed the batch
        assert boom, "policy never ran"
        got = {r["pk"]: r["after_val"] for r in read_mirror(spark, state).collect()}
        assert got == {1: 1.0, 2: 2.0}
    finally:
        q.stop()
