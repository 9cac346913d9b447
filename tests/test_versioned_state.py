"""Property test for the shared versioned-state protocol (r11).

Drives random streaming-shaped histories — folds with retries, torn
writes (data landed, meta crash), GC passes — against a driver-side
model, on BOTH backends (POSIX and FakeObjectStore). The invariants:

  * latest_version == the model's highest committed id, always;
  * torn writes are invisible and never change the answer;
  * a fold below a committed version raises (checkpoint-restart guard)
    and leaves state untouched;
  * GC keeps exactly the newest two committed versions, their metas
    readable, and sweeps torn orphans below the cutoff.

No Spark jobs run: data dirs are stand-in directories; GC's Hadoop-FS
deletes are driver-side JVM calls.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from hypothesis import given, settings, strategies as st

from go_pq_cdc_spark.snapshot.claim_backend import (
    FakeObjectStore,
    ObjectStoreBackend,
    mount,
)
from go_pq_cdc_spark.streaming.versioned_state import VersionedState

# slow tier (r13 verdict item 1): excluded from the default pytest run
# so the driver's gate finishes inside its window; run with
# `pytest -m "slow or not slow"` (full) or `-m slow` (this tier only).
pytestmark = pytest.mark.slow

# a streaming history: each step advances the batch id by 0 (retry) or 1,
# then performs one action
_STEP = st.tuples(
    st.integers(0, 1), st.sampled_from(["fold", "torn", "gc", "restart"])
)


def _mk_backend(kind):
    if kind == "posix":
        from go_pq_cdc_spark.snapshot.claim_backend import PosixLinkBackend

        return PosixLinkBackend()
    return ObjectStoreBackend(FakeObjectStore())


@pytest.mark.parametrize("kind", ["posix", "fake_store"])
@given(steps=st.lists(_STEP, min_size=1, max_size=12))
@settings(max_examples=40, deadline=None)
def test_versioned_state_protocol_model(spark, kind, steps):
    root = tempfile.mkdtemp(prefix="vs_prop_")
    mount(root, _mk_backend(kind))
    try:
        vs = VersionedState(root)
        committed: list[int] = []  # model: committed ids, ascending
        batch = 0
        for inc, action in steps:
            batch += inc
            if action == "fold":
                if committed and committed[-1] > batch:
                    with pytest.raises(RuntimeError, match="stale"):
                        vs.check_not_shadowed(batch)
                else:
                    vs.check_not_shadowed(batch)
                    os.makedirs(vs.version_dir(batch), exist_ok=True)
                    vs.commit(batch, {"batch_id": batch})
                    if not committed or committed[-1] != batch:
                        committed.append(batch)
            elif action == "torn":
                # data dir lands for the NEXT id, meta write crashes
                os.makedirs(vs.version_dir(batch + 1), exist_ok=True)
            elif action == "gc":
                vs.gc_versions(spark, keep=2)
                committed = committed[-2:]
            elif action == "restart":
                # checkpoint reset: ids restart BELOW the committed top;
                # the guard must refuse the fold
                if committed and committed[-1] > 0:
                    with pytest.raises(RuntimeError, match="stale"):
                        vs.check_not_shadowed(committed[-1] - 1)
            # core invariant after every step
            want = committed[-1] if committed else None
            assert vs.latest_version() == want
            for ver in committed:
                assert vs.read_meta(ver)["batch_id"] == ver
        # final GC: exactly the newest two survive, torn orphans below
        # the cutoff are swept
        vs.gc_versions(spark, keep=2)
        committed = committed[-2:]
        assert vs.latest_version() == (committed[-1] if committed else None)
        if committed:
            cutoff = committed[0]
            for e in os.listdir(root):
                if e.startswith("v") and e[1:].isdigit():
                    assert int(e[1:]) >= cutoff, f"unswept dir {e}"
    finally:
        mount(root, None)
        shutil.rmtree(root, ignore_errors=True)


def test_migrate_pre_r11_layout_preserves_counts(spark, tmp_path):
    """r11 verdict item 3: the migration tool the legacy-layout refusal
    points at. Build a REAL pre-r11 agg-view state (current machine's
    parquet devolved to in-dir `_view_meta.json` sidecars), assert the
    refusal names the tool, migrate in place, and fold the next batch —
    counts must accumulate across the migration, not reset."""
    import json
    import sys

    from go_pq_cdc_spark.streaming.agg_view_stream import (
        read_agg_view,
        update_agg_view_state,
    )

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from migrate_versioned_state import migrate_state_dir

    schema = "pk long, op string, before_val double, after_val double"
    state_dir = str(tmp_path / "agg")
    b0 = [(pk, "I", None, 5.0 + pk) for pk in range(1, 6)]
    update_agg_view_state(spark.createDataFrame(b0, schema), 0, state_dir)
    vs = VersionedState(state_dir)

    # devolve v0 to the pre-r11 layout: meta sidecar inside the version
    # dir, no meta/ marker
    meta = vs.read_meta(0)
    with open(os.path.join(vs.version_dir(0), "_view_meta.json"), "w") as f:
        json.dump(meta, f)
    assert vs.backend.delete(vs._meta_path(0))
    # torn pre-r11 version: sidecar without _SUCCESS — invisible then,
    # must stay invisible after migration
    os.makedirs(vs.version_dir(7))
    with open(os.path.join(vs.version_dir(7), "_view_meta.json"), "w") as f:
        json.dump({"batch_id": 7}, f)

    with pytest.raises(RuntimeError, match="migrate_versioned_state"):
        vs.latest_version()

    report = migrate_state_dir(state_dir)
    assert report == {"migrated": [0], "torn_dropped": [7], "already": []}
    assert vs.latest_version() == 0
    # idempotent: nothing legacy left, second run is a no-op
    assert migrate_state_dir(state_dir) == {
        "migrated": [], "torn_dropped": [], "already": [],
    }

    # the next fold accumulates on the migrated state instead of
    # resetting: 5 keys from b0 + 2 new keys from b1
    b1 = [(pk, "I", None, 5.0 + pk) for pk in range(6, 8)]
    update_agg_view_state(spark.createDataFrame(b1, schema), 1, state_dir)
    total = sum(
        r["n_keys"] for r in read_agg_view(spark, state_dir).collect()
    )
    assert total == 7


def test_migrate_crash_between_put_and_sidecar_delete(spark, tmp_path):
    """Crash-safety arm: the new meta marker lands BEFORE the sidecar is
    deleted, so a crash in between leaves both — the re-run reports the
    version as `already` migrated and finishes the sidecar delete."""
    import json
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from migrate_versioned_state import migrate_state_dir

    state_dir = str(tmp_path / "hh")
    vs = VersionedState(state_dir)
    vdir = vs.version_dir(3)
    os.makedirs(vdir)
    open(os.path.join(vdir, "_SUCCESS"), "w").close()
    meta = {"n_total": 42, "capacity": 8, "batch_id": 3}
    with open(os.path.join(vdir, "_hh_meta.json"), "w") as f:
        json.dump(meta, f)
    # simulate the crash state: new meta already put, sidecar not deleted
    vs.commit(3, meta)
    report = migrate_state_dir(state_dir)
    assert report == {"migrated": [], "torn_dropped": [], "already": [3]}
    assert not os.path.exists(os.path.join(vdir, "_hh_meta.json"))
    assert vs.latest_version() == 3
    assert vs.read_meta(3)["n_total"] == 42


def test_migrate_descending_crash_window_fails_safe(spark, tmp_path):
    """The tool migrates versions DESCENDING, so a crash mid-run leaves
    the TRUE latest migrated and only LOWER versions legacy (review):
    latest_version() then returns the correct top — never a stale lower
    version — and a retry needing the unmigrated prev (below=top) still
    hits the legacy refusal instead of silently folding onto empty
    state."""
    import json

    state_dir = str(tmp_path / "agg")
    vs = VersionedState(state_dir)
    for ver in (0, 1, 2):
        vdir = vs.version_dir(ver)
        os.makedirs(vdir)
        open(os.path.join(vdir, "_SUCCESS"), "w").close()
        with open(os.path.join(vdir, "_view_meta.json"), "w") as f:
            json.dump({"batch_id": ver, "n_groups": 8}, f)
    # simulate the crash state a DESCENDING run leaves: v2 migrated
    # (meta/ marker up, sidecar gone), v0-v1 still legacy
    with open(os.path.join(vs.version_dir(2), "_view_meta.json")) as f:
        vs.commit(2, json.load(f))
    os.remove(os.path.join(vs.version_dir(2), "_view_meta.json"))

    assert vs.latest_version() == 2  # the true top, not a stale low one
    with pytest.raises(RuntimeError, match="migrate_versioned_state"):
        vs.latest_version(below=2)  # unmigrated prev still refuses
    # re-running the tool finishes the job
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from migrate_versioned_state import migrate_state_dir

    report = migrate_state_dir(state_dir)
    # v2 has no sidecar left (its delete completed pre-crash), so the
    # re-run has nothing legacy to report for it
    assert report == {"migrated": [0, 1], "torn_dropped": [], "already": []}
    assert vs.latest_version(below=2) == 1
