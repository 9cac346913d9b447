"""The reference's three killer invariants (SURVEY.md §5) ported to the
engine's batch CDC operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from go_pq_cdc_spark.operators import cdc as ops
from go_pq_cdc_spark.snapshot import plan_integer_range, plan_ctid_blocks, plan_offset, plan_auto
from go_pq_cdc_spark.snapshot.planner import Strategy
from go_pq_cdc_spark.sources.changelog import changelog, committed_changelog

from .conftest import SF_DIR


def test_handoff_equals_latest_state(spark):
    """snapshot_consistency_test.go:18-26 — backfill∪stream with max-LSN
    dedup must equal the direct latest-state over the full log: no gap, no
    duplicate, for ANY snapshot LSN."""
    df = ops.filter_heartbeat(committed_changelog(spark, SF_DIR))
    max_lsn = df.agg(F.max("lsn")).collect()[0][0]
    direct = {
        r["pk"]: (r["last_val"], r["last_lsn"]) for r in ops.latest_state(df).collect()
    }
    for cut in (0, max_lsn // 3, max_lsn // 2, max_lsn):
        handoff = {
            r["pk"]: (r["last_val"], r["last_lsn"])
            for r in ops.snapshot_handoff(df, cut).collect()
        }
        assert handoff == direct, f"handoff at lsn={cut} diverges from direct state"


def test_aborted_txns_invisible(spark):
    """streaming_rollback_test.go — events of aborted txns never surface."""
    full = changelog(spark, SF_DIR)
    committed = committed_changelog(spark, SF_DIR)
    aborted_lsns = {r["lsn"] for r in full.filter(F.col("xid") % 11 == 3).collect()}
    assert aborted_lsns, "fixture should contain aborted txns"
    surfaced = {r["lsn"] for r in committed.collect()}
    assert not (aborted_lsns & surfaced)


def test_commit_order_is_total_and_gapless(spark):
    """concurrent_tx_ordering_test.go:18-21 — (commit_lsn, txn_seq) is a
    total order; txn_seq is 1..n within each txn."""
    df = ops.commit_order(committed_changelog(spark, SF_DIR))
    rows = df.select("xid", "commit_lsn", "txn_seq", "lsn").collect()
    by_txn: dict[int, list] = {}
    for r in rows:
        by_txn.setdefault(r["xid"], []).append(r)
    for xid, evs in by_txn.items():
        seqs = sorted(e["txn_seq"] for e in evs)
        assert seqs == list(range(1, len(evs) + 1)), f"xid={xid} seq gap"
        assert len({e["commit_lsn"] for e in evs}) == 1
        assert max(e["lsn"] for e in evs) == evs[0]["commit_lsn"]


def test_planner_chunks_cover_and_partition():
    """Chunk planners: full coverage, no overlap (coordinator.go:731-794)."""
    plan = plan_integer_range("id", 10, 100009, chunk_size=8000)
    assert plan.chunks[0].range_start == 10
    assert plan.chunks[-1].range_end == 100009
    for a, b in zip(plan.chunks, plan.chunks[1:]):
        assert b.range_start == a.range_end + 1
    assert all(
        (c.range_end - c.range_start + 1) <= 8000 for c in plan.chunks
    )

    ctid = plan_ctid_blocks(relpages=1000, reltuples=100_000.0, chunk_size=8000)
    # 100 rows/block -> 80 blocks/chunk -> 13 chunks, last unbounded
    assert ctid.chunks[-1].block_end is None
    assert ctid.chunks[0].where.startswith("ctid >= '(0,0)'")
    # the per-partition JDBC predicates; the unbounded tail has no upper edge
    assert ctid.predicates[0] == "ctid >= '(0,0)'::tid AND ctid < '(80,0)'::tid"
    assert ctid.predicates[-1] == "ctid >= '(960,0)'::tid"
    for a, b in zip(ctid.chunks, ctid.chunks[1:]):
        assert b.block_start == a.block_end

    off = plan_offset(100_001, "ctid", chunk_size=8000)
    assert len(off.chunks) == 13
    assert off.chunks[-1].offset == 96000

    assert plan_auto(integer_pk="id", min_val=0, max_val=9).strategy is Strategy.INTEGER_RANGE
    assert plan_auto(integer_pk=None, relpages=10, reltuples=100.0).strategy is Strategy.CTID_BLOCK
    assert plan_auto(integer_pk=None, total_rows=50).strategy is Strategy.OFFSET


def test_chunk_predicates_cover_table_exactly(spark):
    """Data-level planner check: reading the table chunk-by-chunk (each
    planner range applied as a filter) reconstructs the full table exactly
    — no missing rows, no duplicates (snapshot_chunks_test.go analogue)."""
    from pyspark.sql import functions as F

    from go_pq_cdc_spark.catalog import load_table
    from go_pq_cdc_spark.snapshot import plan_integer_range

    orders = load_table(spark, SF_DIR, "orders")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    plan = plan_integer_range("o_orderkey", int(lo), int(hi), chunk_size=1000)
    total = 0
    for c in plan.chunks:
        total += orders.filter(
            (F.col("o_orderkey") >= c.range_start) & (F.col("o_orderkey") <= c.range_end)
        ).count()
    assert total == orders.count()


def test_before_image_never_inherits_delete_image(spark):
    """A replica-identity-full DELETE ships the OLD row in its payload; that
    image must not leak into any later event's before_val (ADVICE r2: the
    synthetic changelog always nulls D images, which hid this path)."""
    rows = [
        # pk=1: I(10, v=1.0), U(20, v=2.0), D(30, image=9.9!), I(40, v=4.0), U(50, NULL toast)
        ("I", 10, 1, 1, 1.0),
        ("U", 20, 1, 1, 2.0),
        ("D", 30, 1, 1, 9.9),
        ("I", 40, 1, 1, 4.0),
        ("U", 50, 1, 1, None),
    ]
    df = spark.createDataFrame(
        rows, "op string, lsn bigint, xid bigint, pk bigint, after_val double"
    )
    out = {r["lsn"]: r["before_val"] for r in ops.before_image(df).collect()}
    assert out[20] == 1.0
    # the D opens its own del_epoch, so its trailing frame is empty — same
    # NULL the DuckDB oracle produces (only op='U' rows surface downstream)
    assert out[30] is None
    assert out[40] is None  # nothing survives a DELETE — 9.9 must not leak
    assert out[50] == 4.0  # post-delete epoch restarts from the re-insert
