"""Tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import loadgen  # noqa: E402
import stats  # noqa: E402


# -- the percentile rule ---------------------------------------------------------


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.supports(1000, 99) and not stats.supports(999, 99)
    assert stats.supports(20, 50) and not stats.supports(19, 50)
    with pytest.raises(ValueError):
        stats.percentile(list(range(999)), 99)
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 1001))  # 1..1000, shuffled order must not matter
    xs.reverse()
    assert stats.percentile(xs, 99) == 990
    assert stats.percentile(xs, 50) == 500
    assert stats.percentile(list(range(1, 21)), 50) == 10


def test_highest_supported_percentile():
    assert stats.highest_supported(10_000) == 99.9
    assert stats.highest_supported(1000) == 99
    assert stats.highest_supported(200) == 95
    assert stats.highest_supported(20) == 50
    assert stats.highest_supported(19) is None


# -- progress events joined to commit LSNs ------------------------------------------


def _event(batch, rows, start, trigger_ms, end_lsn):
    return {"batchId": batch, "numInputRows": rows, "start_s": start,
            "durationMs": {"triggerExecution": trigger_ms}, "end_lsn": end_lsn}


def test_batch_frontier_skips_empty_batches_and_orders_by_batch():
    events = [_event(2, 5, 20.0, 500, 300), _event(0, 0, 0.0, 100, -1),
              _event(1, 7, 10.0, 2000, 200)]
    assert stats.batch_frontier(events) == [(200, 12.0), (300, 20.5)]


def test_visible_latency_is_end_of_first_batch_reaching_the_commit():
    frontier = [(200, 12.0), (300, 20.5)]
    txns = [(150, 9.0), (200, 11.0), (201, 11.5), (300, 20.0)]
    got = stats.visible_latencies_ms(txns, frontier)
    assert got == pytest.approx([3000.0, 1000.0, 9000.0, 500.0])


def test_visible_latency_rejects_a_transaction_no_batch_committed():
    with pytest.raises(ValueError):
        stats.visible_latencies_ms([(301, 1.0)], [(300, 2.0)])


def test_rows_committed_counts_segment_rows_per_batch():
    frontier = [(200, 12.0), (300, 20.5), (300, 21.0)]
    segments = [(300, 4), (100, 1000), (200, 1000)]
    assert stats.rows_committed(frontier, segments) == [(12.0, 2000), (20.5, 4), (21.0, 0)]


# -- the seeded generator ------------------------------------------------------------


def test_change_plan_is_reproducible_per_seed():
    a = loadgen.change_plan(7, 400, 50, rows_per_txn=3)
    b = loadgen.change_plan(7, 400, 50, rows_per_txn=3)
    c = loadgen.change_plan(8, 400, 50, rows_per_txn=3)
    assert a == b
    assert a != c
    assert loadgen.large_txn(7) != loadgen.large_txn(8)
    assert loadgen.insert_plan(3, 5, 10) == loadgen.insert_plan(3, 5, 10)
    assert loadgen.insert_plan(3, 5, 10) != loadgen.insert_plan(4, 5, 10)


def test_change_plan_touches_only_live_keys():
    """No statement can fail: inserts use new keys, updates and deletes
    only keys that exist at that point of the plan."""
    live = set(range(1, 31))
    plan = loadgen.change_plan(1, 2000, 30, rows_per_txn=2)
    for txn in plan:
        for stmt in txn.split("; "):
            if stmt.startswith("INSERT"):
                pk = int(re.search(r"VALUES \((\d+)", stmt).group(1))
                assert pk not in live
                live.add(pk)
            else:
                pk = int(re.search(r"pk = (\d+)", stmt).group(1))
                assert pk in live
                if stmt.startswith("DELETE"):
                    live.remove(pk)


def test_large_transaction_rows_are_never_deleted():
    """The large transaction always changes exactly LARGE_ROWS rows."""
    assert f"BETWEEN 1 AND {loadgen.LARGE_ROWS}" in loadgen.large_txn(1)
    for txn in loadgen.change_plan(3, 3000, loadgen.LARGE_ROWS + 20, 2):
        for stmt in txn.split("; "):
            if stmt.startswith("DELETE"):
                assert int(stmt.rsplit("= ", 1)[1]) > loadgen.LARGE_ROWS
