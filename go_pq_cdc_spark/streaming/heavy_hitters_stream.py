"""Streaming heavy hitters: a continuously-maintained Misra-Gries summary
over an unbounded stream — boilerplate/hot-key/top-talker detection that
never stores more than `capacity` counters no matter how much data flows.

Why this works incrementally: MG summaries are MERGEABLE (Agarwal et al.,
PODS'12) — merging two summaries (add counts by item, then apply the same
batched decrement back to `capacity`) yields a valid MG summary of the
concatenated input, with the error bounds ADDING: after any number of
merges the stored count under-estimates the true count by at most
n_total/(capacity+1). So per micro-batch we fold the batch's
per-partition summaries (`sketch.mg_partition_summaries` — the same
distributed kernel the batch operator uses) into the persisted state and
the guarantee survives the entire stream lifetime: every item with true
frequency > 1/(capacity+1) of the stream so far is present in the state.

This is the streaming complement of `sketch.heavy_hitters_exact`: the
state yields candidate sets with [lower, upper] count bounds at any
moment; when exact counts are needed, run the batch verify pass over the
archived corpus with the state as the candidate list.

State layout: the shared `versioned_state.VersionedState` discipline —
`state_dir/v{batch_id}/` parquet (item, cnt) committed by a ClaimBackend
meta marker carrying (n_total, capacity, batch_id), so the state_dir can
live on raw object storage like the mirror's coordination. A retried
batch recomputes v{N} from v{N-1} — which a retry never modifies — and
OVERWRITES v{N}: deterministic inputs, deterministic state, idempotent.
Readers pick the highest committed version.

Scale shape per batch: one narrow distributed pass over the batch
(mapInPandas MG, O(tasks x capacity) output rows), then a driver-side
fold of sketch-sized inputs (state <= capacity rows; batch summaries <=
tasks x capacity rows — bounded by construction, the same class as the
k-centroid folds), one tiny parquet write. Nothing scales with stream
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.sketch import mg_partition_summaries
from .versioned_state import VersionedState

STATE_SCHEMA = "item string, cnt long"


def _mg_fold(counts: dict[str, int], capacity: int) -> dict[str, int]:
    """Batched MG decrement: subtract the (capacity+1)-th largest count
    from everyone, drop <= 0 — destroys >= d*(capacity+1) mass per step,
    preserving the n/(capacity+1) under-count bound."""
    if len(counts) <= capacity:
        return counts
    d = sorted(counts.values(), reverse=True)[capacity]
    return {i: c - d for i, c in counts.items() if c > d}


def latest_version(
    state_dir: str,
    below: int | None = None,
) -> int | None:
    """Highest committed state version (meta marker exists — written
    AFTER the parquet, so a crash in between leaves the version
    invisible), optionally restricted to versions < `below` (a retry
    must ignore its own torn previous write of the same version)."""
    return VersionedState(state_dir).latest_version(below)


def _read_state(
    spark: SparkSession,
    state_dir: str,
    version: int,
) -> tuple[dict[str, int], int, int]:
    vs = VersionedState(state_dir)
    rows = spark.read.schema(STATE_SCHEMA).parquet(vs.version_dir(version)).collect()
    meta = vs.read_meta(version)
    return (
        {r["item"]: r["cnt"] for r in rows},
        int(meta["n_total"]),
        int(meta["capacity"]),
    )


def update_heavy_hitter_state(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    value_col: str = "item",
    capacity: int = 128,
) -> None:
    """foreachBatch body: fold this micro-batch into the persisted MG
    state. Distributed summary pass over the batch, bounded driver-side
    merge, idempotent versioned write."""
    spark = batch_df.sparkSession
    # same checkpoint/state lifecycle guard as the views: a committed
    # version above this batch_id means a restarted checkpoint against
    # surviving state — without the guard the restarted folds would be
    # both shadowed by and GC'd under the stale versions (r11 review)
    VersionedState(state_dir).check_not_shadowed(
        batch_id, "heavy-hitter state"
    )
    items = batch_df.select(value_col)
    # ONE pass per micro-batch (optimization r13): the exact row count
    # rides the summary pass as per-task NULL-item sentinel rows — the
    # former separate `items.count()` was a second full scan of every
    # batch. Sentinels are unambiguous (NULL never appears as a counter).
    rows = mg_partition_summaries(
        items, value_col, capacity, emit_task_rows=True
    ).collect()
    summaries = [r for r in rows if r["item"] is not None]
    n_batch = sum(r["cnt"] for r in rows if r["item"] is None)

    prev = latest_version(state_dir, below=batch_id)
    if prev is not None:
        counts, n_total, prev_cap = _read_state(spark, state_dir, prev)
        if prev_cap != capacity:
            raise ValueError(
                f"state at {state_dir} was built with capacity {prev_cap}, "
                f"got {capacity}; the bound is per-capacity — rebuild"
            )
    else:
        counts, n_total = {}, 0

    for r in summaries:
        counts[r["item"]] = counts.get(r["item"], 0) + r["cnt"]
    counts = _mg_fold(counts, capacity)
    n_total += n_batch

    vs = VersionedState(state_dir)
    (
        spark.createDataFrame(
            [(i, c) for i, c in sorted(counts.items())], STATE_SCHEMA
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(vs.version_dir(batch_id))
    )
    vs.commit(
        batch_id,
        {"n_total": n_total, "capacity": capacity, "batch_id": batch_id},
    )
    vs.gc_versions(spark, keep=2)


def heavy_hitter_candidates(
    spark: SparkSession,
    state_dir: str,
    phi: float,
) -> DataFrame:
    """Candidate phi-heavy hitters from the current state with count
    bounds: true count is within [cnt_lower, cnt_upper] (MG guarantee),
    so any item whose UPPER bound clears phi*n_total is a candidate and
    no true heavy hitter is missing. Returns
    (item, cnt_lower, cnt_upper, n_total)."""
    ver = latest_version(state_dir)
    if ver is None:
        return spark.createDataFrame(
            [], "item string, cnt_lower long, cnt_upper long, n_total long"
        )
    counts, n_total, capacity = _read_state(spark, state_dir, ver)
    err = n_total // (capacity + 1)
    rows = [
        (i, c, c + err, n_total)
        for i, c in sorted(counts.items())
        if c + err > phi * n_total
    ]
    return spark.createDataFrame(
        rows, "item string, cnt_lower long, cnt_upper long, n_total long"
    )
