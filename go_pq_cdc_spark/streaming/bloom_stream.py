"""Streaming Bloom "seen-keys" filter: the online membership state a CDC
ingest keeps to answer "have we ever ingested this key / url /
content-hash?" without rescanning — the fifth sketch family's streaming
arm (heavy_hitters_stream is MG's, dedup_stream is MinHash's).

Each micro-batch's keys fold into the persisted per-group Bloom state by
per-word-lane bit_or. bit_or is associative, commutative AND IDEMPOTENT,
which makes this the one state machine in the family whose at-least-once
story needs NO dedup markers: re-folding a replayed batch re-ORs bits
that are already set — a no-op on the state by algebra, not by
bookkeeping. The `versioned_state.VersionedState` discipline is still
used, but only for what idempotence cannot give: ATOMIC VISIBILITY (a
reader never sees a half-written parquet state; a crash between data and
meta leaves the version invisible and the retried batch overwrites it)
and the shadowed-checkpoint guard the other machines carry. The fold
cycle itself (read-prev / merge / commit / GC) lives in
`sketch_stream.update_sketch_state`, shared with the HLL distinct view.

Scale shape per batch (B = batch rows, G = groups seen in the batch):
one narrow map over B (k literal-coefficient positions per row),
one map-side-combined groupBy bounded at BLOOM_WORDS rows per group,
one read of the previous state (<= G_total x BLOOM_WORDS rows — KiBs),
one bit_or merge, one tiny versioned write. Nothing scales with history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import (
    BLOOM_BITS,
    BLOOM_K,
    bloom_cells,
    bloom_merge_cells,
)
from .versioned_state import VersionedState

STATE_SCHEMA = "grp string, word int, bits long"


def latest_version(
    state_dir: str,
    below: int | None = None,
) -> int | None:
    return VersionedState(state_dir).latest_version(below)


def update_bloom_state(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    group_col: str,
    value_col: str,
    k: int = BLOOM_K,
    bits: int = BLOOM_BITS,
) -> None:
    """foreachBatch body: OR this micro-batch's Bloom cells into the
    persisted per-group state. Raises when the committed state was
    built with different (k, bits) — filters of different geometry
    never merge."""
    from .sketch_stream import update_sketch_state

    cells = bloom_cells(
        batch_df.select(
            F.col(group_col).cast("string").alias("grp"), value_col
        ),
        ["grp"],
        value_col,
        k=k,
        bits=bits,
    )

    def check(prev_meta: dict) -> None:
        if (prev_meta.get("k"), prev_meta.get("bits")) != (k, bits):
            raise ValueError(
                f"bloom state at {state_dir} was built with k/bits "
                f"{prev_meta.get('k')}/{prev_meta.get('bits')}, got "
                f"{k}/{bits}; filter geometries never merge — rebuild"
            )

    update_sketch_state(
        cells,
        batch_id,
        state_dir,
        lambda c: bloom_merge_cells(c, ["grp"]),
        STATE_SCHEMA,
        {"k": k, "bits": bits, "batch_id": batch_id},
        check,
        what="bloom state",
    )


def bloom_state_fingerprint(
    spark: SparkSession,
    state_dir: str,
) -> DataFrame:
    """(grp, n_words, bits_set, state_sum) over the committed state —
    the exact-int64 fingerprint q_bloom_merge reports, so a folded
    stream state is comparable bit-for-bit with a direct batch build
    (and with the DuckDB oracle). Empty frame when nothing committed."""
    ver = latest_version(state_dir)
    if ver is None:
        return spark.createDataFrame(
            [], "grp string, n_words long, bits_set long, state_sum long"
        )
    st = spark.read.schema(STATE_SCHEMA).parquet(
        VersionedState(state_dir).version_dir(ver)
    )
    return st.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.expr("bit_count(bits)")).cast("long").alias("bits_set"),
        F.sum("bits").cast("long").alias("state_sum"),
    )
