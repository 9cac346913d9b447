"""Shared versioned-fold core for the MERGEABLE-SKETCH view machines
(Bloom seen-keys, HLL distinct view) — one implementation of the
read-prev / merge / commit / GC cycle so the per-sketch modules hold
only their algebra (cells derivation + merge op + fingerprint), the way
`versioned_state.VersionedState` already unifies the commit protocol.

Both sketches folded here merge by an IDEMPOTENT op (bit_or / MAX), so
replayed batches are a state no-op by algebra — no dedup markers; the
versioning provides atomic visibility and the shadowed-checkpoint guard
only. Sketches whose merge is NOT idempotent (CMS addition) must keep a
marker discipline instead and do not belong on this scaffold.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .versioned_state import VersionedState


def update_sketch_state(
    batch_cells: DataFrame,
    batch_id: int,
    state_dir: str,
    merge_fn: Callable[[DataFrame], DataFrame],
    schema: str,
    meta: dict,
    meta_check: Callable[[dict], None],
    what: str = "sketch state",
) -> None:
    """Fold one micro-batch's sketch cells into the persisted state:
    union with the previous committed version (declared `schema` read),
    `merge_fn` collapses to the canonical state, tiny versioned write.
    `meta_check(prev_meta)` raises when the committed state's geometry
    is incompatible with this fold's."""
    spark = batch_cells.sparkSession
    vs = VersionedState(state_dir)
    vs.check_not_shadowed(batch_id, what)
    prev = vs.latest_version(below=batch_id)
    cells = batch_cells
    if prev is not None:
        meta_check(vs.read_meta(prev))
        old = spark.read.schema(schema).parquet(vs.version_dir(prev))
        cells = old.unionByName(cells)
    merged = merge_fn(cells)
    merged.coalesce(1).write.mode("overwrite").parquet(
        vs.version_dir(batch_id)
    )
    vs.commit(batch_id, meta)
    vs.gc_versions(spark, keep=2)


def read_sketch_state(
    spark: SparkSession,
    state_dir: str,
    schema: str,
) -> DataFrame | None:
    """The latest committed state (declared-schema read), or None when
    nothing has committed yet."""
    vs = VersionedState(state_dir)
    ver = vs.latest_version()
    if ver is None:
        return None
    return spark.read.schema(schema).parquet(vs.version_dir(ver))


# ----------------------------------------------------------------- HLL view

HLL_STATE_SCHEMA = "grp bigint, bucket int, m int"


def update_hll_view_state(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    group_col: str,
    value_col: str,
) -> None:
    """foreachBatch body of the incremental DISTINCT-COUNT view: fold the
    batch's (group, value) rows into per-group HLL registers by
    per-bucket MAX. The aggregate the agg-view machines cannot maintain
    exactly (COUNT DISTINCT is not delta-invertible) becomes maintainable
    the moment an estimate is acceptable — and MAX-merge makes the fold
    idempotent, so this is an append-only ledger of values EVER seen:
    deletes never retract (HLL is non-invertible by design; document the
    semantics, don't fake them)."""
    from pyspark.sql import functions as F

    from ..operators.sketch import HLL_M, hll_registers

    cells = hll_registers(
        batch_df.select(
            F.col(group_col).cast("long").alias("grp"), value_col
        ),
        ["grp"],
        value_col,
    )

    def check(prev_meta: dict) -> None:
        if prev_meta.get("hll_m") != HLL_M:
            raise ValueError(
                f"hll view state at {state_dir} was built with m="
                f"{prev_meta.get('hll_m')}, this build uses {HLL_M}; "
                "register geometries never merge — rebuild"
            )

    from ..operators.sketch import hll_merge_registers

    update_sketch_state(
        cells,
        batch_id,
        state_dir,
        lambda c: hll_merge_registers(c, ["grp"]),
        HLL_STATE_SCHEMA,
        {"hll_m": HLL_M, "batch_id": batch_id},
        check,
        what="hll view state",
    )


def read_hll_view(
    spark: SparkSession,
    state_dir: str,
) -> DataFrame:
    """(grp, est_distinct, n_buckets) from the committed register state —
    the same estimator as the batch q_hll_* queries, so a folded stream
    state is bit-comparable with a direct build and with the DuckDB
    oracle. Empty frame when nothing committed."""
    from ..operators.sketch import hll_estimate

    st = read_sketch_state(spark, state_dir, HLL_STATE_SCHEMA)
    if st is None:
        return spark.createDataFrame(
            [], "grp bigint, est_distinct double, n_buckets bigint"
        )
    return hll_estimate(st, ["grp"])
