"""Streaming semantic dedup: the embedding-space twin of
`dedup_stream.py`. Each micro-batch of vectors is (1) checked for
near-duplicates against the persisted IVF index (`ivf_index_write`
layout) by scanning ONLY the index cells the batch touches, then (2)
appended to that index, so the next batch sees it — SemDeDup
(operators/dedup.semantic_dedup) made incremental.

Scale shape per batch (B = batch vectors, I = indexed corpus):
  - one zero-shuffle assignment pass over B (broadcast-centroid argmax),
  - a PARTITION-PRUNED scan of only the index cells B occupies (Hive
    directory pruning on cent_id — never O(I)),
  - a broadcast hash join of B against those cells (B is a micro-batch,
    executor-memory-sized by definition; no shuffle at all, parallelism
    = pruned index splits),
  - one partitioned append of B's (vector, norm, cell) rows.
Nothing in the batch path scales with corpus size except the pruned
cell scan, which scales with the CELL mass the batch touches, not |I|.

Failure semantics (same discipline as dedup_stream): pairs land in
`pairs_dir/batch_id=N` with dynamic partition overwrite (a retried batch
rewrites its own partition); the index append is guarded by a per-batch
marker under `<index>/_batches/` riding the `ClaimBackend` mounted
for the index path (r11 — markers are coordination objects; the existence probe goes
through Spark's Hadoop FS). Retried lookups stay idempotent
because index rows matching the batch on (id AND vector) — the retried
batch's own already-landed append, or an unchanged re-ingest — are
anti-joined out of candidate generation (within-batch pairing covers
them); a same-id row with a DIFFERENT vector survives, because the old
version really can near-dup other new vectors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from ..operators.similarity import IVF_INDEX_SCHEMA, ivf_assign
from ..snapshot.claim_backend import backend_for

SEM_PAIR_SCHEMA = "vec_id bigint, dup_of bigint, cos_sim double"


def _index_exists(spark, index_path: str) -> bool:
    from .dedup_stream import _index_exists as probe

    return probe(spark, index_path, prefix="cent_id=")


def semdedup_batch_against_index(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_dir: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    within_batch: bool = True,
) -> None:
    """One micro-batch: assign to cells, find cos >= threshold pairs
    against the pruned index cells (plus, by default, within the batch —
    new duplicates often arrive together), write this batch's pair
    partition, append the batch to the index exactly once.

    The batch's (id, v, nrm, cent_id) rows are computed ONCE and reused
    by lookup, within-batch pairing, and the append."""
    spark = batch_df.sparkSession
    # unrolled codegen norms/pair dots (optimization r13 — bit-identical
    # values, see P.scaled_dot_fast)
    nb = (
        ivf_assign(batch_df, centroids, id_col=id_col, vec_col=vec_col)
        .withColumn("nrm", F.expr(P.scaled_dot_fast("v", "v")))
        .cache()
    )
    try:
        # pair dot over per-side pre-cast fixed-point arrays — one
        # round/cast pass per row per side instead of one per candidate
        # pair (optimization r13; same factoring as the batch family and
        # the oracle's _VQ_DUCK)
        dot = P.int_dot_fast("qvi", "vi")
        cos = (
            "CAST(dot AS DOUBLE) / "
            "(sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c_nrm AS DOUBLE)))"
        )
        qside = nb.select(
            F.col("id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("q_nrm"),
            F.col("cent_id").alias("q_cent"),
        ).withColumn("qvi", F.expr(P.fx_vec("qv")))
        if _index_exists(spark, index_path):
            cells = [r["q_cent"] for r in qside.select("q_cent").distinct().collect()]
            idx = (
                spark.read.schema(IVF_INDEX_SCHEMA)  # declared: no footer storm
                .parquet(index_path)
                .filter(F.col("cent_id").isin(cells))
            )
            # retry shield: rows that ARE the batch (same id and same
            # vector) are the already-landed append — exclude; a same-id
            # row with different content is a real old version and stays
            own = nb.select(
                F.col("id").alias("own_id"), F.col("v").alias("own_v")
            )
            idx = idx.join(
                F.broadcast(own),
                (F.col("c_id") == F.col("own_id")) & (F.col("v") == F.col("own_v")),
                "left_anti",
            )
            pairs = (
                idx.withColumn("vi", F.expr(P.fx_vec("v")))
                .join(F.broadcast(qside), F.col("cent_id") == F.col("q_cent"))
                .withColumn("dot", F.expr(dot))
                .withColumn("cos_sim", F.expr(cos))
                .filter(F.col("cos_sim") >= threshold)
                .select(
                    F.col("q_id").alias("vec_id"),
                    F.col("c_id").alias("dup_of"),
                    "cos_sim",
                )
            )
        else:
            pairs = spark.createDataFrame([], SEM_PAIR_SCHEMA)
        if within_batch:
            a = nb.select(
                F.col("id").alias("q_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("q_nrm"),
                F.col("cent_id").alias("q_cent"),
            ).withColumn("qvi", F.expr(P.fx_vec("qv")))
            b = nb.select(
                F.col("id").alias("c_id"),
                F.col("v").alias("v"),
                F.col("nrm").alias("c_nrm"),
                F.col("cent_id").alias("cent_id"),
            ).withColumn("vi", F.expr(P.fx_vec("v")))
            wb = (
                a.join(
                    b,
                    (F.col("q_cent") == F.col("cent_id"))
                    & (F.col("q_id") > F.col("c_id")),
                )
                .withColumn("dot", F.expr(dot))
                .withColumn("cos_sim", F.expr(cos))
                .filter(F.col("cos_sim") >= threshold)
                .select(
                    F.col("q_id").alias("vec_id"),
                    F.col("c_id").alias("dup_of"),
                    "cos_sim",
                )
            )
            pairs = pairs.unionByName(wb)
        (
            pairs.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(pairs_dir)
        )
        marker_dir = os.path.join(index_path, "_batches")
        marker = os.path.join(marker_dir, f"{int(batch_id)}.json")
        backend = backend_for(marker_dir)
        # bare-name probe covers pre-r11 POSIX-era markers (r11 review —
        # see dedup_stream)
        if backend.exists(marker) or os.path.exists(
            os.path.join(marker_dir, str(int(batch_id)))
        ):
            return  # retried batch: pairs rewritten above, index has us
        (
            nb.select(
                F.col("id").alias("c_id"),
                "v",
                F.col("nrm").alias("c_nrm"),
                "cent_id",
            )
            .write.mode("append")
            .partitionBy("cent_id")
            .parquet(index_path)
        )
        backend.ensure_dir(marker_dir)
        backend.put(marker, {"batch_id": int(batch_id)})
    finally:
        nb.unpersist()
