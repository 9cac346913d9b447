"""Streaming incremental dedup: the online path of a training-data
ingestion pipeline. Each micro-batch of documents is (1) deduped against
the persisted MinHash index (`operators.dedup.minhash_index_write` layout)
WITHOUT touching the indexed corpus text, then (2) appended to that index,
so the next batch sees it. Near-dup pairs stream out partitioned by batch.
`dedup_batch_against_index` is that per-batch step: a stream's
`foreachBatch` body, or a plain call per batch.

This is the CDC engine's sink-dispatch pattern (reference:
/root/reference/pq/connector.go sink apply loop) applied to the dedup
domain: foreachBatch gives per-batch transactional boundaries, and the
index plays the mirror's role — continuously maintained distributed state
that lookups never have to rebuild.

Scale shape per batch (B = batch docs, I = indexed corpus):
  - one narrow pass over B (shingle + signatures),
  - a partition-pruned scan of only the index buckets B's band keys touch
    (never O(I)),
  - candidate equi-join on (band, band_key) — AQE broadcasts the B side
    when it is small,
  - one partitioned append of B's band rows.
Nothing in the batch path scales with corpus size except the pruned
bucket scan, which scales with the CANDIDATE mass, not |I|.

Failure semantics: pairs are written with dynamic partition overwrite to
`pairs_dir/batch_id=N` (a retried batch rewrites its own partition —
idempotent); the index append is guarded by a per-batch marker under
`<index>/_batches/` (a retried batch skips the append instead of
double-inserting band rows). The marker is a COORDINATION object and
rides the `ClaimBackend` mounted for the index path (r11 — the view
state's medium split: markers on conditional requests when the
index lives on an object store, data via Spark's Hadoop FS); the index
existence probe goes through the Hadoop FS for the same reason.
Candidate generation additionally `dropDuplicates` on the pair key, so
even a marker lost to a torn failure degrades to extra storage, never
wrong pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..snapshot.claim_backend import backend_for
from .versioned_state import _fs_list_names

PAIR_SCHEMA = "doc_a bigint, doc_b bigint, jaccard double"


def _index_exists(spark, index_path: str, prefix: str = "bucket=") -> bool:
    # existence probe through Spark's Hadoop FS (file://, s3a://, gs://)
    # — a single driver-side namenode/list call either way
    return any(e.startswith(prefix) for e in _fs_list_names(spark, index_path))


def dedup_batch_against_index(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    *,
    portable: bool = True,
    n_buckets: int = D.MINHASH_INDEX_BUCKETS,
    within_batch: bool = True,
) -> None:
    """One micro-batch: look up near-dups against the index (plus, by
    default, within the batch itself — new duplicates often arrive
    together), write pairs to this batch's partition, then append the
    batch's band rows to the index exactly once.

    The batch's (id, band, band_key, sh, bucket) rows are computed ONCE
    (`minhash_band_rows`, cached) and reused by all three steps —
    index lookup, within-batch pairing, index append — then unpersisted:
    shingling/minhashing is the dominant per-batch cost, and a leaked
    cache per micro-batch would grind a long-running stream down.

    Retry semantics: index hits that are the batch's own content (same id
    AND same shingle set — the retried batch's already-landed append, or
    an unchanged re-ingest) are excluded; a same-id hit with DIFFERENT
    content survives, because the indexed old version really can near-dup
    other new docs and dropping every pair touching that id would
    silently admit duplicates."""
    spark = batch_df.sparkSession
    batch_df = batch_df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    )
    nb = D.minhash_band_rows(
        batch_df, id_col, text_col, portable=portable, n_buckets=n_buckets
    ).cache()
    try:
        if _index_exists(spark, index_path):
            pairs = D.dedup_incremental_from_bands(
                spark,
                nb,
                index_path,
                threshold,
                n_buckets=n_buckets,
                exclude_identical=True,
            )
        else:
            pairs = spark.createDataFrame([], PAIR_SCHEMA)
        if within_batch:
            pairs = pairs.unionByName(D.within_batch_pairs(nb, threshold))
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
        # the bare-name probe covers pre-r11 markers (POSIX-only era), so
        # an in-place upgrade's replayed batch still skips its landed
        # append instead of double-inserting band rows (r11 review)
        if backend.exists(marker) or os.path.exists(
            os.path.join(marker_dir, str(int(batch_id)))
        ):
            return  # retried batch: pairs rewritten above, index already has us
        nb.write.mode("append").partitionBy("bucket").parquet(index_path)
        backend.ensure_dir(marker_dir)
        backend.put(marker, {"batch_id": int(batch_id)})
    finally:
        nb.unpersist()
