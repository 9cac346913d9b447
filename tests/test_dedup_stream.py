"""Streaming incremental dedup: micro-batches are deduped against the
persisted MinHash index and appended to it, so later batches see earlier
ones — the online ingestion path, one `dedup_batch_against_index` call
per micro-batch (a stream's foreachBatch body)."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from go_pq_cdc_spark.catalog import load_table
from go_pq_cdc_spark.operators import dedup as D
from go_pq_cdc_spark.streaming.dedup_stream import dedup_batch_against_index

from .conftest import SF_DIR

DOC_SCHEMA = "doc_id bigint, text string"


def _shingleable_docs(spark, n):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter(F.expr("size(split(trim(text), '\\\\s+')) >= 3"))
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )


def test_incremental_dedup_two_batches(spark):
    base = tempfile.mkdtemp(prefix="gpcs_dstream_")
    index_path = os.path.join(base, "mh_index")
    pairs_dir = os.path.join(base, "pairs")
    try:
        docs = _shingleable_docs(spark, 3)
        a, b, c = docs
        batch1 = [(a["doc_id"], a["text"]), (b["doc_id"], b["text"])]
        # batch 2: a cross-batch copy of `a`, a fresh doc, and an in-batch
        # duplicate pair of `c`'s text under two new ids
        batch2 = [
            (a["doc_id"] + 1000000, a["text"]),
            (c["doc_id"] + 2000000, c["text"]),
            (c["doc_id"] + 3000000, c["text"]),
        ]
        for batch_id, rows in enumerate((batch1, batch2)):
            dedup_batch_against_index(
                spark.createDataFrame(rows, DOC_SCHEMA), batch_id,
                index_path, pairs_dir,
            )

        pairs = {
            (r["doc_a"], r["doc_b"], r["batch_id"]): r["jaccard"]
            for r in spark.read.parquet(pairs_dir).collect()
        }
        later = [k for k in pairs if k[2] >= 1]
        # cross-batch: the copy of `a` must pair with the INDEXED original
        assert any(
            k[0] == a["doc_id"] and k[1] == a["doc_id"] + 1000000 for k in later
        )
        # within-batch: the two copies of `c` pair with each other
        assert any(
            {k[0], k[1]} == {c["doc_id"] + 2000000, c["doc_id"] + 3000000}
            for k in later
        )
        for v in pairs.values():
            assert 0.5 <= v <= 1.0
        # the index now holds band rows for every doc of both batches
        idx_ids = {
            r["id"]
            for r in spark.read.schema(D.MINHASH_INDEX_SCHEMA)
            .parquet(index_path)
            .select("id")
            .distinct()
            .collect()
        }
        assert {r[0] for r in batch1} | {r[0] for r in batch2} <= idx_ids
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_dedup_batch_retry_is_idempotent(spark):
    """A retried foreachBatch epoch must not double-insert band rows (the
    marker guard) and must rewrite, not duplicate, its pairs partition
    (dynamic partition overwrite)."""
    base = tempfile.mkdtemp(prefix="gpcs_dretry_")
    index_path = os.path.join(base, "mh_index")
    pairs_dir = os.path.join(base, "pairs")
    try:
        docs = _shingleable_docs(spark, 2)
        batch = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in docs]
            + [(docs[0]["doc_id"] + 1000000, docs[0]["text"])],
            DOC_SCHEMA,
        )
        dedup_batch_against_index(batch, 0, index_path, pairs_dir)
        n_index = spark.read.schema(D.MINHASH_INDEX_SCHEMA).parquet(index_path).count()
        first = sorted(
            (r["doc_a"], r["doc_b"], r["batch_id"])
            for r in spark.read.parquet(pairs_dir).collect()
        )
        assert first  # the injected copy paired within the batch
        assert glob.glob(f"{pairs_dir}/batch_id=0/*.parquet")
        dedup_batch_against_index(batch, 0, index_path, pairs_dir)  # retry
        assert (
            spark.read.schema(D.MINHASH_INDEX_SCHEMA).parquet(index_path).count()
            == n_index
        )
        again = sorted(
            (r["doc_a"], r["doc_b"], r["batch_id"])
            for r in spark.read.parquet(pairs_dir).collect()
        )
        assert again == first
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_same_id_reingest_with_changed_content_still_pairs(spark):
    """r5 review regression: doc 5 is indexed with text T; a batch arrives
    with doc 5 REWRITTEN (unrelated text) plus doc 9 whose text equals T.
    The indexed old version of 5 must still pair with 9 — only identical
    (id, content) hits (retry artifacts / unchanged re-ingest) are
    excluded, not every pair touching a batch id."""
    base = tempfile.mkdtemp(prefix="gpcs_dreingest_")
    index_path = os.path.join(base, "mh_index")
    pairs_dir = os.path.join(base, "pairs")
    try:
        t = "the quick brown fox jumps over the lazy dog tonight"
        idx_docs = spark.createDataFrame([(5, t)], DOC_SCHEMA)
        from go_pq_cdc_spark.operators import dedup as D

        D.minhash_index_write(idx_docs, index_path, "doc_id")
        batch = spark.createDataFrame(
            [
                (5, "completely unrelated replacement words fill this document now"),
                (9, t),
            ],
            DOC_SCHEMA,
        )
        dedup_batch_against_index(batch, 0, index_path, pairs_dir)
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in spark.read.parquet(pairs_dir).collect()
        }
        assert pairs.get((5, 9)) == 1.0  # old content vs new doc — kept
        # and the rewritten doc 5 pairs with nothing (content disjoint)
        assert all({a, b} == {5, 9} for a, b in pairs)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_pre_r11_bare_marker_still_guards_retry(spark):
    """In-place upgrade: a marker written by the pre-r11 POSIX-only code
    (bare batch id, no .json) must still stop a replayed batch from
    double-inserting its band rows."""
    base = tempfile.mkdtemp(prefix="gpcs_legacy_marker_")
    index_path = os.path.join(base, "mh_index")
    pairs_dir = os.path.join(base, "pairs")
    try:
        docs = _shingleable_docs(spark, 2)
        batch = spark.createDataFrame(
            [(d["doc_id"], d["text"]) for d in docs], DOC_SCHEMA
        )
        dedup_batch_against_index(batch, 3, index_path, pairs_dir)
        # downgrade the marker to the pre-r11 name
        mdir = os.path.join(index_path, "_batches")
        os.replace(os.path.join(mdir, "3.json"), os.path.join(mdir, "3"))
        n = spark.read.schema(D.MINHASH_INDEX_SCHEMA).parquet(index_path).count()
        dedup_batch_against_index(batch, 3, index_path, pairs_dir)  # replay
        assert (
            spark.read.schema(D.MINHASH_INDEX_SCHEMA).parquet(index_path).count()
            == n
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_gate_zero_pairs_is_empty_not_crash(spark, tmp_path):
    """r12 review: the gate queries read the pairs dir with a DECLARED
    schema — a corpus producing zero pairs leaves partition dirs with no
    parquet files, and schema inference would crash what is legitimately
    an empty result."""
    from pyspark.sql import functions as F

    from go_pq_cdc_spark.streaming.dedup_stream import (
        PAIR_SCHEMA,
        dedup_batch_against_index,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    root = str(tmp_path)
    dedup_batch_against_index(
        docs, 0, f"{root}/index", f"{root}/pairs", threshold=0.5
    )
    out = (
        spark.read.schema(PAIR_SCHEMA + ", batch_id int")
        .parquet(f"{root}/pairs")
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "jaccard",
        )
    )
    assert out.count() == 0


def test_fold_id_batches_empty_corpus(spark, tmp_path):
    """r12 advisor: an EMPTY input DataFrame made fold_id_batches crash
    with a bare int(None) TypeError (min/max aggregate to NULL). The
    scaffold now folds zero batches and returns the machine's final read
    over an empty root — an empty, correctly-schemed result."""
    from go_pq_cdc_spark.plans.registry import fold_id_batches

    seen = []

    def update(batch, i, root):
        seen.append(i)

    def read_final(sp, root):
        return sp.createDataFrame([], "doc_a long, doc_b long")

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = fold_id_batches(empty, "doc_id", update, read_final)
    assert out.count() == 0
    assert out.columns == ["doc_a", "doc_b"]
    assert seen == []  # no batches were folded
