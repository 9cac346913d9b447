"""CDC semantic operators over the change-event envelope.

These are the engine's Spark-native replacements for the reference's
ordered-callback semantics (SURVEY.md §2.1 O6-O8, O17, O28-O29), expressed
as DataFrame transforms that work identically on the batch changelog and on
micro-batches of the streaming source.

Scale notes: every operator partitions by the replica-identity key (`pk`)
or by `xid` — both naturally high-cardinality, shuffle-friendly keys. No
global windows, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _order_cols(df: DataFrame) -> list[str]:
    """Event-order columns: the socket transport envelope carries
    `(lsn, txn_seq)` — lsn is the COMMIT end LSN (all rows of a
    transaction share it) and txn_seq the intra-transaction position, so
    ordering by lsn alone would tie-break arbitrarily WITHIN a
    transaction. Flat fixtures / wal2json rows without txn_seq keep the
    legacy unique-lsn ordering."""
    return ["lsn", "txn_seq"] if "txn_seq" in df.columns else ["lsn"]


def _event_key(df: DataFrame) -> Column:
    """Total event-order key as one comparable struct (for order-free
    MAX-window winner selection)."""
    return F.struct(*_order_cols(df))


def filter_heartbeat(df: DataFrame, heartbeat_table: str = "cdc_heartbeat") -> DataFrame:
    """O17/O27: heartbeat-table events are auto-acked and hidden from the
    consumer (stream.go:515-520, 543-561)."""
    return df.filter(F.col("tbl") != heartbeat_table)


def filter_ops(df: DataFrame, ops: tuple[str, ...]) -> DataFrame:
    """O18: operation-subset routing (publication `publish=` filter,
    publication/operation.go:10-57)."""
    return df.filter(F.col("op").isin(list(ops)))


def assemble_committed(df: DataFrame, aborted: Column) -> DataFrame:
    """O7/O8 txn assembly: drop events of aborted transactions. With the
    real stream source this happens in per-XID state (StreamAbort discards
    the buffer, stream.go:263-278); batch-side it is a predicate."""
    return df.filter(~aborted)


def toast_fill(df: DataFrame, value_col: str = "after_val") -> DataFrame:
    """O6 TOAST repair generalized to a stream: a NULL new-image value means
    'unchanged' (tuple tag 'u', tuple/data.go:10-15), so carry forward the
    last non-null image for the same key in LSN order — but NOT across a
    DELETE: after the key is deleted there is no old image to repair from,
    so the carry-forward epoch resets (`del_epoch` = running count of 'D').

    One window pass (single shuffle + single sort on (pk, lsn)): instead of
    partitioning a second window by del_epoch, each row carries a marker —
    a DELETE is a 'reset' marker (its shipped image, if any, must never be
    carried forward: replica-identity-full Ds carry the OLD row —
    update.go:102-109), a non-null image is a value marker. The fill is the
    last marker's value, nulled when that marker is a reset. del_epoch is a
    running sum over the same window spec, so Catalyst evaluates both in
    one WindowExec."""
    w = Window.partitionBy("pk").orderBy(*_order_cols(df))
    marker = F.when(
        (F.col("op") == "D") | F.col(value_col).isNotNull(),
        F.struct((F.col("op") == "D").alias("reset"), F.col(value_col).alias("v")),
    )
    last_m = F.last(marker, ignorenulls=True).over(w)
    return df.withColumn(
        "del_epoch",
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).over(w).cast("long"),
    ).withColumn("filled_val", F.when(~last_m["reset"], last_m["v"]))


def before_image(df: DataFrame, value_col: str = "after_val") -> DataFrame:
    """O5/O6: reconstruct each UPDATE's old image (REPLICA IDENTITY FULL
    analogue) — the last non-null image strictly before the event, never
    crossing a DELETE, and never taking a DELETE's own shipped image (a
    replica-identity-full D carries the OLD row in its payload; it is not a
    surviving image to inherit — update.go:102-109 semantics)."""
    w = Window.partitionBy("pk").orderBy(*_order_cols(df))
    df = df.withColumn(
        "del_epoch",
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).over(w).cast("long"),
    )
    w2 = (
        Window.partitionBy("pk", "del_epoch")
        .orderBy(*_order_cols(df))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    masked = F.when(F.col("op") == "D", F.lit(None)).otherwise(F.col(value_col))
    return df.withColumn("before_val", F.last(masked, ignorenulls=True).over(w2))


def latest_state(df: DataFrame) -> DataFrame:
    """O29 + SURVEY §2.2 'CDC-merge idiom': the queryable current state of a
    table from its change stream — max-LSN-wins per key, DELETE removes the
    key. This is what `foreachBatch` MERGE does incrementally; expressed
    relationally it is row_number()=1 over (pk ORDER BY lsn DESC)."""
    key = _event_key(df)
    df = toast_fill(df)
    # max-key-wins via an order-free MAX window: (lsn[, txn_seq]) is unique
    # per key, so key == max(key) selects exactly the latest row — and
    # unlike a DESC row_number it needs no third sort (the fill's (pk, ...)
    # sort already satisfies the partition-only requirement). The struct
    # key matters for commit-rewritten envelopes, where every row of a
    # transaction shares the commit lsn and only txn_seq splits them.
    w = Window.partitionBy("pk")
    return (
        df.withColumn("max_k", F.max(key).over(w))
        .filter((key == F.col("max_k")) & (F.col("op") != "D"))
        .select(
            "pk",
            F.col("filled_val").alias("last_val"),
            F.col("lsn").alias("last_lsn"),
            F.col("op").alias("last_op"),
        )
    )


def changes_between(df: DataFrame, lsn_a: int, lsn_b: int) -> DataFrame:
    """Net-change CDC feed between two watermarks (the Delta 'change data
    feed' / `table_changes(a, b)` idiom, re-derived from the log): the
    MINIMAL I/U/D row set a consumer holding state-as-of `lsn_a` must
    apply to reach state-as-of `lsn_b`. Keys touched and reverted inside
    the window collapse away (net semantics); TOAST-unchanged NULLs
    inherit through the fill, so a 'U' row always carries real before
    and after images when the log has them.

    One shuffle total: the TOAST fill's (pk, lsn) window and the per-pk
    conditional `max_by` aggregation share the hash(pk) clustering —
    both watermark states come out of a single pass over the log, no
    self-join of two latest_state materializations."""
    if lsn_a > lsn_b:
        raise ValueError(f"watermarks out of order: {lsn_a} > {lsn_b}")
    key = _event_key(df)
    filled = toast_fill(df)
    snap = F.struct(F.col("op"), F.col("filled_val"))
    st = filled.groupBy("pk").agg(
        F.max_by(snap, F.when(F.col("lsn") <= lsn_a, key)).alias("sa"),
        F.max_by(snap, F.when(F.col("lsn") <= lsn_b, key)).alias("sb"),
    )
    # presence is never NULL: isNotNull() is false for a missing side and
    # false AND <anything> = false
    present_a = F.col("sa").isNotNull() & (F.col("sa.op") != "D")
    present_b = F.col("sb").isNotNull() & (F.col("sb.op") != "D")
    before = F.when(present_a, F.col("sa.filled_val"))
    after = F.when(present_b, F.col("sb.filled_val"))
    change = (
        F.when(~present_a & present_b, "I")
        .when(present_a & ~present_b, "D")
        .when(present_a & present_b & ~before.eqNullSafe(after), "U")
    )
    return (
        st.withColumn("change_op", change)
        .filter(F.col("change_op").isNotNull())
        .select(
            "pk",
            "change_op",
            before.alias("before_val"),
            after.alias("after_val"),
        )
    )


def snapshot_handoff(df: DataFrame, snapshot_lsn: int) -> DataFrame:
    """O28 snapshot→CDC handoff: rows with lsn <= snapshot_lsn arrive via
    the chunked snapshot (collapsed to current-state rows, op='R'), later
    ones via the stream. Union, TOAST-fill (the snapshot image is the old
    image for post-handoff TOAST updates), then max-LSN-wins. The result
    must equal `latest_state` over the whole log — the reference's
    no-gap-no-duplicate invariant
    (integration_test/snapshot_consistency_test.go:18-26)."""
    snap = df.filter(F.col("lsn") <= snapshot_lsn)
    stream = df.filter(F.col("lsn") > snapshot_lsn)
    snap_rows = latest_state(snap).select(
        "pk",
        F.col("last_lsn").alias("lsn"),
        F.lit("R").alias("op"),
        F.col("last_val").alias("after_val"),
    )
    stream_rows = stream.select("pk", "lsn", "op", "after_val")
    if "txn_seq" in df.columns:
        # commit-rewritten envelope: preserve the intra-transaction order
        # key on the stream side; consolidated snapshot rows sit strictly
        # below snapshot_lsn, so 0 never ties with a stream event
        snap_rows = snap_rows.withColumn("txn_seq", F.lit(0).cast("long"))
        stream_rows = stream.select("pk", "lsn", "txn_seq", "op", "after_val")
    unioned = snap_rows.unionByName(stream_rows)
    key = _event_key(unioned)
    filled = toast_fill(unioned)
    w = Window.partitionBy("pk")
    return (
        filled.withColumn("max_k", F.max(key).over(w))
        .filter((key == F.col("max_k")) & (F.col("op") != "D"))
        .select(
            "pk",
            F.col("filled_val").alias("last_val"),
            F.col("lsn").alias("last_lsn"),
            F.when(F.col("op") == "R", "snapshot").otherwise("stream").alias("src"),
        )
    )


def agg_view_deltas(
    df: DataFrame,
    grp_of,
    before_col: str = "before_val",
    after_col: str = "after_val",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Signed delta rows for incremental aggregate-view maintenance (IVM):
    each change event contributes up to TWO (grp, dk, dv) rows — a
    retraction from the old image's group and an insertion into the new
    image's group. Folding these by group (``fold_agg_deltas``) maintains
    per-group (count, sum) WITHOUT recomputing latest-state: the classic
    materialized-view-over-CDC idiom (the reference's sink callback is
    exactly where users hand-roll this; SURVEY.md §2.1 O21).

    Requires real before images (REPLICA IDENTITY FULL — update.go:102-109
    ships the old row on U/D): presence-before is derived from the op
    (I = absent, U/D = present), presence-after from op != 'D'. A
    TOAST-unchanged after image (NULL with a non-null before) inherits the
    before value — tag 'u' means "same as old" (tuple/data.go:10-15).

    ``grp_of`` maps a DECIMAL value column to its group key; group-key
    CHANGES across an update retract from the old group and insert into
    the new one, so view rows migrate correctly.

    100 TB shape: a pure narrow map — no window, no pk shuffle, no per-key
    state. The only exchange downstream is the group-key fold, whose
    map-side partials emit <= n_groups rows per task. Compare
    ``latest_state`` + re-aggregate: a full pk shuffle of the whole log
    per refresh. Deltas are exact DECIMAL arithmetic, so folds are
    order-independent and telescope to the true view state."""
    v_new = F.coalesce(
        F.col(after_col).cast("decimal(18,2)"),
        F.col(before_col).cast("decimal(18,2)"),
    )
    v_old = F.col(before_col).cast("decimal(18,2)")
    present_old = F.col("op").isin("U", "D")
    present_new = F.col("op") != "D"
    zero = F.lit("0").cast("decimal(18,2)")
    extras = tuple(F.col(c).alias(c) for c in extra_cols)
    retract = F.when(
        present_old,
        F.struct(
            grp_of(v_old).alias("grp"),
            F.lit(-1).alias("dk"),
            (-F.coalesce(v_old, zero)).cast("decimal(18,2)").alias("dv"),
            *extras,
        ),
    )
    insert = F.when(
        present_new,
        F.struct(
            grp_of(v_new).alias("grp"),
            F.lit(1).alias("dk"),
            F.coalesce(v_new, zero).cast("decimal(18,2)").alias("dv"),
            *extras,
        ),
    )
    return (
        df.select(F.explode(F.array(retract, insert)).alias("d"))
        .filter(F.col("d").isNotNull())
        .select("d.*")
    )


def fold_agg_deltas(deltas: DataFrame) -> DataFrame:
    """Fold (grp, dk, dv) delta rows into view state (grp, n_keys,
    sum_val): one group-key shuffle with map-side partial aggregation
    (<= n_groups partial rows per task regardless of data size — group
    skew is a non-issue for associative sums). Groups whose live-key
    count telescopes to zero vanish, matching a from-scratch groupBy over
    latest state. sum_val leaves as DOUBLE via one exact decimal->double
    conversion, avg_val as exact-sum / count — ONE IEEE division,
    identical on both engines (registry determinism rules). var_val
    (population variance) is ALSO self-maintainable under deletes — the
    signed SQUARED delta dk*dv² folds exactly like the sum (the second
    moment telescopes the same way) — and leaves through the fixed
    IEEE sequence (ssq - (sum*sum)/n)/n over the two exact sums, which
    both engines evaluate identically."""
    sq = F.col("dv") * F.col("dv")  # decimal(37,4), exact
    signed_sq = F.when(F.col("dk") == 1, sq).otherwise(-sq)
    out = (
        deltas.groupBy("grp")
        .agg(
            F.sum("dk").cast("long").alias("n_keys"),
            F.sum("dv").alias("_sum"),
            F.sum(signed_sq).alias("_ssq"),
        )
        .filter(F.col("n_keys") > 0)
    )
    sum_d = F.col("_sum").cast("double")
    ssq_d = F.col("_ssq").cast("double")
    return out.select(
        "grp",
        "n_keys",
        sum_d.alias("sum_val"),
        (sum_d / F.col("n_keys")).alias("avg_val"),
        ((ssq_d - sum_d * sum_d / F.col("n_keys")) / F.col("n_keys")).alias(
            "var_val"
        ),
    )


def log_view_deltas(
    df: DataFrame, grp_of, value_col: str = "after_val", seed_op: str | None = None
) -> DataFrame:
    """``agg_view_deltas`` for a raw changelog WITHOUT shipped before
    images (the batch/backfill arm): reconstructs each event's
    before-state with the same (pk, lsn[, txn_seq]) window the TOAST fill
    uses — presence-before from lag(op) (absent after a DELETE or at key
    birth), value-before from lag(filled_val), which IS the key's state
    value after the previous event. One shuffle + one sort total:
    lag(filled_val) reads a column the fill's own window computes, so it
    sits in a second WindowExec stacked on the first — but both share the
    (pk, order) partitioning and sort, so EnsureRequirements inserts no
    new exchange and no re-sort. On a live
    stream with REPLICA IDENTITY FULL use ``agg_view_deltas`` directly —
    zero shuffles, zero per-key state.

    ``seed_op``: rows with this op (e.g. 'R' rows carrying the mirror's
    pre-batch images into a micro-batch) provide before-state CONTEXT to
    the lag but generate no deltas of their own — their state was
    already counted when it first streamed."""
    w = Window.partitionBy("pk").orderBy(*_order_cols(df))
    # materialize the lags before the generator: explode()'s projection
    # cannot host window expressions
    filled = (
        toast_fill(df, value_col)
        .withColumn("_prev_op", F.lag("op").over(w))
        .withColumn("_prev_val", F.lag("filled_val").over(w))
    )
    v_old = F.col("_prev_val").cast("decimal(18,2)")
    v_new = F.col("filled_val").cast("decimal(18,2)")
    not_seed = F.lit(True) if seed_op is None else (F.col("op") != seed_op)
    present_old = (
        F.col("_prev_op").isNotNull() & (F.col("_prev_op") != "D") & not_seed
    )
    present_new = (F.col("op") != "D") & not_seed
    zero = F.lit("0").cast("decimal(18,2)")
    retract = F.when(
        present_old,
        F.struct(
            grp_of(v_old).alias("grp"),
            F.lit(-1).alias("dk"),
            (-F.coalesce(v_old, zero)).cast("decimal(18,2)").alias("dv"),
        ),
    )
    insert = F.when(
        present_new,
        F.struct(
            grp_of(v_new).alias("grp"),
            F.lit(1).alias("dk"),
            F.coalesce(v_new, zero).cast("decimal(18,2)").alias("dv"),
        ),
    )
    return (
        filled.select(F.explode(F.array(retract, insert)).alias("d"))
        .filter(F.col("d").isNotNull())
        .select("d.*")
    )


def value_group(n_groups: int = 8):
    """Default view group key: pmod(floor(value), n) over the DECIMAL
    value — value-derived on purpose, so ordinary UPDATEs move keys
    between groups and exercise the two-sided delta. NULL value (a key
    whose images are all TOAST-unchanged) maps to the NULL group."""

    def grp(col: Column) -> Column:
        return F.pmod(F.floor(col).cast("long"), F.lit(n_groups))

    return grp


def commit_order(df: DataFrame) -> DataFrame:
    """O7's commit-LSN rewrite, relationally: each event is attributed its
    transaction's end LSN (the reference rewrites the last DML's WAL
    position to the Commit's TransactionEndLSN, stream.go:444-480), plus its
    position within the transaction. Downstream ordering by
    (commit_lsn, txn_seq) reproduces the reference's emission order
    (concurrent_tx_ordering_test.go:18-21) without a global sort.

    Rows from the socket transport arrive ALREADY rewritten (`lsn` is the
    commit end LSN, `txn_seq` the intra-transaction position) — for those
    this is a pure aliasing projection, no window at all. The relational
    reconstruction below serves flat fixtures whose per-row lsns are raw
    unique positions."""
    if "txn_seq" in df.columns:
        return df.withColumn("commit_lsn", F.col("lsn"))
    w_txn = Window.partitionBy("xid")
    w_seq = Window.partitionBy("xid").orderBy("lsn")
    return df.withColumn("commit_lsn", F.max("lsn").over(w_txn)).withColumn(
        "txn_seq", F.row_number().over(w_seq).cast("long")
    )
