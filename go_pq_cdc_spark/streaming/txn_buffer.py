"""O8 — streamed-transaction buffering as a stateful streaming operator.

pgoutput protocol v2 interleaves chunks of large in-progress transactions;
the reference buffers them per XID and emits only on StreamCommit /
discards on StreamAbort (`pq/replication/stream.go:217-278`, docs
PROTO_VERSION_SUPPORT.md §4). Here the same commit-safe delivery is an
`applyInPandasWithState` operator keyed by xid:

  * DML events accumulate in per-XID state (the reference holds them in an
    unbounded in-memory map — Spark's state store can spill, strictly
    better, SURVEY.md §4 'Spill-to-disk')
  * a COMMIT marker ('C') flushes the buffer downstream, stamping every
    event with the commit LSN (the TransactionEndLSN rewrite of O7)
  * an ABORT marker ('A') drops the buffer — aborted work never surfaces
  * abandoned-txn GC: the replication protocol always terminates a
    streamed txn with StreamCommit/StreamAbort, so state is bounded by
    in-flight txns; the hasTimedOut branch handles builds with working
    state timeouts
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("xid", LongType()),
        StructField("lsn", LongType()),
        StructField("op", StringType()),
        StructField("pk", LongType()),
        StructField("after_val", DoubleType()),
        StructField("commit_lsn", LongType()),
    ]
)

# Per-XID buffered events, columnar (arrays-of-fields pack into one state row).
STATE_SCHEMA = StructType(
    [
        StructField("lsns", ArrayType(LongType())),
        StructField("ops", ArrayType(StringType())),
        StructField("pks", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),
    ]
)


def _buffer_txn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (xid,) = key
    if state.hasTimedOut:
        # Abandoned in-progress txn: drop the buffer (reference relies on
        # WAL retention; a streaming operator must bound its state).
        state.remove()
        return
    if state.exists:
        lsns, ops, pks, vals = state.get
        lsns, ops, pks, vals = list(lsns), list(ops), list(pks), list(vals)
    else:
        lsns, ops, pks, vals = [], [], [], []

    commit_lsn = None
    aborted = False
    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            if row.op == "C":
                commit_lsn = int(row.lsn)
            elif row.op == "A":
                aborted = True
            else:
                lsns.append(int(row.lsn))
                ops.append(row.op)
                pks.append(int(row.pk))
                vals.append(None if pd.isna(row.after_val) else float(row.after_val))

    if aborted:
        state.remove()
        return
    if commit_lsn is not None:
        state.remove()
        if lsns:
            order = sorted(range(len(lsns)), key=lambda i: lsns[i])
            yield pd.DataFrame(
                {
                    "xid": [xid] * len(order),
                    "lsn": [lsns[i] for i in order],
                    "op": [ops[i] for i in order],
                    "pk": [pks[i] for i in order],
                    "after_val": [vals[i] for i in order],
                    "commit_lsn": [commit_lsn] * len(order),
                }
            )
        return
    state.update((lsns, ops, pks, vals))


def buffer_streamed_txns(stream_df: DataFrame) -> DataFrame:
    """Apply commit-safe per-XID buffering to a change stream that carries
    'C' (StreamCommit) and 'A' (StreamAbort) marker rows alongside DML."""
    return stream_df.groupBy("xid").applyInPandasWithState(
        _buffer_txn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        # ProcessingTimeTimeout hangs the state-cleanup micro-batch on
        # PySpark 4.1 local mode (worker crash loop) — staleness GC instead
        # relies on abort markers; the hasTimedOut branch stays for builds
        # where timeouts work.
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
