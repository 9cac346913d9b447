"""wal2json transport decode (reference O4/O5 over the pragmatic transport).

`pg_logical_slot_get_changes(... 'wal2json')` (or a Kafka topic fed by it)
yields one JSON document per transaction in wal2json format-v2-ish shape:

    {"action":"I","schema":"public","table":"users",
     "columns":[{"name":"id","type":"integer","value":1}, ...],
     "identity":[{"name":"id","type":"integer","value":1}, ...]}

plus B/C records for txn boundaries. This module turns a DataFrame of raw
`(lsn, xid, data)` rows into the normalized change envelope with
`from_json` — all JVM-side, no Python in the row path (the reference's
decode loop `pq/message/message.go:42-73` + `tuple/data.go:52-95`,
re-expressed declaratively).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COL_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("value", T.StringType()),
        ]
    )
)

WAL2JSON_SCHEMA = T.StructType(
    [
        T.StructField("action", T.StringType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("columns", _COL_SCHEMA),
        T.StructField("identity", _COL_SCHEMA),
    ]
)


def _to_map(col: Column) -> Column:
    """columns/identity array -> map<name, value-as-string> (the envelope's
    schema-evolution-proof string-map transport image)."""
    return F.map_from_entries(
        F.transform(col, lambda c: F.struct(c["name"].alias("k"), c["value"].alias("v")))
    )


def decode_wal2json(raw: DataFrame, data_col: str = "data") -> DataFrame:
    """(lsn, xid, data-json) -> change envelope rows.

    Emits `op/lsn/xid/commit_ts/schema/table/before/after`; B/C records are
    consumed for commit timestamps upstream and dropped here (the stream
    source assigns batch boundaries from LSN ranges; txn markers only
    matter to the txn buffer, which reads them before this projection)."""
    parsed = raw.withColumn("j", F.from_json(F.col(data_col), WAL2JSON_SCHEMA))
    return (
        parsed.filter(F.col("j.action").isin("I", "U", "D", "T"))
        .select(
            F.col("j.action").alias("op"),
            F.col("lsn").cast("long").alias("lsn"),
            F.col("xid").cast("long").alias("xid"),
            F.to_timestamp(F.col("j.timestamp")).alias("commit_ts"),
            F.coalesce(F.col("j.schema"), F.lit("public")).alias("schema"),
            F.col("j.table").alias("table"),
            _to_map(F.col("j.identity")).alias("before"),
            _to_map(F.col("j.columns")).alias("after"),
        )
    )


# All action codes wal2json format-2 emits (B/C consumed upstream for txn
# boundaries, M = logical message — skipped like the socket path's 'M').
_WAL2JSON_ACTIONS = ("B", "C", "I", "U", "D", "T", "M")


def wal2json_rejects(raw: DataFrame, data_col: str = "data") -> DataFrame:
    """Dead-letter accessor: rows whose payload is NOT a well-formed
    wal2json record — unparseable JSON (`from_json` -> NULL struct) or a
    parsed object without a recognized `action`. `decode_wal2json`'s
    action filter would silently DROP these; for an at-least-once CDC
    engine a silently vanishing change is data loss, so callers route
    this frame to a reject sink / metric and alert on nonzero counts.
    Disjointness contract (tested): every input row lands in exactly one
    of decode_wal2json / consumed-marker (B/C/M) / rejects."""
    parsed = raw.withColumn("j", F.from_json(F.col(data_col), WAL2JSON_SCHEMA))
    bad = F.col("j").isNull() | F.col("j.action").isNull() | (
        ~F.col("j.action").isin(*_WAL2JSON_ACTIONS)
    )
    return parsed.filter(bad).drop("j")
