"""M0 envelope unit tests: type mapping fidelity (SURVEY §1.3) + typed
projection + TOAST map coalesce — the golden decode layer the reference
covers with pq/message/format/*_test.go."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_pq_cdc_spark.envelope import (
    CHANGE_EVENT_SCHEMA,
    pg_type_to_spark,
    table_struct,
    toast_coalesce,
    typed_projection,
)


def test_pg_type_mapping():
    cases = {
        "int2": T.ShortType(),
        "int4": T.IntegerType(),
        "int8": T.LongType(),
        "bigint": T.LongType(),
        "float4": T.FloatType(),
        "double precision": T.DoubleType(),
        "bool": T.BooleanType(),
        "text": T.StringType(),
        "uuid": T.StringType(),
        "bytea": T.BinaryType(),
        "date": T.DateType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "numeric": T.DecimalType(38, 18),
        "numeric(10,2)": T.DecimalType(10, 2),
        "varchar(255)": T.StringType(),
        "jsonb": T.StringType(),
    }
    for pg, expected in cases.items():
        assert pg_type_to_spark(pg) == expected, pg


def test_array_and_unknown_types():
    assert pg_type_to_spark("_int4") == T.ArrayType(T.IntegerType())
    assert pg_type_to_spark("int8[]") == T.ArrayType(T.LongType())
    # unknown OIDs degrade to string (reference tuple/data.go:100-101)
    assert pg_type_to_spark("some_composite_type") == T.StringType()


def test_typed_projection_and_toast(spark):
    rows = [
        Row(
            op="U",
            lsn=10,
            xid=1,
            commit_ts=None,
            message_ts=None,
            schema="public",
            table="users",
            before={"id": "1", "name": "alice", "bio": "long-toast-text"},
            after={"id": "1", "name": "alice2", "bio": None},  # TOAST unchanged
        ),
        Row(
            op="I",
            lsn=11,
            xid=1,
            commit_ts=None,
            message_ts=None,
            schema="public",
            table="users",
            before=None,
            after={"id": "2", "name": "bob", "bio": "hi"},
        ),
    ]
    df = spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)
    # O6: repaired new image = after coalesced with before per key
    repaired = df.withColumn(
        "after_fixed",
        F.when(
            F.col("before").isNotNull(), toast_coalesce(F.col("after"), F.col("before"))
        ).otherwise(F.col("after")),
    )
    struct = table_struct([("id", "int8"), ("name", "text"), ("bio", "text")])
    typed = repaired.select(*typed_projection(F.col("after_fixed"), struct))
    out = {r["id"]: r for r in typed.collect()}
    assert out[1]["bio"] == "long-toast-text"  # TOAST repaired from old image
    assert out[1]["name"] == "alice2"  # real update kept
    assert out[2]["bio"] == "hi"
    assert isinstance(out[1]["id"], int)


def test_typed_projection_bytea_hex_decode(spark):
    """bytea wire text is PG hex format ('\\xDEADBEEF'): the typed
    projection must decode the hex payload, not keep the literal string's
    UTF-8 bytes (which a plain cast does)."""
    df = spark.createDataFrame(
        [Row(after={"payload": r"\x68656c6c6f", "raw": "already-binary"})],
        "after map<string,string>",
    )
    schema = table_struct([("payload", "bytea"), ("raw", "bytea")])
    out = df.select(*typed_projection(F.col("after"), schema)).collect()[0]
    assert bytes(out["payload"]) == b"hello"
    assert bytes(out["raw"]) == b"already-binary"  # non-hex falls through


def test_socket_typed_decode_arrays_numeric_jsonb(spark, ddb):
    """r4 verdict item 4: _int4 / _text / numeric / jsonb columns survive
    socket -> envelope -> typed projection end-to-end, with values equal to
    DuckDB casts of the same wire text (pgtype parity,
    ref pq/message/tuple/data.go:97-102)."""
    import struct as _s

    from go_pq_cdc_spark.sources.pgoutput import (
        PgOutputDecoder,
        XLogData,
        frames_to_envelope,
        pg_type_name,
    )

    from .test_pgoutput import insert_msg, relation_msg

    cols = (
        ("id", 20, True),       # int8
        ("nums", 1007, False),  # _int4
        ("bal", 1700, False),   # numeric
        ("doc", 3802, False),   # jsonb
        ("tags", 1009, False),  # _text
        ("grid", 1022, False),  # _float8
    )
    vals = (
        "7",
        "{1,2,NULL}",
        "12345.678912",
        '{"k": [1, 2]}',
        '{x,"y z"}',
        "{0.5,2.25}",
    )
    frames = [
        XLogData(10, 10, 0, relation_msg(cols=cols)),
        XLogData(11, 11, 0, b"B" + _s.pack(">QqI", 20, 5, 900)),
        XLogData(12, 12, 0, insert_msg(vals=vals)),
        XLogData(20, 20, 0, b"C" + _s.pack(">bQQq", 0, 20, 21, 5)),
    ]
    (row,) = list(frames_to_envelope(frames))

    dec = PgOutputDecoder()
    dec.decode(relation_msg(cols=cols))
    schema = table_struct(
        [(c.name, pg_type_name(c.type_oid)) for c in dec.relations[16384].columns]
    )
    assert schema["nums"].dataType == T.ArrayType(T.IntegerType())
    assert schema["bal"].dataType == T.DecimalType(38, 18)
    assert schema["doc"].dataType == T.StringType()

    df = spark.createDataFrame([Row(after=row["after"])], "after map<string,string>")
    out = df.select(*typed_projection(F.col("after"), schema)).collect()[0]

    assert out["id"] == 7
    assert out["doc"] == '{"k": [1, 2]}'
    assert out["tags"] == ["x", "y z"]
    assert out["grid"] == [0.5, 2.25]
    # DuckDB casts of the same wire values are the ground truth
    assert out["nums"] == ddb.execute(
        "SELECT CAST(['1','2',NULL] AS INT[])"
    ).fetchone()[0]
    assert out["bal"] == ddb.execute(
        "SELECT CAST('12345.678912' AS DECIMAL(38,18))"
    ).fetchone()[0]
