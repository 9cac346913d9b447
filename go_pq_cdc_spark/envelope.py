"""M0 — normalized change-event envelope + PostgreSQL→Spark type mapping.

The reference delivers decoded WAL messages as Go structs
(`pq/message/format/{insert,update,delete,truncate}.go`); our engine
normalizes every change to ONE row schema so a single stream can carry all
tables (SURVEY.md §1.1). `before`/`after` are string maps at the transport
layer (schema-evolution-proof, mirroring the reference's `map[string]any`
from `pq/message/tuple/data.go:78-95`), with a typed `from_json`-style
projection layer per table.

Ops (reference tag bytes, `pq/message/message.go:42-73`):
  I=Insert  U=Update  D=Delete  T=Truncate  R=snapshot Read (Snapshot DATA,
  `pq/message/format/snapshot.go:19-28`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

OP_INSERT = "I"
OP_UPDATE = "U"
OP_DELETE = "D"
OP_TRUNCATE = "T"
OP_READ = "R"  # initial snapshot row
OPS = (OP_INSERT, OP_UPDATE, OP_DELETE, OP_TRUNCATE, OP_READ)

# The transport envelope. lsn is a uint64 in the reference (`pq/lsn.go:9-13`);
# Spark LongType covers practical WAL positions (< 2^63).
CHANGE_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("xid", T.LongType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
        T.StructField("message_ts", T.TimestampType(), True),
        T.StructField("schema", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("before", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# PG type name → Spark type (SURVEY.md §1.3; decoding in the reference is
# OID-driven via pgtype, `pq/message/tuple/data.go:97-102` — unknown types
# degrade to string, which we reproduce).
_PG_TO_SPARK: dict[str, T.DataType] = {
    "int2": T.ShortType(),
    "smallint": T.ShortType(),
    "int4": T.IntegerType(),
    "integer": T.IntegerType(),
    "int8": T.LongType(),
    "bigint": T.LongType(),
    "oid": T.LongType(),
    "float4": T.FloatType(),
    "real": T.FloatType(),
    "float8": T.DoubleType(),
    "double precision": T.DoubleType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "character varying": T.StringType(),
    "bpchar": T.StringType(),
    "character": T.StringType(),
    "name": T.StringType(),
    "uuid": T.StringType(),
    "json": T.StringType(),
    "jsonb": T.StringType(),
    "xml": T.StringType(),
    "bytea": T.BinaryType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamp without time zone": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "timestamp with time zone": T.TimestampType(),
    "time": T.StringType(),  # Spark has no TimeType; keep lexical
    "interval": T.DayTimeIntervalType(),
    "numeric": T.DecimalType(38, 18),
    "decimal": T.DecimalType(38, 18),
    "money": T.DecimalType(19, 2),
}


def pg_type_to_spark(pg_type: str) -> T.DataType:
    """Map a PostgreSQL type name to a Spark type.

    Arrays (`_int4` / `int4[]`) map to ArrayType(elem); unknown types fall
    back to StringType exactly like the reference's decode fallback
    (`pq/message/tuple/data.go:100-101`).
    """
    t = pg_type.strip().lower()
    if t.endswith("[]"):
        return T.ArrayType(pg_type_to_spark(t[:-2]))
    if t.startswith("_"):
        return T.ArrayType(pg_type_to_spark(t[1:]))
    if t.startswith("numeric(") or t.startswith("decimal("):
        inner = t[t.index("(") + 1 : t.rindex(")")]
        parts = [p.strip() for p in inner.split(",")]
        prec = int(parts[0])
        scale = int(parts[1]) if len(parts) > 1 else 0
        return T.DecimalType(prec, scale)
    for prefix in ("varchar(", "character varying(", "char(", "bpchar(", "character("):
        if t.startswith(prefix):
            return T.StringType()
    return _PG_TO_SPARK.get(t, T.StringType())


def table_struct(columns: list[tuple[str, str]]) -> T.StructType:
    """Build the typed per-table schema from (name, pg_type) pairs — the
    Spark analogue of the reference's Relation-message schema cache
    (`pq/message/format/relation.go:68-87`, `pq/message/message.go:64-69`)."""
    return T.StructType([T.StructField(n, pg_type_to_spark(t), True) for n, t in columns])


_STRUCTS: dict[str, T.StructType] = {}


def ddl_struct(ddl: str) -> T.StructType:
    """DDL string -> StructType, parsed once per process (the parser runs
    in the JVM: one round trip, no DataFrame). DDL-aware — a naive
    split(',') would shred types that contain commas (decimal(10,2),
    map<...>, struct<...>)."""
    st = _STRUCTS.get(ddl)
    if st is None:
        st = _STRUCTS[ddl] = T.StructType.fromDDL(ddl)
    return st


def _as_string_leaves(dt: T.DataType) -> T.DataType:
    """Mirror an (arbitrarily nested) ArrayType with StringType leaves —
    the parse schema for the transport's JSON-encoded array text."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_string_leaves(dt.elementType), True)
    return T.StringType()


def typed_projection(image: Column, schema: T.StructType) -> list[Column]:
    """The typed Columns of a string-map change image (`before`/`after`,
    or any map-valued expression), one per `schema` field, aliased by
    field name.

    Transport keeps maps for schema-evolution safety; consumers get typed
    columns via per-field cast — the engine-side analogue of the reference's
    OID decode step (`pq/message/tuple/data.go:52-95`).

    Array-typed fields arrive as JSON text — the socket path re-encodes PG
    `{1,2,3}` literals via `pgoutput.pg_array_text_to_json`, and wal2json
    emits JSON arrays natively (Spark's map<string,string> from_json keeps
    nested values as their raw JSON text) — so one `from_json` to a
    string-leaf array + an elementwise cast types both transports. Stays
    fully JVM-side: from_json + cast, no Python in the hot path."""
    cols = []
    for fld in schema.fields:
        raw = F.element_at(image, fld.name)
        if isinstance(fld.dataType, T.ArrayType):
            typed = F.from_json(raw, _as_string_leaves(fld.dataType)).cast(fld.dataType)
        elif isinstance(fld.dataType, T.BinaryType):
            # PG sends bytea as hex text ('\xDEADBEEF', the default output
            # since PG 9.0; both pgoutput wire text and wal2json use it). A
            # plain string->binary cast would keep the literal characters'
            # UTF-8 bytes — decode the hex payload instead; non-hex values
            # (already-raw binary mode) fall through to the cast.
            typed = F.when(
                raw.startswith("\\x"), F.unhex(F.substring(raw, 3, 2_147_483_647))
            ).otherwise(raw.cast(fld.dataType))
        else:
            typed = raw.cast(fld.dataType)
        cols.append(typed.alias(fld.name))
    return cols


def toast_coalesce(after: Column, before: Column) -> Column:
    """O6 TOAST repair: unchanged-TOAST columns are absent/NULL in the new
    image and must be taken from the old image — per-key coalesce over the
    two maps (`pq/message/format/update.go:102-109`)."""
    return F.map_zip_with(after, before, lambda _k, new, old: F.coalesce(new, old))
