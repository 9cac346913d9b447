"""test_decoding transport decode — the poll transport's second parser arm.

`pg_logical_slot_peek_changes(..., 'test_decoding')` yields one TEXT line
per action:

    BEGIN 770
    table public.users: INSERT: id[bigint]:1 val[text]:'a ''quoted'' v'
    table public.users: UPDATE: old-key: id[bigint]:1 new-tuple: id[bigint]:1 val[text]:'b'
    table public.users: DELETE: id[bigint]:1 val[text]:'b'
    table public.users: TRUNCATE: (no flags)
    COMMIT 770 (at 2026-01-01 00:00:00.123456+00)

This module turns a DataFrame of raw `(lsn, xid, data)` rows into the same
normalized change envelope `sources.wal2json.decode_wal2json` emits — all
JVM-side (regexp over Catalyst columns, no Python in the row path; the
reference's decode loop `pq/message/message.go:42-73` re-expressed
declaratively over the text plugin every PostgreSQL build ships).

Why this exists: the reference validates its transport end-to-end against a
real server in every integration scenario
(`/root/reference/integration_test/main_test.go:30-80`). The engine's poll
transport documents wal2json as the production plugin, but PostgreSQL
builds without wal2json.so always have `test_decoding` (a contrib plugin
compiled with the server) — this arm lets the SAME SlotKeeper → segment log
→ streaming pipeline be exercised against a live walsender-less slot when
wal2json is absent, and serves as a no-extra-extension fallback.

Parsing contract (honest limits — test_decoding is a debugging plugin with
no machine-readable framing):

* The tuple grammar `name[type]:value` is parsed with a `\\G`-anchored
  regex, so matching is CONTIGUOUS left-to-right: quoted values containing
  spaces, `[`/`]`, doubled quotes (``''``) and even pair-shaped text never
  desynchronize the scan (a non-anchored scan would match inside quoted
  values).
* The UPDATE old/new split matches the OLD image as an ATOMIC
  (possessive, `*+`) run of grammar pairs followed by the literal
  ` new-tuple: ` — the pair token consumes quoted values whole, and the
  possessive quantifier forbids backtracking INTO a quoted value, so an
  old value containing the literal `' new-tuple: '` splits correctly
  (r8's documented mis-split caveat, now closed). Lines the anchored
  pattern cannot parse fall back to the first-delimiter split; rows that
  fail the grammar entirely are routed to `test_decoding_rejects`, never
  silently dropped.
* test_decoding emits no per-table filtering server-side (wal2json's
  `add-tables`); pass `tables=` to filter client-side after decode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# One `name[type]:value` pair. \G anchors each match to the end of the
# previous one (contiguous scan), so quoted values can never be re-entered
# as false pair starts. Groups: 1 = name (optionally "quoted"), 2 = type
# (lazy — stops at the first `]:` so `integer[]` array types work),
# 3 = value ('quoted with doubled quotes' or a single bare token).
_PAIR = r"\G\s*(\"(?:[^\"]|\"\")+\"|[^\s\[\]\":]+)\[(.*?)\]:('(?:[^']|'')*'|\S+)"

# DML line prefix: `table <qualified[, qualified...]>: <OP>: <tuple part>`.
_DML_PREFIX = r"^table (.*?): (INSERT|UPDATE|DELETE|TRUNCATE): ?"

# One pair WITHOUT the \G anchor (non-capturing) — the building block of
# the UPDATE old/new split below. The quoted-value alternative consumes a
# whole 'quoted literal' (including any ` new-tuple: ` inside it).
_PAIR_TOKEN = (
    r"""\s*(?:"(?:[^"]|"")+"|[^\s\[\]":]+)\[.*?\]:(?:'(?:[^']|'')*'|\S+)"""
)
# UPDATE content anchored as: old image = an ATOMIC run of pairs (`*+`
# possessive: the regex engine may not backtrack into a quoted value to
# manufacture an earlier split point), then the literal delimiter, then
# the new image. Group 1 = old pairs, group 2 = new tuple text.
_OLD_NEW = r"^old-key: ((?:" + _PAIR_TOKEN + r")*+) new-tuple: (.*)$"

_OP_CODE = {"INSERT": "I", "UPDATE": "U", "DELETE": "D", "TRUNCATE": "T"}


def _norm_name(n: Column) -> Column:
    """Strip identifier quoting: `"a name"` -> `a name`, `""` -> `"`."""
    return F.when(
        n.startswith('"'),
        F.regexp_replace(n.substr(F.lit(2), F.length(n) - 2), '""', '"'),
    ).otherwise(n)


def _norm_val(v: Column) -> Column:
    """'quoted' -> unquoted with '' unescaped; bare `null` -> SQL NULL
    (the tuple-tag 'n' analogue); bare `unchanged-toast-datum` -> SQL NULL
    (the tuple-tag 'u' analogue — the envelope's NULL-means-unchanged
    convention `operators.cdc.toast_fill` repairs, same as the pgoutput
    path's UNCHANGED_TOAST sentinel); other bare tokens pass through."""
    return (
        F.when(
            v.isin("null", "unchanged-toast-datum"), F.lit(None).cast("string")
        )
        .when(
            v.startswith("'"),
            F.regexp_replace(v.substr(F.lit(2), F.length(v) - 2), "''", "'"),
        )
        .otherwise(v)
    )


def _pairs_to_map(part: Column) -> Column:
    """Tuple text -> map<name, value-as-string> (the envelope's transport
    image). Empty / `(no-tuple-data)` -> NULL map."""
    names = F.regexp_extract_all(part, F.lit(_PAIR), F.lit(1))
    vals = F.regexp_extract_all(part, F.lit(_PAIR), F.lit(3))
    entries = F.zip_with(
        names,
        vals,
        lambda n, v: F.struct(_norm_name(n).alias("k"), _norm_val(v).alias("v")),
    )
    return F.when(
        part.isNull() | (part == "") | part.startswith("(no-tuple-data)"),
        F.lit(None),
    ).otherwise(F.map_from_entries(entries))


def _commit_ts(raw: DataFrame, data_col: str) -> DataFrame:
    """(xid, commit_ts) from COMMIT marker lines (include-timestamp). The
    zone arrives as a bare offset (`+00`); Spark's parser wants `+00:00`."""
    ts_text = F.regexp_extract(F.col(data_col), r"\(at ([^)]+)\)", 1)
    ts_text = F.regexp_replace(ts_text, r"([+-]\d{2})$", "$1:00")
    return (
        raw.filter(F.col(data_col).startswith("COMMIT"))
        .groupBy(F.col("xid").cast("long").alias("xid"))
        .agg(F.max(F.to_timestamp(ts_text)).alias("commit_ts"))
    )


def decode_test_decoding(
    raw: DataFrame, data_col: str = "data", tables: list[str] | None = None
) -> DataFrame:
    """(lsn, xid, data-text) -> change envelope rows
    (`op/lsn/xid/commit_ts/schema/table/before/after`) — the same shape as
    `decode_wal2json`, so everything downstream (typed projection, TOAST
    fill, mirror merge) is transport-agnostic.

    BEGIN/COMMIT markers are consumed here: COMMIT carries the only
    timestamp test_decoding prints, joined back onto the transaction's DML
    rows by xid (commits per poll batch are few; the join is on the
    already-narrow marker frame). TRUNCATE lines naming several relations
    fan out to one op='T' row per table. `tables` filters client-side
    (qualified names) — test_decoding has no server-side table filter.

    Streaming input: the per-xid commit-ts aggregate+join is not
    expressible incrementally on an unbounded stream (Spark demands
    watermarked stream-stream machinery), so a streaming `raw` gets
    commit_ts = NULL here; the engine's mirror path instead streams RAW
    segments and runs this decode per micro-batch inside the sink
    (`CdcEngine.start(transport="test_decoding")`). The keeper cuts
    raw segments at COMMIT boundaries (SlotKeeper.poll_once, r9 — the
    pgoutput pump's whole-transaction contract on the poll arm), so every
    transaction's COMMIT lands in the same micro-batch as its rows and
    the join is exact on any batch boundary. Ordering never depends on
    commit_ts — the merge orders on (lsn, txn_seq)."""
    d = F.col(data_col)
    dml = raw.filter(d.rlike(_DML_PREFIX)).select(
        F.col("lsn").cast("long").alias("lsn"),
        F.col("xid").cast("long").alias("xid"),
        F.regexp_extract(d, _DML_PREFIX, 1).alias("tbl"),
        F.regexp_extract(d, _DML_PREFIX, 2).alias("op_word"),
        F.regexp_replace(d, _DML_PREFIX, "").alias("content"),
    )
    # UPDATE old/new split: atomic pair-run match first (correct even when
    # a quoted old value contains the literal ` new-tuple: ` — see module
    # docstring), first-delimiter split as the fallback for lines the
    # anchored grammar cannot parse. `old-key: ` prefix marks the old
    # image when replica identity sends one.
    has_old = (F.col("op_word") == "UPDATE") & F.col("content").startswith(
        "old-key: "
    )
    rx_old = F.regexp_extract(F.col("content"), _OLD_NEW, 1)
    rx_new = F.regexp_extract(F.col("content"), _OLD_NEW, 2)
    rx_matched = has_old & (rx_new != "")
    split_at = F.instr(F.col("content"), " new-tuple: ")
    old_part = F.when(rx_matched, rx_old).when(
        has_old & (split_at > 0),
        F.col("content").substr(F.lit(10), split_at - 10),
    )
    new_part = (
        F.when(rx_matched, rx_new)
        .when(
            has_old & (split_at > 0),
            F.col("content").substr(
                split_at + F.lit(12), F.length("content") - split_at
            ),
        )
        .when(F.col("op_word") == "UPDATE", F.col("content"))
        .when(F.col("op_word") == "INSERT", F.col("content"))
    )
    del_part = F.when(F.col("op_word") == "DELETE", F.col("content"))
    env = (
        dml
        # TRUNCATE: `table s.a, s.b: TRUNCATE: ...` -> one row per relation
        .withColumn("tbl1", F.explode(F.split(F.col("tbl"), ", ")))
        .select(
            F.element_at(
                F.create_map([F.lit(x) for kv in _OP_CODE.items() for x in kv]),
                F.col("op_word"),
            ).alias("op"),
            "lsn",
            "xid",
            F.substring_index(F.col("tbl1"), ".", 1).alias("schema"),
            F.substring_index(F.col("tbl1"), ".", -1).alias("table"),
            F.when(F.col("op_word") == "TRUNCATE", F.lit(None))
            .otherwise(_pairs_to_map(F.coalesce(old_part, del_part)))
            .alias("before"),
            F.when(F.col("op_word") == "TRUNCATE", F.lit(None))
            .otherwise(_pairs_to_map(new_part))
            .alias("after"),
        )
    )
    if raw.isStreaming:
        env = env.withColumn("commit_ts", F.lit(None).cast("timestamp"))
    else:
        env = env.join(_commit_ts(raw, data_col), "xid", "left")
    env = env.select(
        "op", "lsn", "xid", "commit_ts", "schema", "table", "before", "after"
    )
    if tables:
        env = env.filter(F.concat_ws(".", "schema", "table").isin(tables))
    return env


def test_decoding_rejects(raw: DataFrame, data_col: str = "data") -> DataFrame:
    """Dead-letter accessor (the disjointness twin of `wal2json_rejects`):
    rows that are neither txn markers (BEGIN/COMMIT), nor logical messages
    (`message:` lines), nor grammar-conforming DML. A silently vanishing
    change is data loss for an at-least-once engine — route these to a
    reject sink and alert on nonzero counts."""
    d = F.col(data_col)
    marker = d.rlike(r"^(BEGIN|COMMIT)\b") | d.startswith("message:")
    return raw.filter(~marker & ~d.rlike(_DML_PREFIX))
