"""The mirror's bucket fold, in Arrow — the code a merge ships to its
Python workers, so it imports nothing of Spark or of the rest of the
package.

One function, `fold_bucket`, folds one bucket: the merge runs it once
per touched bucket inside a grouped-map task (`applyInArrow`, one Spark
job per batch), compaction and merge-on-read once per indebted bucket
(`mapInArrow` over the bucket ids), a rebucket once per new bucket, and
a point lookup on the driver. `BucketTask` reads the bucket's base and
delta files by manifest path and writes the bucket's new file itself,
through pyarrow.fs (`streaming.changelog_stream` owns the manifest, the
lock and the commit). Memory bound: one bucket's base, deltas and batch
rows are held in one Python worker — size buckets with
`suggest_mirror_buckets`.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq

# txn_seq assigned to stored mirror rows inside a merge: consolidated
# post-transaction state must order AFTER any replayed event of the same
# commit lsn (real txn_seq values are small positive ints).
STORED_ROW_SEQ = 1 << 62


def _last_key(lsn, seq) -> tuple[int, int]:
    """Max (lsn, txn_seq) over a few rows (the TRUNCATE rows of a batch)."""
    return max(zip(lsn.to_pylist(), seq.to_pylist()))


def fold_bucket(
    events: pa.Table,
    value_cols: tuple[str, ...],
    dropped=(),
    after: tuple[int, int] | None = None,
) -> pa.Table:
    """THE merge fold, shared by the cow merge, delta compaction, rebucket,
    merge-on-read and point lookups. `events` are (pk, lsn, op, txn_seq,
    *value_cols) rows: change events, or stored rows (op 'R',
    txn_seq=STORED_ROW_SEQ, so they out-order any replayed event of their
    own commit lsn). In order:

      * TRUNCATE: 'T' rows and every row at or before the last of them
        (or at or before `after`, a (lsn, txn_seq) position) die;
      * `dropped` columns read NULL, so the fill never resurrects them;
      * replayed events dedupe on (pk, lsn, txn_seq), preferring the
        stored 'R' row (it already carries the TOAST-repaired value);
      * per column, a NULL (TOAST-unchanged) value inherits the key's
        last non-NULL value, but never across a DELETE;
      * the max-(lsn, txn_seq) row per pk wins; a DELETE removes the key.

    A NULL pk is one key, as in a Spark window. Returns (pk, lsn, op='R',
    *value_cols), sorted by pk."""
    out_schema = pa.schema(
        [events.schema.field(c) for c in ("pk", "lsn", "op", *value_cols)]
    )
    i = events.schema.get_field_index("txn_seq")
    t = events.set_column(
        i, events.schema.field(i), pc.fill_null(events["txn_seq"], -(1 << 63))
    )
    is_t = pc.fill_null(pc.equal(t["op"], "T"), False)
    if pc.any(is_t).as_py():
        ts = t.filter(is_t)
        last = _last_key(ts["lsn"], ts["txn_seq"])
        after = last if after is None else max(after, last)
    if after is not None:
        lsn, seq = t["lsn"], t["txn_seq"]
        later = pc.or_(
            pc.greater(lsn, after[0]),
            pc.and_(pc.equal(lsn, after[0]), pc.greater(seq, after[1])),
        )
        t = t.filter(pc.fill_null(later, False))
    if t.num_rows == 0:
        return out_schema.empty_table()
    # sort by (pk, lsn, txn_seq) with a stored row first among identical
    # identities, so the dedup keeps the first row of each run
    t = t.append_column("_nr", pc.fill_null(pc.not_equal(t["op"], "R"), True))
    order = pc.sort_indices(
        t,
        sort_keys=[("pk", "ascending"), ("lsn", "ascending"),
                   ("txn_seq", "ascending"), ("_nr", "ascending")],
        null_placement="at_start",
    )
    t = t.take(order).combine_chunks()
    pk_ok = t["pk"].is_valid().to_numpy(zero_copy_only=False)
    pk = pc.fill_null(t["pk"], 0).to_numpy()
    lsn, seq = t["lsn"].to_numpy(), t["txn_seq"].to_numpy()
    same = np.zeros(t.num_rows, bool)  # same pk as the previous row
    same[1:] = (pk[1:] == pk[:-1]) & (pk_ok[1:] == pk_ok[:-1])
    dup = same.copy()
    dup[1:] &= (lsn[1:] == lsn[:-1]) & (seq[1:] == seq[:-1])
    if dup.any():
        t, same = t.filter(pa.array(~dup)), same[~dup]
    n = t.num_rows
    starts = np.flatnonzero(~same)
    ends = np.append(starts[1:] - 1, n - 1)
    is_d = pc.fill_null(pc.equal(t["op"], "D"), False).to_numpy(zero_copy_only=False)
    win = ~is_d[ends]
    starts, ends = starts[win], ends[win]
    take = pa.array(ends)
    cols = [t["pk"].take(take), t["lsn"].take(take),
            pa.array(["R"] * len(ends), out_schema.field("op").type)]
    pos = np.arange(n)
    for c in value_cols:
        col = t[c]
        if c in dropped:
            cols.append(pa.nulls(len(ends), col.type))
            continue
        # the last marker at or before the winner: a DELETE (reset) or a
        # non-NULL value; it must lie inside the winner's pk run
        marked = np.where(is_d | col.is_valid().to_numpy(zero_copy_only=False), pos, -1)
        src = np.maximum.accumulate(marked)[ends]
        ok = src >= starts
        ok[ok] &= ~is_d[src[ok]]
        cols.append(col.take(pa.array(np.where(ok, src, 0), mask=~ok)))
    return pa.Table.from_arrays(cols, schema=out_schema)


def conform(t: pa.Table, schema: pa.Schema) -> pa.Table:
    """`t` projected onto `schema`: a column a file lacks (written before
    a schema widening) reads NULL, a narrower stored type casts up (the
    parquet read-promotions `changelog_stream.widened_type` allows)."""
    cols = []
    for f in schema:
        if f.name not in t.column_names:
            cols.append(pa.nulls(t.num_rows, f.type))
        else:
            c = t[f.name]
            cols.append(c if c.type == f.type else c.cast(f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def arrow_uri(state_dir: str) -> str:
    """A state_dir as pyarrow.fs resolves it, fixed on the driver: local
    paths absolute, `s3a://` as pyarrow's `s3://` (AWS default credential
    chain)."""
    if state_dir.startswith("s3a://"):
        return "s3://" + state_dir[len("s3a://"):]
    return state_dir if "://" in state_dir else os.path.abspath(state_dir)


class BucketFiles:
    """One manifest's bucket files, read, folded and written through
    pyarrow.fs by bucket id — in Python workers (merge, compaction,
    rebucket, merge-on-read) and on the driver (point lookups). Pickles
    as its root URI, never as a filesystem handle."""

    def __init__(self, state_dir: str, manifest: dict, schema: pa.Schema):
        self.root = arrow_uri(state_dir)
        self.schema = schema  # event row: (pk, lsn, op, txn_seq, *values)
        self.mirror_schema = schema.remove(3)
        self.value_cols = tuple(schema.names[4:])
        self.dead = frozenset(manifest.get("dropped", {}))
        self.buckets = dict(manifest["buckets"])
        self.deltas = {
            b: list(rels) for b, rels in (manifest.get("deltas") or {}).items() if rels
        }
        self._fs = None

    def __getstate__(self):
        return {**self.__dict__, "_fs": None}

    def fs(self):
        if self._fs is None:
            self._fs = pafs.FileSystem.from_uri(self.root)
        return self._fs

    def _read(self, rel: str, schema: pa.Schema, pks=None) -> pa.Table:
        """Every parquet file of one bucket or delta dir (a missing dir
        raises: the manifest names it). With `pks`, only row groups whose
        pk min/max admit one of them are read (the files are pk-sorted),
        then rows filter to exactly those keys. Decoding stays on the
        calling thread: a task is already one per core, and a point
        lookup on the driver then leaves no reader-thread allocator
        arenas behind."""
        fs, root = self.fs()
        files = sorted(
            i.path
            for i in fs.get_file_info(pafs.FileSelector(f"{root}/{rel}"))
            if i.type == pafs.FileType.File
            and i.base_name.endswith(".parquet")
            and i.base_name[0] not in "._"
        )
        parts = []
        for path in files:
            with fs.open_input_file(path) as f:
                pf = pq.ParquetFile(f, coerce_int96_timestamp_unit="us")
                if pks is None:
                    t = pf.read(use_threads=False)
                else:
                    md = pf.metadata
                    j = next(i for i in range(md.num_columns)
                             if md.schema.column(i).path == "pk")

                    def admits(g: int) -> bool:
                        st = md.row_group(g).column(j).statistics
                        return st is None or not st.has_min_max or any(
                            st.min <= p <= st.max for p in pks
                        )

                    groups = [g for g in range(md.num_row_groups) if admits(g)]
                    t = (pf.read_row_groups(groups, use_threads=False) if groups
                         else pf.schema_arrow.empty_table())
                    keys = pa.array(pks, t.schema.field("pk").type)
                    t = t.filter(pc.is_in(t["pk"], value_set=keys))
            parts.append(conform(t, schema))
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def events(self, b: int, pks=None) -> pa.Table:
        """The bucket's stored state as fold input: base rows as stored
        'R' events (txn_seq=STORED_ROW_SEQ) plus its pending delta
        events; `pks` prunes every file to those keys."""
        parts = []
        base = self.buckets.get(str(b))
        if base:
            t = self._read(base, self.mirror_schema, pks)
            parts.append(t.add_column(
                3, self.schema.field(3),
                pa.array(np.full(t.num_rows, STORED_ROW_SEQ), pa.int64()),
            ))
        parts += [self._read(r, self.schema, pks) for r in self.deltas.get(str(b), ())]
        return pa.concat_tables(parts) if parts else self.schema.empty_table()

    def state(self, b: int, pks=None) -> pa.Table:
        """The bucket's current rows: base + pending deltas, folded."""
        return fold_bucket(self.events(b, pks), self.value_cols, self.dead)

    def write(self, rel: str, table: pa.Table) -> int:
        """Write `table` as the dir's one file, `part-0.parquet`, via a
        hidden temp file and a rename: a retried or speculative task
        attempt never leaves a torn file, and readers skip the temp.
        Returns the file's size in bytes."""
        fs, root = self.fs()
        d = f"{root}/{rel}"
        fs.create_dir(d, recursive=True)
        tmp = f"{d}/.part-0.{uuid.uuid4().hex}.tmp"
        with fs.open_output_stream(tmp) as out:
            pq.write_table(table, out)
            size = out.tell()
        fs.move(tmp, f"{d}/part-0.parquet")
        return size

    def fold_ids(self, batches):
        """mapInArrow body: bucket ids in, their folded rows out."""
        for batch in batches:
            for b in batch.column(0).to_pylist():
                t = self.state(b)
                if t.num_rows:
                    yield from t.to_batches()


RESULT_SCHEMA = pa.schema([
    ("pb", pa.int32()), ("kind", pa.string()), ("rel", pa.string()),
    ("rows", pa.int64()), ("bytes", pa.int64()), ("t_lsn", pa.int64()),
    ("t_seq", pa.int64()),
])


class BucketTask:
    """One bucket's share of a merge, compaction or rebucket: fold the
    bucket's stored state with its batch rows and write the new base
    (kind 'base'; rel None = every key deleted), or append the rows as a
    delta file while the bucket is under its delta `budget` (kind
    'delta'); `bytes` is the size of the file written. A batch row TRUNCATE is reported (kind 'truncate', with its
    position) instead, unless `truncated_at` is set: then stored state is
    dead and only rows after that position fold."""

    def __init__(self, files: BucketFiles, epoch_rel: str, budget=None,
                 truncated_at=None):
        self.files, self.epoch_rel = files, epoch_rel
        self.budget, self.truncated_at = budget, truncated_at

    def run(self, b: int, rows: pa.Table | None) -> dict:
        files = self.files
        rows = files.schema.empty_table() if rows is None else conform(rows, files.schema)
        out = {"pb": b, "kind": "base", "rel": None, "rows": 0, "bytes": 0,
               "t_lsn": None, "t_seq": None}
        if self.truncated_at is None:
            is_t = pc.fill_null(pc.equal(rows["op"], "T"), False)
            if pc.any(is_t).as_py():
                ts = rows.filter(is_t)
                out["t_lsn"], out["t_seq"] = _last_key(ts["lsn"], ts["txn_seq"])
                return {**out, "kind": "truncate"}
            if self.budget is not None and (
                len(files.deltas.get(str(b), ())) < self.budget
            ):
                rel = os.path.join(self.epoch_rel + ".d", f"pb={b}")
                size = files.write(rel, rows.sort_by(
                    [("pk", "ascending"), ("lsn", "ascending"), ("txn_seq", "ascending")]
                ))
                return {**out, "kind": "delta", "rel": rel,
                        "rows": rows.num_rows, "bytes": size}
            rows = pa.concat_tables([files.events(b), rows])
        state = fold_bucket(rows, files.value_cols, files.dead, self.truncated_at)
        if state.num_rows:
            out["rel"] = os.path.join(self.epoch_rel, f"pb={b}")
            out["rows"] = state.num_rows
            out["bytes"] = files.write(out["rel"], state)
        return out

    def by_group(self):
        """applyInArrow body (a plain function: the worker reads its arity)."""
        def per_bucket(key, rows):
            return pa.Table.from_pylist([self.run(key[0].as_py(), rows)], RESULT_SCHEMA)

        return per_bucket

    def by_id(self):
        """mapInArrow body over a DataFrame of bucket ids."""
        def per_bucket(batches):
            for batch in batches:
                for b in batch.column(0).to_pylist():
                    yield pa.RecordBatch.from_pylist([self.run(b, None)], RESULT_SCHEMA)

        return per_bucket
