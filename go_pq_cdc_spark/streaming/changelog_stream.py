"""Structured Streaming surface of the engine (SURVEY.md §7 M2/M3).

Transport: the stream source reads change-event batches from a directory
(parquet/json files) — the transport-agnostic seam the reference fills with
its replication socket (O1-O3). In production the same DataFrame shape
comes from a Kafka topic fed by wal2json/pgoutput, or from the
`sources.postgres` poll reader; every operator downstream is identical.

Apply idiom (M3): `mirror_sink` maintains a queryable current-state mirror
of the captured table via foreachBatch + max-LSN-wins merge — the
Spark-native replacement for the reference's ordered callback delivery
(O21), giving effectively-once semantics on top of at-least-once delivery
because the merge is idempotent (SURVEY.md §2.2 'Exactly-once').

Mirror layout (the scale-critical part): state is hash-bucketed by pk into
`MIRROR_BUCKETS` buckets; a micro-batch rewrites ONLY the buckets whose
keys appear in the batch, so per-batch IO scales with batch size, not with
total state size (the Delta/Iceberg `MERGE INTO` access pattern expressed
on plain parquet). A manifest file maps bucket -> current data directory
and is swapped atomically, so a crash at any point leaves the previous
consistent snapshot readable — no rename pair to die between.

Coordination medium (r8 verdict item 1): every coordination FILE — the
merge lock, the live manifest, the per-epoch manifest snapshots — goes
through the `snapshot.claim_backend.ClaimBackend` mounted for the state
dir (`backend_for`), the same resolution the cooperative chunk queue
uses; no function here takes a backend. An unmounted local state dir
gets `PosixLinkBackend`, which keeps the pre-r9 on-disk layout
byte-compatible; an `ObjectStoreBackend` maps the
lock's acquire/heartbeat/takeover and the MANIFEST SWAP ITSELF to
conditional requests, where the swap becomes a true compare-and-swap
(If-Match on the etag read at merge start) — the residual POSIX
last-writer-wins window between check_owned and os.replace does not
exist there. Bucket parquet under `epochs/**` is read, folded and
written by Python workers through `pyarrow.fs` (`fold_bucket`, one
task per bucket; `s3a://` is read as pyarrow's `s3://`), and the driver
lists, sizes and garbage-collects those directories through the same
layer; only Spark scans of the mirror go through Spark's Hadoop
filesystem — so a mirror whose state_dir is a bucket needs no POSIX
anywhere. Every write (merge, compaction, rebucket) is one transaction,
`_mirror_write`: lock, fold, manifest CAS, GC. The
reference's equivalent coordination is Postgres-backed and location-independent
(pq/snapshot/worker.go:421-484); this is the Spark-native analogue.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..envelope import ddl_struct
from ..operators.bucket_fold import (
    STORED_ROW_SEQ,
    BucketFiles,
    BucketTask,
    arrow_uri,
)
from ..snapshot.claim_backend import backend_for, root_key

# Flat envelope used by the streaming tests/fixtures (a typed projection of
# envelope.CHANGE_EVENT_SCHEMA for a single table).
FLAT_CHANGE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("lsn", T.LongType(), False),
        T.StructField("xid", T.LongType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
        # nullable: TRUNCATE rows (op 'T') carry no key
        T.StructField("pk", T.LongType(), True),
        T.StructField("after_val", T.DoubleType(), True),
    ]
)


def file_change_stream(
    spark: SparkSession, path: str, schema: T.StructType = FLAT_CHANGE_SCHEMA
) -> DataFrame:
    """File-transport change stream; one file = one WAL segment's worth of
    events. maxFilesPerTrigger bounds batch size (the analogue of the
    reference's 1000-message channel backpressure, stream.go:93)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(path)
    )


# Default bucket count for a fresh mirror. Sizing rule at scale:
#   n_buckets ≈ total_state_size / target_rewrite_size
# where target_rewrite_size is how much a single touched bucket may rewrite
# per micro-batch (256 MB-1 GB is a good parquet rewrite unit). E.g. a 10 TB
# mirror at 512 MB/bucket wants ~20k buckets; the 32 default only fits test
# scale. The count is pinned at mirror creation and persisted in the
# manifest; growing it later is an ONLINE epochs-atomic migration
# (`rebucket_mirror` — power-of-two doubling under the merge lock), never
# a silent re-hash.
MIRROR_BUCKETS = 32

_MANIFEST = "manifest.json"


def suggest_mirror_buckets(
    state_bytes: int, target_rewrite_bytes: int = 512 << 20
) -> int:
    """Apply the sizing rule, rounded up to a power of two (keeps pmod
    distribution stable under doubling) with the test-scale default floor."""
    n = MIRROR_BUCKETS
    while n * target_rewrite_bytes < state_bytes:
        n *= 2
    return n


def _bucket_col(pk: str = "pk", n_buckets: int = MIRROR_BUCKETS):
    # Deterministic content hash — NEVER a nondeterministic salt — so stage
    # retries land every row in the same bucket.
    return F.pmod(F.xxhash64(F.col(pk)), F.lit(n_buckets)).cast("int")


_U64 = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _bucket_of(pk: int, n_buckets: int) -> int:
    """Driver-side `_bucket_col` for one bigint pk: a port of Spark's
    `XxHash64Function.hashLong` (seed 42) and a non-negative `% n`.
    Parity with the Spark expression is pinned by a test."""
    h = (42 + _XXH_P5 + 8) & _U64
    h ^= (_rotl64((pk * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
    h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _U64
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    signed = h - (1 << 64) if h >> 63 else h
    return signed % n_buckets  # Python's % is already pmod for n > 0


def _read_manifest_versioned(state_dir: str) -> tuple[dict, object]:
    """(manifest, etag). The etag is the commit-time CAS token: a merge
    that read the manifest at etag E may only swap it while it is still
    at E (enforced on etag-bearing backends; None on POSIX, where the
    lock's pre-swap ownership fence is the guard)."""
    backend = backend_for(state_dir)
    p = os.path.join(state_dir, _MANIFEST)
    doc, etag = backend.read(p)
    if doc is None:
        if backend.exists(p):
            # unparseable manifest object: atomic publish makes this
            # impossible in normal operation — never degrade it to "fresh
            # mirror" (the next merge would orphan every bucket)
            raise ValueError(f"mirror manifest at {p} exists but is unreadable")
        return {"epoch": -1, "buckets": {}}, etag
    return doc, etag


def _read_manifest(state_dir: str) -> dict:
    return _read_manifest_versioned(state_dir)[0]


def _snapshot_manifest_path(state_dir: str, epoch: int) -> str:
    return os.path.join(state_dir, "manifests", f"e{epoch:09d}.json")


def _publish_manifest_snapshot(state_dir: str, manifest: dict) -> None:
    """Pre-commit publish of the per-epoch manifest copy — the time-travel
    commit log (the single-table analogue of a Delta/Iceberg snapshot
    list). Written BEFORE the live-manifest swap so a retained epoch is
    readable the moment the swap lands — but GUARDED, never unconditional:
    a zombie writer that will lose the live CAS must not get to overwrite
    the epoch snapshot a committed peer already published (review r9 —
    the live state would be right while read_mirror_as_of(N) served the
    aborted merge's bucket set).

      * put_if_absent wins the normal case outright;
      * if epoch N's snapshot already exists and the LIVE manifest is
        already at epoch >= N, a peer committed N — this writer is a
        zombie and aborts here, snapshot untouched;
      * otherwise the existing object is a crashed pre-swap attempt's
        orphan (nobody committed N yet) — replace it via etag CAS, so a
        concurrently racing writer's replace loses cleanly.

    The committing writer RE-PUTS the snapshot after winning the live
    swap (`commit_manifest`), which bumps the etag and invalidates any
    pre-commit read a still-racing zombie holds — its conditional
    replace can then never land on top of committed state."""
    backend = backend_for(state_dir)
    p = _snapshot_manifest_path(state_dir, manifest["epoch"])
    backend.ensure_dir(os.path.dirname(p))
    if backend.put_if_absent(p, manifest):
        return
    live, _ = _read_manifest_versioned(state_dir)
    if int(live.get("epoch", -1)) >= int(manifest["epoch"]):
        raise MirrorLockLost(
            f"epoch {manifest['epoch']} snapshot at {state_dir} was already "
            "committed by a peer; this merge is stale and aborted before "
            "touching it"
        )
    _doc, etag = backend.read(p)
    if not backend.swap(p, manifest, etag):
        raise MirrorLockLost(
            f"lost the race republishing epoch {manifest['epoch']} snapshot "
            f"at {state_dir}; merge aborted"
        )


# --- data-directory primitives (the bucket parquet) -------------------------
#
# Coordination files ride the ClaimBackend; the DATA directories under the
# state dir are written by the bucket tasks through pyarrow.fs, and the
# driver lists, sizes and deletes them through the same layer, with one
# handle per pass resolved as the writers resolve it (`arrow_uri`: local
# paths, `s3a://` as pyarrow's `s3://` with the AWS default credential
# chain). Only Spark scans of the mirror (`read_mirror`) go through
# Spark's Hadoop filesystem. os.* here would silently pin the mirror to
# POSIX.


def _data_fs(state_dir: str) -> tuple[pafs.FileSystem, str]:
    """(pyarrow filesystem, root path) of a mirror's data directories."""
    return pafs.FileSystem.from_uri(arrow_uri(state_dir))


def _children(fs: pafs.FileSystem, path: str) -> list:
    """FileInfo of each entry directly under `path`; [] when absent."""
    return fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))


def _mirror_ddl(manifest: dict) -> str:
    """DDL of a manifest's stored mirror row shape. Mirrors created
    before multi-column support pin no DDL and store `after_val double`."""
    value_schema = manifest.get("value_schema", "after_val double")
    return f"pk bigint, lsn bigint, op string, {value_schema}"


def _mirror_struct(manifest: dict) -> T.StructType:
    """StructType of a manifest's stored mirror row shape."""
    return ddl_struct(_mirror_ddl(manifest))


def _masked_cols(struct, dropped) -> list:
    """Projection over a mirror struct with DROPPED columns masked to
    NULL: a column the source table dropped keeps its slot in the row
    shape (bucket files still hold pre-drop values) but reads as NULL
    from the drop epoch on — new tuples are authoritative, exactly the
    reference's Relation-cache overwrite semantics (relation.go:68-87).
    Time travel is untouched: a pre-drop epoch's manifest snapshot has no
    drop marker, so reads through it serve the real stored values."""
    return [
        F.lit(None).cast(f.dataType).alias(f.name)
        if f.name in dropped
        else F.col(f.name)
        for f in struct.fields
    ]


_RESULT_DDL = (
    "pb int, kind string, rel string, rows long, bytes long, t_lsn long, t_seq long"
)
_ID_STRUCT = T.StructType([T.StructField("pb", T.IntegerType())])

# Stored bytes one fold task covers. A Python task costs ~0.06 s before
# it folds anything, and `BucketTask.run` folds 220-400 MB/s
# (`tools/py_task_floor.py`, 4 CPUs: a task pays for itself at ~17 MB).
# A mirror under this size folds in one task and leaves the other cores
# to lookups; one of 16 MB per core or more gets a task per core.
FOLD_TASK_BYTES = 16 << 20

_EVENT_SCHEMAS: dict[str, pa.Schema] = {}


def _event_schema(spark: SparkSession, manifest: dict) -> pa.Schema:
    """Arrow schema of a fold input row: the mirror row with txn_seq as
    the 4th column, in the Arrow types Spark exchanges with Python. Built
    once per row shape: reading the session's Arrow type setting is a
    JVM round trip, and a point lookup needs the schema on every call."""
    from pyspark.sql.pandas.types import to_arrow_schema

    ddl = _mirror_ddl(manifest)
    s = _EVENT_SCHEMAS.get(ddl)
    if s is None:
        s = _EVENT_SCHEMAS[ddl] = to_arrow_schema(
            _mirror_struct(manifest),
            prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
        ).insert(3, pa.field("txn_seq", pa.int64()))
    return s


def _bucket_files(spark: SparkSession, state_dir: str, manifest: dict) -> BucketFiles:
    """The manifest's bucket files, typed by its row shape."""
    return BucketFiles(state_dir, manifest, _event_schema(spark, manifest))


def _manifest_rels(manifest: dict) -> list[str]:
    """Data dirs a manifest references: bucket bases, then pending deltas."""
    return [*manifest["buckets"].values(),
            *(r for rels in (manifest.get("deltas") or {}).values() for r in rels)]


def _stored_bytes(manifest: dict) -> int | None:
    """Bytes of the files a manifest references, as the fold tasks that
    wrote them reported; None when one of them has no recorded size
    (written before sizes were recorded)."""
    sizes = manifest.get("bytes", {})
    rels = _manifest_rels(manifest)
    if any(r not in sizes for r in rels):
        return None
    return sum(sizes[r] for r in rels)


def _fold_groups(
    rows: DataFrame, task: BucketTask, n_buckets: int, stored_bytes: int | None
) -> list:
    """Run `task` once per bucket of `rows` (which carry `pb`): one Spark
    job, a shuffle on pb into at most one task per core and per bucket.
    The task count follows what the fold reads: one task per
    `FOLD_TASK_BYTES` of `stored_bytes` (the mirror's, `_stored_bytes`).
    Unknown stored bytes get the cap. Returns the per-bucket result
    rows."""
    spark = rows.sparkSession
    tasks = min(spark.sparkContext.defaultParallelism, max(n_buckets, 1))
    if stored_bytes is not None:
        tasks = min(tasks, max(-(-stored_bytes // FOLD_TASK_BYTES), 1))
    return (
        rows.repartition(tasks, "pb")
        .groupBy("pb")
        .applyInArrow(task.by_group(), _RESULT_DDL)
        .collect()
    )


def _apply_results(manifest: dict, results) -> None:
    """Record per-bucket task results in the manifest: a delta file
    appends to the bucket's debt; a new base (or none: every key
    deleted) replaces the bucket and clears its debt. The size of each
    file written is kept in `bytes` (by rel path), pruned to the files
    the manifest references."""
    sizes = manifest.get("bytes", {})
    for r in results:
        b = str(r["pb"])
        if r["rel"] is not None:
            sizes[r["rel"]] = r["bytes"]
        if r["kind"] == "delta":
            manifest.setdefault("deltas", {}).setdefault(b, []).append(r["rel"])
            continue
        if r["rel"] is None:
            manifest["buckets"].pop(b, None)
        else:
            manifest["buckets"][b] = r["rel"]
        (manifest.get("deltas") or {}).pop(b, None)
    live = set(_manifest_rels(manifest))
    manifest["bytes"] = {r: n for r, n in sizes.items() if r in live}


def _manifest_df(
    spark: SparkSession,
    state_dir: str,
    manifest: dict,
) -> DataFrame:
    """DataFrame over one manifest's bucket set (shared by current and
    time-travel reads and `mirror_befores_for` — one copy of the
    schema/paths/fold logic).

    The read passes the manifest's pinned schema EXPLICITLY: after a
    schema evolution (`merge_mirror_batch(evolve_schema=True)`) buckets
    untouched since the widening still hold the narrower row shape, and
    an explicit-schema parquet read fills the missing columns with NULL
    (schema-inference over mixed files would either miss the new column
    or fail the select; narrower stored types promote per SPARK-40876).
    Columns the manifest marks dropped read as NULL (`_masked_cols`).

    MERGE-ON-READ (r9 verdict item 1): buckets with pending delta files
    fold base + deltas per pk at read time, one `fold_bucket` call per
    bucket in a `mapInArrow` task (identical semantics to the cow merge,
    so a delta-merged mirror reads equal to a cow-merged one over the
    same log); buckets with NO deltas read directly, zero fold overhead
    — the read cost of delta debt is bounded by the compaction budget,
    never paid by untouched buckets."""
    struct = _mirror_struct(manifest)
    dead = set(manifest.get("dropped", {}))
    buckets = manifest["buckets"]
    deltas = [b for b, rels in (manifest.get("deltas") or {}).items() if rels]
    parts: list[DataFrame] = []
    plain = [
        os.path.join(state_dir, rel)
        for b, rel in buckets.items()
        if b not in deltas
    ]
    if plain:
        parts.append(
            spark.read.schema(struct).parquet(*plain).select(*_masked_cols(struct, dead))
        )
    if deltas:
        files = _bucket_files(spark, state_dir, manifest)
        ids = spark.createDataFrame([(int(b),) for b in deltas], _ID_STRUCT)
        parts.append(ids.mapInArrow(files.fold_ids, struct))
    if not parts:
        return spark.createDataFrame([], struct)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_mirror_as_of(
    spark: SparkSession,
    state_dir: str,
    epoch: int,
) -> DataFrame:
    """TIME-TRAVEL read: the mirror exactly as of `epoch`'s commit. Reads
    the retained immutable manifest snapshot; raises a clear error when
    the epoch has been garbage-collected (older than the mirror's
    `keep_epochs` retention) rather than serving partial state.

    Concurrency caveat (inherent to any non-MVCC file layout — same class
    as the register_mirror_view note): the retention check happens at
    manifest-open time. If the stream keeps committing while this
    DataFrame is still being consumed and the epoch falls out of the
    retention window meanwhile, the lazy scan can hit deleted files.
    Size `keep_epochs` to cover the longest reader, exactly like a Delta
    VACUUM horizon."""
    p = _snapshot_manifest_path(state_dir, epoch)
    manifest, _ = backend_for(state_dir).read(p)
    if manifest is None:
        raise ValueError(
            f"mirror epoch {epoch} is not retained at {state_dir} "
            "(garbage-collected or never written; raise keep_epochs)"
        )
    return _manifest_df(spark, state_dir, manifest)


def read_mirror(spark: SparkSession, state_dir: str) -> DataFrame:
    """The queryable current state: union of every bucket's live directory
    as recorded by the manifest (consistent at the last merge commit).
    Column shape comes from the manifest's pinned value schema (mirrors
    created before multi-column support default to `after_val double`)."""
    manifest = _read_manifest(state_dir)
    return _manifest_df(spark, state_dir, manifest)


# `root_key(state_dir)` -> view names. One key per mirror: 's3a://b/state'
# and 's3a://b/state/' must share it, or merge-time view refresh misses
# one spelling and its stale plan can reference GC-deleted bucket dirs
# (ADVICE r9).
_MIRROR_VIEWS: dict[str, set[str]] = {}


def register_mirror_view(
    spark: SparkSession,
    state_dir: str,
    name: str,
) -> DataFrame:
    """Temp view over the mirror's current manifest, KEPT CURRENT across
    writes: `_mirror_write` re-registers every view recorded here right
    after its manifest swap (and before GC deletes the superseded
    bucket dirs the old view plan referenced — ADVICE r4)."""
    _MIRROR_VIEWS.setdefault(root_key(state_dir), set()).add(name)
    df = read_mirror(spark, state_dir)
    df.createOrReplaceTempView(name)
    return df


def lookup_mirror(
    spark: SparkSession,
    state_dir: str,
    pks: list[int],
) -> DataFrame:
    """Point lookup with bucket pruning: each pk hashes to exactly one
    bucket (`_bucket_col`, the same deterministic expression the merge
    uses), so a point query reads ~len(pks)/n_buckets of the state
    regardless of total mirror size — the read-side counterpart of the
    merge's touched-buckets-only write guarantee. At 100 TB this is the
    difference between scanning the table and opening a few files.

    It runs no Spark job: the bucket ids are resolved on the driver
    (`_bucket_of`, a port of Spark's xxhash64 whose parity with
    `_bucket_col` a test pins), the routed bucket files are read on the
    driver with a pk filter (the files are pk-sorted, so row-group stats
    prune), pending deltas fold through `fold_bucket`, and the rows come
    back as a local DataFrame. A read that loses a race with the merge's
    GC (a bucket dir deleted after this lookup read its manifest) re-reads
    the manifest and retries."""
    want = sorted({int(p) for p in pks})
    for attempt in range(3):
        manifest = _read_manifest(state_dir)
        n = int(manifest.get("n_buckets") or MIRROR_BUCKETS)
        struct = _mirror_struct(manifest)
        files = _bucket_files(spark, state_dir, manifest)
        routed: dict[int, list[int]] = {}
        for p in want:
            routed.setdefault(_bucket_of(p, n), []).append(p)
        try:
            parts = [files.state(b, pks=keys) for b, keys in routed.items()]
            break
        except FileNotFoundError:
            if attempt == 2:
                raise
    # one chunk: createDataFrame ships a table chunk-wise, and an empty
    # chunk (a routed bucket without the key) ends the stream early
    table = pa.concat_tables([files.mirror_schema.empty_table(), *parts])
    return spark.createDataFrame(table.combine_chunks(), struct)


def mirror_befores_for(
    spark: SparkSession,
    state_dir: str,
    keys_df: DataFrame,
    value_col: str = "after_val",
) -> DataFrame | None:
    """Pre-batch images for a batch's keys — the before-image source for
    incremental view maintenance on streams WITHOUT replica identity
    full: `lookup_mirror`'s bucket pruning, but keyed by a DataFrame of
    pks (distributed semi-join instead of a driver-side pk list, so the
    batch never collects). The only driver-side materialization is the
    touched-BUCKET id set, bounded by n_buckets exactly like the merge's
    own touched-bucket routing. None = fresh mirror (no state, every
    batch key is new)."""
    manifest = _read_manifest(state_dir)
    all_deltas = manifest.get("deltas") or {}
    if not manifest["buckets"] and not any(all_deltas.values()):
        return None
    n = int(manifest.get("n_buckets") or MIRROR_BUCKETS)
    keys = keys_df.select("pk").distinct()
    wanted = {r["b"] for r in keys.select(_bucket_col("pk", n).alias("b")).distinct().collect()}
    sub = {
        **manifest,
        "buckets": {
            b: rel for b, rel in manifest["buckets"].items() if int(b) in wanted
        },
        "deltas": {b: rels for b, rels in all_deltas.items() if int(b) in wanted},
    }
    if not sub["buckets"] and not any(sub["deltas"].values()):
        return None
    return (
        _manifest_df(spark, state_dir, sub)
        .join(keys, "pk", "left_semi")
        .select("pk", value_col)
    )


def _gc_epochs(state_dir: str, manifest: dict) -> None:
    """Remove bucket dirs referenced by NO retained manifest: the live
    one plus the last `keep_epochs - 1` snapshot manifests (time-travel
    retention, the live manifest's pin). Snapshot manifests older than
    the retention window are deleted first, so a crash mid-GC can never
    leave a readable snapshot pointing at deleted buckets. Safe after the
    manifest swap: a crash mid-GC only leaves garbage, never dangling
    references.

    Manifest snapshots are coordination files (ClaimBackend); the bucket
    dirs are listed and deleted through pyarrow.fs, the layer the bucket
    tasks write them through, with one filesystem handle for the pass."""
    backend = backend_for(state_dir)
    keep_epochs = int(manifest.get("keep_epochs", 1))
    mroot = os.path.join(state_dir, "manifests")
    retained: list[dict] = [manifest]
    # sort by the PARSED epoch number — a lexicographic filename sort
    # inverts once the epoch outgrows the zero padding (r6 review)
    snaps = sorted(
        (f for f in backend.list_names(mroot) if f.endswith(".json")),
        key=lambda f: int(f[1:-5]),
        reverse=True,
    )
    for f in snaps[keep_epochs:]:
        backend.delete(os.path.join(mroot, f))
    for f in snaps[:keep_epochs]:
        doc, _ = backend.read(os.path.join(mroot, f))
        if doc is not None:
            retained.append(doc)
    # base and delta dirs referenced by ANY retained manifest stay
    live = {rel for m in retained for rel in _manifest_rels(m)}
    fs, root = _data_fs(state_dir)
    for edir in _children(fs, f"{root}/epochs"):
        if edir.type != pafs.FileType.Directory:
            continue
        remaining = False
        for bdir in _children(fs, edir.path):
            rel = os.path.join("epochs", edir.base_name, bdir.base_name)
            if bdir.base_name.startswith("pb=") and rel not in live:
                fs.delete_dir(bdir.path)
            else:
                remaining = True
        if not remaining:
            fs.delete_dir(edir.path)


# --- cross-process merge serialization --------------------------------------
#
# Two PROCESSES merging into one mirror concurrently (the cooperative
# chunk-seed topology: N apps drain one chunk queue into one shared mirror)
# would both read the manifest at epoch N, both write epochs/e{N+1} (the
# second overwrite deletes the first's bucket dirs), and the last manifest
# swap drops the other's bucket updates — silent data loss because the lost
# chunk is already marked done (r7 advisor, engine.py cooperative seed).
# Within one process the streaming sinks are already serial per query; the
# lock makes the multi-app case safe with the same link-claim scheme the
# chunk queue uses: claim = hard link of a privately written file, liveness
# = heartbeat timestamp refreshed by a background thread while held,
# takeover = os.replace once the heartbeat is ttl-stale (a crashed holder
# never wedges the mirror). The residual zombie window — a paused holder
# resuming after takeover — is fenced at the COMMIT POINT: ownership is
# re-checked immediately before the manifest swap and the merge aborts
# (pre-swap, so the mirror is untouched) if the lock was lost.
#
# The lock rides the same ClaimBackend as every other coordination file
# of the state dir (r8 verdict item 1): POSIX keeps the hard-link scheme;
# an object-store backend makes acquire/heartbeat/takeover TRUE conditional
# requests AND the commit itself a CAS — the manifest swap carries the
# etag read at merge start, so a zombie passing the ownership fence
# still loses the swap (the POSIX residual window does not exist there).

_MERGE_LOCK = ".merge.lock.json"
_MERGE_LOCK_TTL_S = 300.0
# floor on the heartbeat period: a tiny ttl (0 is the takeover idiom)
# must not turn the beat into a busy loop of backend reads and swaps
_MIN_BEAT_S = 0.05


class MirrorLockLost(RuntimeError):
    """This process lost the mirror merge lock mid-merge (heartbeat went
    ttl-stale — e.g. a long GC pause — and a peer took over). The merge
    aborted BEFORE its manifest swap; re-running it converges."""


class _MergeLock:
    def __init__(self, state_dir: str, ttl_s: float = _MERGE_LOCK_TTL_S):
        import uuid

        self.path = os.path.join(state_dir, _MERGE_LOCK)
        self.owner = f"merge-{uuid.uuid4().hex[:12]}"
        self.ttl_s = ttl_s
        self.backend = backend_for(state_dir)
        self._beat_stop = None
        self._beat_thread = None

    def _doc(self) -> dict:
        import time

        return {"owner": self.owner, "heartbeat_at": time.time()}

    def acquire(self) -> None:
        import time

        while True:
            if self.backend.put_if_absent(self.path, self._doc()):
                break
            cur, etag = self.backend.read(self.path)
            if cur is None and not self.backend.exists(self.path):
                continue  # holder released between publish and read — retry
            stale = cur is None or (
                time.time() - float(cur.get("heartbeat_at", 0)) > self.ttl_s
            )
            if stale and self.backend.swap(self.path, self._doc(), etag):
                # takeover: a true CAS on etag-enforcing backends (losing
                # the swap means a peer took it first — keep waiting);
                # last-writer-wins on POSIX inside the rare double-stale
                # window, where the pre-swap fence catches the loser
                break
            time.sleep(min(0.05 + self.ttl_s / 1000.0, 0.25))
        # heartbeat while held: a merge spans Spark jobs that can outlast
        # any fixed ttl at scale
        import threading

        self._beat_stop = threading.Event()

        def beat():
            while not self._beat_stop.wait(max(self.ttl_s / 4, _MIN_BEAT_S)):
                cur, etag = self.backend.read(self.path)
                if cur is None or cur.get("owner") != self.owner:
                    return  # lost — the pre-swap fence will abort the merge
                if not self.backend.swap(self.path, self._doc(), etag):
                    return  # CAS lost to a concurrent takeover
                # POSIX swap is unconditional; this read-back catches only
                # a takeover that lands AFTER our replace — a pause between
                # the ownership read above and the replace still
                # re-installs over a peer (the read-back then sees our own
                # doc). That window is POSIX-fundamental without fcntl
                # (whose NFS semantics are implementation-defined) and is
                # why the commit itself is etag-CAS'd on object stores:
                # there the beat's swap is conditional and the window is
                # ZERO. On POSIX the residual risk is bounded by the
                # fence + writer-unique epoch dirs (documented).
                cur2, _ = self.backend.read(self.path)
                if cur2 is None or cur2.get("owner") != self.owner:
                    return

        self._beat_thread = threading.Thread(target=beat, daemon=True)
        self._beat_thread.start()

    def check_owned(self) -> None:
        cur, _ = self.backend.read(self.path)
        if cur is None or cur.get("owner") != self.owner:
            raise MirrorLockLost(
                f"mirror merge lock at {self.path} lost to "
                f"{cur and cur.get('owner')}; merge aborted before commit"
            )

    def release(self) -> None:
        if self._beat_stop is not None:
            self._beat_stop.set()
            self._beat_thread.join(timeout=2)
        # The conditional delete can lose its etag to our OWN heartbeat
        # thread if it outlived the 2s join (blocked in store I/O) and
        # bumped the lock between the read and the delete — retry while
        # the doc still names us, or the released lock lingers for the
        # full TTL and stalls the next writer's acquire (ADVICE r9). Two
        # reads bound the retry: the beat is stopped, so at most one
        # in-flight bump can invalidate the first etag.
        for _ in range(2):
            cur, etag = self.backend.read(self.path)
            if cur is None or cur.get("owner") != self.owner:
                return  # lost/taken over: never delete a peer's lock
            if self.backend.delete(self.path, etag):
                return


def _commit_manifest(
    state_dir: str,
    manifest: dict,
    manifest_etag: object,
    lock: _MergeLock,
) -> None:
    """The commit point of `_mirror_write`.
    Fence (ownership), guarded snapshot pre-publish (time travel —
    readable the moment the swap lands, but a zombie can never overwrite
    a committed peer's snapshot: `_publish_manifest_snapshot`), then the
    LIVE swap — conditional on the etag the writer read its manifest at:
    on etag-enforcing backends a writer whose view went stale (zombie
    past the fence, or a racing first-writer on a fresh mirror) loses
    the CAS and aborts with the mirror untouched by it; POSIX swaps
    unconditionally (fence-guarded, documented). The winner re-puts the
    snapshot AFTER the swap, invalidating any etag a still-racing zombie
    captured pre-commit."""
    lock.check_owned()  # fence: never swap a manifest we no longer own
    _publish_manifest_snapshot(state_dir, manifest)
    backend = backend_for(state_dir)
    if not backend.swap(
        os.path.join(state_dir, _MANIFEST), manifest, manifest_etag
    ):
        raise MirrorLockLost(
            f"mirror manifest at {state_dir} changed since this writer "
            "read it (epoch CAS failed); aborted — its epoch dirs are "
            "unreferenced orphans the next GC removes"
        )
    # committed: re-assert the snapshot so its etag postdates the
    # commit — a zombie's pre-commit conditional replace can no
    # longer land on it
    backend.put(
        _snapshot_manifest_path(state_dir, manifest["epoch"]), manifest
    )


def _mirror_write(
    spark: SparkSession,
    state_dir: str,
    body,
    epoch: int | None = None,
    keep_epochs: int | None = None,
    lock_ttl_s: float = _MERGE_LOCK_TTL_S,
) -> dict | None:
    """THE mirror write transaction; a merge, a compaction and a rebucket
    differ only in `body(manifest, epoch_rel)`. It gets the NEXT manifest
    (epoch and retention pinned) under the merge lock, writes its buckets
    under `epoch_rel` and returns their task results, or None to end
    without committing. The manifest then commits by CAS on the etag read
    here, views re-point, and GC drops every unreferenced data dir.
    Returns the committed manifest, or None."""
    lock = _MergeLock(state_dir, ttl_s=lock_ttl_s)
    lock.backend.ensure_dir(state_dir)
    lock.acquire()
    try:
        # the commit swap is conditional on the manifest version read here
        # (etag-enforcing backends make that a true CAS)
        manifest, manifest_etag = _read_manifest_versioned(state_dir)
        if epoch is None:
            epoch = manifest["epoch"] + 1
        elif epoch <= manifest["epoch"]:
            # Reusing a committed epoch number would overwrite bucket dirs /
            # the immutable manifest snapshot retained manifests still
            # reference (the mirror_sink/seed collision class, live-PG
            # lifecycle finding) — time-travel history must never be
            # rewritten. A crash-before-swap replay is fine: the manifest
            # counter never advanced, so the replayed epoch is still fresh.
            raise ValueError(
                f"mirror epoch {epoch} at {state_dir} is not fresh (live "
                f"manifest epoch {manifest['epoch']}) and would overwrite bucket "
                "dirs or manifest snapshots a retained manifest still "
                "references; pass epoch=None to use the manifest counter"
            )
        # Retention is a property of the STORED mirror (like n_buckets /
        # value_schema): pinned in the manifest so a writer using the default
        # (engine seeding, multi_mirror_sink, an ad-hoc merge) can never
        # silently destroy another writer's retained time-travel history
        # (r6 review). Passing an explicit value UPDATES the pin — retention
        # is an adjustable policy, not a layout invariant.
        if keep_epochs is None:
            keep_epochs = manifest.get("keep_epochs", 1)
        manifest["keep_epochs"] = int(keep_epochs)
        manifest["epoch"] = epoch
        # Writer-unique epoch dirs (suffixed with this writer's lock owner
        # tag): two writers can NEVER target the same data directory, so
        # even a zombie holder resuming after a lock takeover writes only an
        # orphan — its rewrite cannot replace files a committed manifest
        # references. The manifest, not the dir name, is the epoch's
        # identity; a crashed/aborted write leaves an unreferenced dir the
        # next GC removes. Delta appends land in a sibling `.d` dir.
        epoch_rel = os.path.join("epochs", f"e{epoch:09d}.{lock.owner[-8:]}")
        results = body(manifest, epoch_rel)
        if results is None:
            return None
        _apply_results(manifest, results)
        _commit_manifest(state_dir, manifest, manifest_etag, lock)
        # refresh registered SQL views BEFORE GC deletes the bucket dirs
        # their old plans reference (register_mirror_view / ADVICE r4)
        for view_name in _MIRROR_VIEWS.get(root_key(state_dir), ()):
            read_mirror(spark, state_dir).createOrReplaceTempView(view_name)
        _gc_epochs(state_dir, manifest)
        return manifest
    finally:
        lock.release()


_RESERVED_COLS = frozenset({"op", "lsn", "txn_seq", "xid", "commit_ts", "pk", "pb"})

# --- safe type widening (r8 verdict item 7) ---------------------------------
#
# Spark 4's parquet readers support WIDENING TYPE PROMOTIONS (SPARK-40876):
# a file written with int32 reads cleanly under a bigint schema, float
# under double, ints under decimal, and decimals under higher precision.
# That makes in-place type widening of the mirror's value pin safe: old
# bucket files keep their narrow physical type, the manifest pin widens,
# and every explicit-schema read promotes on the fly — no rewrite. The
# allowlist below is exactly the set empirically pinned by
# tests/test_schema_evolution.py::test_widening_promotions_read_back
# (each pair exercised through real mixed-type parquet); anything off the
# list still demands a rebuild, because a wrong guess here is unreadable
# state.

_INT_CHAIN = ("tinyint", "smallint", "int", "bigint")
_INT_DECIMAL_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 20}


def _parse_decimal(t: str) -> tuple[int, int] | None:
    if not t.startswith("decimal(") or not t.endswith(")"):
        return None
    p, s = t[8:-1].split(",")
    return int(p), int(s)


def widened_type(a: str, b: str) -> str | None:
    """The wider of two Spark SQL types when the narrow->wide direction is
    a parquet read-promotion Spark supports; None when the pair is not
    safely widenable (a rebuild). Symmetric: callers pass (stored, batch)
    in either order — a replayed pre-DDL segment is NARROWER than the pin
    and must widen up to it, not shrink it."""
    if a == b:
        return a
    if a in _INT_CHAIN and b in _INT_CHAIN:
        return a if _INT_CHAIN.index(a) > _INT_CHAIN.index(b) else b
    if {a, b} == {"float", "double"}:
        return "double"
    da, db = _parse_decimal(a), _parse_decimal(b)
    if da and db and da[1] == db[1]:
        return a if da[0] >= db[0] else b
    # int-chain -> decimal(p,0) with p covering every value of the int type
    for int_t, dec_t, dec in ((a, b, db), (b, a, da)):
        if (
            int_t in _INT_CHAIN
            and dec is not None
            and dec[1] == 0
            and dec[0] >= _INT_DECIMAL_DIGITS[int_t]
        ):
            return dec_t
    return None


def merge_mirror_batch(
    batch_df: DataFrame,
    state_dir: str,
    epoch: int | None = None,
    n_buckets: int | None = None,
    value_cols: tuple[str, ...] | None = ("after_val",),
    keep_epochs: int | None = None,
    lock_ttl_s: float = _MERGE_LOCK_TTL_S,
    evolve_schema: bool = False,
    dropped_cols: tuple[str, ...] | None = None,
    merge_mode: str = "cow",
    compact_deltas: int = 8,
) -> None:
    """Idempotent TOAST-aware max-LSN-wins merge of one micro-batch into
    the pk-bucketed parquet mirror (Delta/Iceberg `MERGE INTO` stand-in).

    Only the buckets whose keys appear in the batch are read and rewritten
    — per-batch IO is O(batch ∪ touched-bucket state), independent of total
    mirror size. The stored mirror row is the old image for TOAST repair: a
    NULL new-image value inherits the stored value (unless a DELETE
    intervenes), so stream-maintained state equals batch `latest_state`
    over the full log.

    Shape: ONE Spark job. The batch is projected, bucketed (`pb`) and
    grouped; each bucket's task (`groupBy("pb").applyInArrow`) reads the
    bucket's base and delta files by manifest path through pyarrow.fs,
    folds them with the batch rows (`fold_bucket`), writes
    `epochs/e<epoch>.<owner>/pb=<b>/part-0.parquet` sorted by pk (temp
    file + rename) and returns one result row; the driver builds the
    manifest from those rows. A batch with a TRUNCATE reruns the job once
    (see below).

    Commit and concurrency: the merge is one `_mirror_write` transaction
    under the per-mirror cross-process lock, so N cooperating apps merging
    chunks into one shared mirror serialize. A crash before the manifest
    swap leaves the old manifest (and every directory it references)
    intact and an orphan epoch dir the next GC removes; replaying the
    batch converges because the merge is idempotent. Raises
    `MirrorLockLost` (pre-swap, mirror untouched) if the lock is lost.

    Schema evolution: `value_cols=None` infers the batch's value columns
    (everything but the op/lsn/txn_seq/xid/commit_ts/pk envelope columns);
    `evolve_schema=True` lets a batch whose value columns are a
    TYPE-COMPATIBLE superset (or subset — a replayed pre-DDL segment) of
    the stored pin WIDEN the manifest's value schema instead of raising —
    the Spark-side analogue of the reference delivering a Relation
    re-send's new columns straight to sinks (relation.go:68-87 →
    stream.go decode). Pre-evolution buckets are untouched; reads fill
    the widened columns with NULL (a column added mid-stream has no CDC
    value for rows not touched since the DDL — PG doesn't ship DEFAULT
    backfills through logical decoding). A column whose type changed
    WIDENS the pin in place when the pair is a safe parquet
    read-promotion (`widened_type`: int-chain, float->double, decimal
    precision, int->decimal — SPARK-40876 makes old narrow bucket files
    readable under the wider pin); any other type change still raises.

    `dropped_cols` (requires evolve_schema) marks source-dropped columns
    dead in the manifest: the row shape keeps the column, reads mask it
    to NULL from this epoch on, the TOAST fill stops inheriting its
    stored values, and time travel through pre-drop manifest snapshots
    still serves the old values. A dropped name re-added later raises
    (rebuild) — un-masking would resurrect pre-drop values as the new
    column's.

    The lock, the live manifest and the epoch manifest snapshots go
    through the backend mounted for `state_dir` (the data parquet is
    written by the Python workers through pyarrow.fs either way):
    POSIX for filesystem/NFS mirrors; an `ObjectStoreBackend` for S3/GCS
    state dirs, where the commit-point manifest swap is a TRUE CAS on
    the etag read at merge start — a zombie that slipped past the
    ownership fence still loses the swap and raises `MirrorLockLost`.

    `merge_mode` (r9 verdict item 1 — the 100 TB write-amplification
    fix): "cow" (default) rewrites every affected bucket in full per
    batch — write volume ∝ touched-bucket STATE, which at uniform
    pk-hash bucketing means the whole mirror once batch ≳ n_buckets
    rows. "delta" appends the batch's raw events as per-epoch delta
    files for the touched buckets WITHOUT reading base — write volume ∝
    BATCH size — and `read_mirror`/`read_mirror_as_of`/`lookup_mirror`
    fold base+deltas per pk at read (`fold_bucket`, the same dedup/
    TOAST/winner semantics as the COW merge, so both arms read
    identically over the same log). A bucket whose pending delta count
    reaches `compact_deltas` is compacted INSIDE the same merge (base +
    deltas + batch folded and rewritten, delta debt cleared) — steady
    state, every bucket's read cost is bounded by the budget and its
    amortized write cost by state/budget per compaction. Modes compose:
    a COW merge over a mirror with pending deltas folds and clears them
    for the buckets it touches; TRUNCATE always takes the full-rewrite
    path (all stored state dies, all delta debt clears): every task
    reports the last truncate position it saw, and if any saw one the
    driver reruns the job once with that position, folding only later
    events and dropping every stored bucket the rerun does not write.

    The delta arm's trade (the standard LSM one): a batch touching K
    buckets appends K small files (~1 per bucket, bounded open-file
    count at read by the budget). BYTES per batch drop from
    O(touched-bucket state) to O(batch); FILE COUNT per batch is K —
    size the trigger interval so batches are worth their K files, and
    let the budget-driven compaction fold the debt back into ~1 file
    per bucket. Reads never list the delta space: the manifest holds
    the exact rel paths."""
    if merge_mode not in ("cow", "delta"):
        raise ValueError(f"merge_mode must be 'cow' or 'delta', got {merge_mode!r}")
    # An empty batch still commits its epoch (same buckets) so
    # read_mirror_as_of works for it and the retention window counts
    # epochs (r6 review).
    _mirror_write(
        batch_df.sparkSession,
        state_dir,
        _merge_body(
            batch_df, state_dir, n_buckets, value_cols, evolve_schema,
            dropped_cols, merge_mode, compact_deltas,
        ),
        epoch=epoch,
        keep_epochs=keep_epochs,
        lock_ttl_s=lock_ttl_s,
    )


def _merge_body(
    batch_df: DataFrame,
    state_dir: str,
    n_buckets: int | None,
    value_cols: tuple[str, ...] | None,
    evolve_schema: bool,
    dropped_cols: tuple[str, ...] | None,
    merge_mode: str = "cow",
    compact_deltas: int = 8,
    rows: bool = True,
):
    """`merge_mirror_batch`'s `_mirror_write` body: pin the batch's shape
    in the manifest (bucket count, value schema, drops), then fold its
    rows into the buckets they touch. `rows=False` is a batch known to
    be empty: the body stops after the pins, and the epoch commits with
    the same buckets and no Spark job."""
    spark = batch_df.sparkSession
    if value_cols is None:
        value_cols = tuple(
            f.name for f in batch_df.schema.fields if f.name not in _RESERVED_COLS
        )

    def fold(manifest: dict, epoch_rel: str) -> list:
        # the pins below narrow the caller's batch to the stored mirror
        nonlocal batch_df, value_cols, n_buckets
        # Bucket count is a property of the STORED mirror, not of the caller:
        # first write pins it in the manifest; after that a conflicting request
        # is a rebuild, not a silent re-hash (keys would land in other buckets
        # and the touched-bucket invariant would corrupt state).
        stored_n = manifest.get("n_buckets")
        if stored_n is None:
            n_buckets = n_buckets or MIRROR_BUCKETS
            manifest["n_buckets"] = n_buckets
        elif n_buckets is not None and n_buckets != stored_n:
            raise ValueError(
                f"mirror at {state_dir} was created with n_buckets={stored_n}; "
                f"re-bucketing to {n_buckets} is an explicit migration "
                "(rebucket_mirror / tools/rebucket_mirror.py), never a "
                "silent re-hash"
            )
        else:
            n_buckets = stored_n
        # The value-column schema is likewise a property of the STORED mirror
        # (reference parity: a sink table's row shape). Pinned at first write;
        # a later merge with different columns is a rebuild, not a silent
        # schema drift.
        incoming_fields = [
            (c, batch_df.schema[c].dataType.simpleString()) for c in value_cols
        ]
        value_schema = ", ".join(f"{n} {t}" for n, t in incoming_fields)
        stored_schema = manifest.get("value_schema")
        if stored_schema is None:
            if manifest["buckets"] and value_schema != "after_val double":
                # pre-multi-column mirror: its buckets hold (after_val double)
                # by construction — pinning ANY other schema over them (other
                # columns OR a differently-typed after_val) would mix parquet
                # types across buckets
                raise ValueError(
                    f"mirror at {state_dir} predates multi-column support "
                    f"(stores after_val double); merging [{value_schema}] "
                    "requires a rebuild"
                )
            manifest["value_schema"] = value_schema
        elif stored_schema != value_schema:
            if not evolve_schema:
                # full DDL comparison — same NAMES with different TYPES would
                # write mixed-type parquet across buckets and break the union
                # at read time (r5 review finding)
                raise ValueError(
                    f"mirror at {state_dir} stores [{stored_schema}]; merging "
                    f"[{value_schema}] requires a rebuild"
                )
            # Widen: the union of stored + batch columns, stored order first
            # (bucket files already on disk keep their layout; an explicit-
            # schema read fills what a file lacks with NULL). A column whose
            # TYPE differs widens IN PLACE when the pair is a safe parquet
            # read-promotion (`widened_type` — the reference's Relation-cache
            # overwrite makes the new tuples authoritative, relation.go:68-87;
            # Spark's promotion rules make the old files readable under the
            # wider pin). A non-widenable change is still a rebuild.
            stored_fields = [
                (f.name, f.dataType.simpleString())
                for f in _mirror_struct(manifest).fields[3:]
            ]
            st_types = dict(stored_fields)
            in_types = dict(incoming_fields)
            conflicts = []
            target_fields = []
            for n, st_t in stored_fields:
                in_t = in_types.get(n, st_t)
                w = widened_type(st_t, in_t)
                if w is None:
                    conflicts.append(f"{n} ({st_t} vs {in_t})")
                    w = st_t
                target_fields.append((n, w))
            if conflicts:
                raise ValueError(
                    f"mirror at {state_dir} stores [{stored_schema}]; batch "
                    f"columns [{', '.join(conflicts)}] change type in a way "
                    "parquet read-promotion cannot widen — rebuild required "
                    "(safe widenings: int-chain, float->double, decimal "
                    "precision, int->decimal)"
                )
            target_fields += [
                (n, t) for n, t in incoming_fields if n not in st_types
            ]
            value_schema = ", ".join(f"{n} {t}" for n, t in target_fields)
            manifest["value_schema"] = value_schema
            # project the batch onto the union: a replayed pre-DDL segment is
            # missing the new column — NULL there means "unchanged" to the
            # TOAST fill, which inherits any stored value (exactly right).
            # The cast is the widening direction by construction (lossless);
            # a replayed NARROW segment casts up to the pin.
            batch_df = batch_df.select(
                *[c for c in batch_df.columns if c not in in_types],
                *[
                    F.col(n).cast(t).alias(n)
                    if n in in_types
                    else F.lit(None).cast(t).alias(n)
                    for n, t in target_fields
                ],
            )
            value_cols = tuple(n for n, _t in target_fields)

        # Column DROPS (evolve_schema; r8 verdict item 7): record the drop
        # epoch in the manifest. The column keeps its slot in the pinned row
        # shape (bucket files still hold pre-drop values; time travel through
        # pre-drop manifest snapshots still serves them), but from this epoch
        # on reads mask it to NULL and the merge stops inheriting its stored
        # values through the TOAST fill — new tuples are authoritative, the
        # reference's Relation-cache overwrite (relation.go:68-87).
        if dropped_cols:
            if not evolve_schema:
                raise ValueError("dropped_cols= requires evolve_schema=True")
            pinned = _mirror_struct(manifest).names[3:]
            drops = manifest.setdefault("dropped", {})
            for c in dropped_cols:
                if c in pinned and c not in drops:
                    drops[c] = manifest["epoch"]
        dead = set(manifest.get("dropped", {}))
        if dropped_cols is not None:
            # authoritative per-batch drop list (the engine's Relation
            # sidecar): a manifest-dropped column that REAPPEARS in the live
            # schema is a re-created same-name column — un-masking it would
            # resurrect pre-drop stored values as if they were the new
            # column's; fail loudly instead of either loss mode
            readded = (dead - set(dropped_cols)) & set(value_cols)
            if readded:
                raise ValueError(
                    f"columns {sorted(readded)} were dropped (mirror at "
                    f"{state_dir}) and re-added with the same name; the "
                    "mirror cannot distinguish old stored values from the "
                    "new column — rebuild required"
                )

        if not rows:
            return []
        # Event-order key: commit-rewritten envelopes carry (lsn, txn_seq) —
        # all rows of one transaction share the commit lsn and txn_seq splits
        # them; flat fixtures without txn_seq get 0 (their lsns are unique).
        seq_in = (
            F.col("txn_seq") if "txn_seq" in batch_df.columns else F.lit(0)
        ).cast("long")
        incoming = batch_df.select(
            "pk", "lsn", "op", seq_in.alias("txn_seq"), *value_cols,
            _bucket_col(n_buckets=n_buckets).alias("pb"),
        )
        files = _bucket_files(spark, state_dir, manifest)
        # ONE Spark job: each touched bucket's task folds its stored state
        # (read by manifest path) with the batch rows and writes the bucket's
        # new file, or — in delta mode, under the budget — appends the rows
        # as a delta file (merge-on-read, r9 verdict item 1: zero base reads,
        # write volume ∝ batch); an over-budget bucket compacts in the same
        # task. Dead (dropped) columns are masked on every fold input, so the
        # TOAST fill never resurrects their stored values.
        budget = max(int(compact_deltas), 1) if merge_mode == "delta" else None
        stored = _stored_bytes(manifest)
        results = _fold_groups(
            incoming, BucketTask(files, epoch_rel, budget), n_buckets, stored
        )
        cut = max(
            ((r["t_lsn"], r["t_seq"]) for r in results if r["kind"] == "truncate"),
            default=None,
        )
        if cut is not None:
            # TRUNCATE (op 'T' from either transport, rare): every stored row
            # and every batch event at or before the LAST truncate dies, in
            # every bucket. Rerun once with that position: stored state is
            # never read, only later events fold; every stored bucket the
            # rerun does not rewrite leaves the manifest, all delta debt with
            # it. The first run's files are overwritten or left for GC.
            results = _fold_groups(
                incoming, BucketTask(files, epoch_rel, truncated_at=cut),
                n_buckets, stored,
            )
            manifest["buckets"] = {}
            manifest.pop("deltas", None)
        return results

    return fold


def compact_mirror(
    spark: SparkSession,
    state_dir: str,
    min_deltas: int = 1,
    keep_epochs: int | None = None,
    lock_ttl_s: float = _MERGE_LOCK_TTL_S,
) -> int:
    """Explicit delta-debt compaction — the maintenance half of the
    merge-on-read arm (budget-driven compaction inside `merge_mirror_batch`
    is the inline half): fold base+deltas for every bucket owing at least
    `min_deltas` pending delta files and rewrite those buckets, clearing
    their debt, WITHOUT waiting for a batch to touch them. Run it from a
    scheduled maintenance job when read latency matters more than write
    amplification (the Delta OPTIMIZE / Iceberg rewrite_data_files
    idiom). Same lock/CAS/snapshot/GC protocol as a merge — concurrent
    merges queue, a zombie loses the manifest CAS, time travel keeps
    working. Returns the number of buckets compacted (0 = nothing owed).

    Scale shape: one Spark job over the indebted bucket ids; each task
    reads ONLY its bucket's base+delta files, folds them (`fold_bucket`)
    and writes exactly one pk-sorted file."""
    owed: list[int] = []

    def fold(manifest: dict, epoch_rel: str) -> list | None:
        owed.extend(sorted(
            int(b)
            for b, rels in (manifest.get("deltas") or {}).items()
            if len(rels) >= max(int(min_deltas), 1)
        ))
        if not owed:
            return None
        files = _bucket_files(spark, state_dir, manifest)
        return (
            spark.createDataFrame([(b,) for b in owed], _ID_STRUCT)
            .mapInArrow(BucketTask(files, epoch_rel).by_id(), _RESULT_DDL)
            .collect()
        )

    _mirror_write(
        spark, state_dir, fold, keep_epochs=keep_epochs, lock_ttl_s=lock_ttl_s
    )
    return len(owed)


def mirror_stats(
    spark: SparkSession,
    state_dir: str,
    target_rewrite_bytes: int = 512 << 20,
) -> dict:
    """Operational sizing/debt report for a mirror — the input side of
    the sizing loop (`mirror_stats` -> `suggest_mirror_buckets` ->
    `rebucket_mirror`):

      epoch, n_buckets, value_schema, keep_epochs — the manifest pins;
      base_bytes / base_files         — manifest-referenced bucket dirs;
      delta_bytes / delta_files       — pending merge-on-read debt;
      delta_debt                      — {bucket: pending delta count}
                                        (empty = fully compacted);
      suggested_buckets               — `suggest_mirror_buckets` on the
                                        live byte size: when this exceeds
                                        n_buckets, run rebucket_mirror.

    Lists ONLY manifest-referenced dirs, through pyarrow.fs (the layer
    the bucket tasks write them through, one handle per call) — no Spark
    jobs, no JVM call, no full-state scan; at 100 TB this is a listing of
    n_buckets directories, not a read."""
    manifest = _read_manifest(state_dir)
    fs, root = _data_fs(state_dir)

    def du(rel_paths: list[str]) -> tuple[int, int]:
        sizes = [
            i.size
            for rel in rel_paths
            for i in _children(fs, f"{root}/{rel}")
            if i.type == pafs.FileType.File
        ]
        return sum(sizes), len(sizes)

    deltas = {
        b: rels for b, rels in (manifest.get("deltas") or {}).items() if rels
    }
    base_bytes, base_files = du(list(manifest["buckets"].values()))
    delta_bytes, delta_files = du([r for rels in deltas.values() for r in rels])
    n = int(manifest.get("n_buckets") or MIRROR_BUCKETS)
    return {
        "epoch": manifest.get("epoch", -1),
        "n_buckets": n,
        "value_schema": manifest.get("value_schema", "after_val double"),
        "keep_epochs": int(manifest.get("keep_epochs", 1)),
        "base_bytes": base_bytes,
        "base_files": base_files,
        "delta_bytes": delta_bytes,
        "delta_files": delta_files,
        "delta_debt": {b: len(rels) for b, rels in deltas.items()},
        "suggested_buckets": suggest_mirror_buckets(
            base_bytes + delta_bytes, target_rewrite_bytes
        ),
    }


def rebucket_mirror(
    spark: SparkSession,
    state_dir: str,
    factor: int = 2,
    keep_epochs: int | None = None,
    lock_ttl_s: float = _MERGE_LOCK_TTL_S,
) -> int:
    """ONLINE bucket-count migration, N -> N*factor (r9 verdict item 6):
    a mirror sized for today's state needs more buckets after 100x
    growth (`suggest_mirror_buckets`), and the count is otherwise fixed
    at creation. This rewrites the whole mirror ONCE — epochs-atomically
    under the same merge lock, manifest CAS, and time-travel snapshot
    protocol as a merge, so:

      * readers never see mixed bucket counts — the manifest swap is the
        single visibility point, and any crash before it leaves only an
        unreferenced orphan dir the next GC removes;
      * a rebucket RACING a merge serializes on the merge lock; a zombie
        that slips the fence loses the etag CAS (loses cleanly — the
        mirror is untouched by it);
      * time travel ACROSS the rebucket epoch works: pre-rebucket
        snapshot manifests pin the old bucket dirs (and old n_buckets),
        post-rebucket ones the new — `read_mirror_as_of` reads either;
      * pending merge-on-read delta debt folds in (the rebucket is also
        a full compaction).

    `factor` must be a power of two: `pmod(xxhash64(pk), N)` is stable
    under power-of-two doubling — a key in old bucket b lands in b or
    b + N*2^i, never crossing other old buckets, which keeps
    `lookup_mirror`'s pruning exact at every point in history. Returns
    the new bucket count. The write is one full-state shuffle on the new
    bucket id, then one `fold_bucket` task per new bucket writes its
    pk-sorted file — size it like any table rewrite; the point is that it is ONLINE (concurrent
    merges queue on the lock, readers stay consistent), not free."""
    if factor < 2 or factor & (factor - 1):
        raise ValueError(f"rebucket factor must be a power of two, got {factor}")

    def rewrite(manifest: dict, epoch_rel: str) -> list:
        new_n = int(manifest.get("n_buckets") or MIRROR_BUCKETS) * factor
        # consolidated current state (folds any delta debt) re-hashed to
        # the new bucket count, then one `fold_bucket` task per new bucket
        # (no stored state under the new ids: the rows ARE the state)
        state = _manifest_df(spark, state_dir, manifest).select(
            "pk", "lsn", "op",
            F.lit(STORED_ROW_SEQ).cast("long").alias("txn_seq"),
            *_mirror_struct(manifest).names[3:],
            _bucket_col(n_buckets=new_n).alias("pb"),
        )
        files = _bucket_files(
            spark, state_dir, {**manifest, "buckets": {}, "deltas": {}}
        )
        results = _fold_groups(
            state, BucketTask(files, epoch_rel), new_n, _stored_bytes(manifest)
        )
        manifest["buckets"] = {}
        manifest.pop("deltas", None)  # folded into the rewrite
        manifest["n_buckets"] = new_n
        return results

    return _mirror_write(
        spark, state_dir, rewrite, keep_epochs=keep_epochs, lock_ttl_s=lock_ttl_s
    )["n_buckets"]


def mirror_sink(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_buckets: int | None = None,
    value_cols: tuple[str, ...] | None = ("after_val",),
    keep_epochs: int | None = None,
    transform=None,
    evolve_schema: bool = False,
    merge_mode: str = "cow",
    compact_deltas: int = 8,
    view_state_dir: str | None = None,
    view_groups: int = 8,
    view_value_col: str = "after_val",
    view_minmax: bool = False,
    maintain_every: int | None = None,
    maintain_min_deltas: int = 4,
    maintain_target_rewrite_bytes: int = 512 << 20,
    maintain_auto_rebucket: bool = False,
    on_maintenance=None,
):
    """Attach the mirror-maintenance sink to a change stream. Returns the
    StreamingQuery; call processAllAvailable() to drain in tests.
    `n_buckets` sizes a FRESH mirror (see sizing rule at MIRROR_BUCKETS /
    `suggest_mirror_buckets`); an existing mirror keeps its manifest-pinned
    count. `keep_epochs` > 1 retains that many epoch snapshots for
    `read_mirror_as_of` time travel. `merge_mode="delta"` /
    `compact_deltas` select the merge-on-read arm per micro-batch (write
    ∝ batch at state≫batch — see merge_mirror_batch).

    `transform(batch_df) -> (rows, dropped_cols)`, when given, runs
    INSIDE each foreachBatch on the micro-batch (batch semantics —
    aggregates and joins that Structured Streaming would reject pre-sink
    are legal here): the stream carries raw transport rows and the
    decode/typing happens per batch. The batch merges `rows` with
    `dropped_cols` as `merge_mirror_batch`'s drop list (the engine's
    per-batch Relation-sidecar answer under `evolve_schema`, else None);
    there is no drop-list option. It runs first in each batch, before
    the view's version 0 and the merge: `CdcEngine.start` holds its
    batches there until the snapshot seed has committed.

    A batch whose source input has no partitions (the first batch over an
    empty segment log) commits a manifest-only epoch — same buckets, the
    merge's pins — without a Spark job, and does not touch the view.

    Epoch numbering comes from the MIRROR's manifest counter, NOT from
    Spark's foreachBatch batch id: the two counters live in different
    namespaces (the engine's snapshot seed already consumed mirror epoch
    0 before the stream's batch 0 arrives), and a collision is data loss
    — the colliding batch's epoch-dir write replaces seeded buckets
    the manifest still references (found by the live-PostgreSQL engine lifecycle
    test). A checkpoint REPLAY of a batch re-merges idempotently into a
    fresh epoch instead of overwriting (events dedupe against stored
    rows on (pk, lsn, txn_seq)); a pre-swap crash leaves only
    unreferenced orphan dirs, which the next GC removes.

    `view_state_dir` co-maintains an incremental aggregate view
    (`streaming.agg_view_stream`) from the SAME micro-batches. A view
    with no committed version starts as version 0 = the mirror's state
    at the sink's first batch (after `transform`, so after the engine's
    seed has committed), so a snapshot seed's rows count. Before images
    come from the mirror (bucket-pruned `mirror_befores_for`, read
    BEFORE the merge; staged deltas make checkpoint replay safe — see
    `update_agg_view_from_log`), and with
    `view_minmax=True` the min/max dirty-repair reads the post-merge
    mirror — the authoritative source the same batch just finished
    writing. View versions are keyed
    by Spark's foreachBatch id (its own namespace; the mirror-epoch
    collision caveat above concerns mirror epochs only) — which couples
    the view state dir's lifetime to the STREAMING CHECKPOINT's: deleting
    the checkpoint while keeping view_state_dir restarts batch ids at 0,
    and readers (who pick the highest committed version) would shadow the
    restarted stream's folds with stale higher versions. The fold detects
    this and fails fast (`agg_view_stream._check_not_shadowed`); treat
    checkpoint_dir + view_state_dir as one unit — delete or restore them
    together.

    View maintenance assumes THIS stream is the mirror's only writer
    while it runs (the same assumption the stream itself makes — two
    sinks feeding one mirror would double-apply events before any view
    enters the picture): a foreign merge landing between the before-read
    and this batch's merge would invalidate the staged deltas. The
    mirror's merge lock/CAS protects mirror INTEGRITY across processes,
    not view delta freshness.

    `maintain_every=N` (opt-in; r10 verdict item 6) runs the maintenance
    POLICY every N micro-batches, after the merge: consult `mirror_stats`
    (a manifest read + bucket-dir listing — no Spark job, no state scan);
    if any bucket owes >= `maintain_min_deltas` pending delta files, run
    `compact_mirror` at that threshold (driving lingering merge-on-read
    debt back under budget even for buckets no batch touches anymore);
    and when `suggest_mirror_buckets` (under
    `maintain_target_rewrite_bytes`) exceeds the pinned bucket count,
    SURFACE a rebucket recommendation — by default never auto-run it: a
    rebucket is a full-state rewrite whose scheduling belongs to an
    operator (`rebucket_mirror` is online but not free).
    `maintain_auto_rebucket=True` opts in to running the rebucket inside
    the policy tick (see `run_mirror_maintenance`). The post-policy
    stats dict — plus `rebucket_recommended` — goes to `on_maintenance`
    (wire `observability.CdcMetricsListener.record_mirror` to see it in
    /status)."""
    batch_counter = {"n": 0}

    def apply(batch_df: DataFrame, _spark_epoch: int) -> None:
        raw, dropped_cols = batch_df, None
        if transform is not None:
            # runs first: the engine's start gate waits in here
            batch_df, dropped_cols = transform(batch_df)
        spark = batch_df.sparkSession
        if view_state_dir is not None and batch_counter["n"] == 0:
            from .agg_view_stream import latest_version, seed_agg_view_from_state

            if latest_version(view_state_dir) is None:
                # without version 0, the first stream update of a key
                # already in the mirror would retract value the view
                # never credited. Idempotent (recomputes version 0); an
                # empty mirror seeds an empty view, pinning the
                # minmax-tracking mode either way. A mirror with no
                # manifest has no pinned row shape to read (its default
                # `after_val double` may lack the view's column).
                manifest = _read_manifest(state_dir)
                seed_agg_view_from_state(
                    _manifest_df(spark, state_dir, manifest)
                    if manifest["epoch"] >= 0
                    else spark.createDataFrame([], f"`{view_value_col}` double"),
                    view_state_dir,
                    n_groups=view_groups,
                    value_col=view_value_col,
                    track_minmax=view_minmax,
                )
        # planning only, no Spark job: a batch with no input partitions
        # (the first batch over an empty segment log) commits its epoch
        # with the merge's pins and no fold, and leaves the view as is
        rows = raw.rdd.getNumPartitions() > 0
        if rows and view_state_dir is not None:
            from .agg_view_stream import (
                fold_staged_view_deltas,
                stage_view_deltas,
            )

            # view version = spark batch id + 1: version 0 is the
            # mirror-state initialization above
            # thunk, not value: on a checkpoint replay the staged delta
            # dir already exists and stage_view_deltas short-circuits —
            # the manifest read + touched-bucket collect inside
            # mirror_befores_for must not run eagerly just to be thrown
            # away (r10 advisor)
            stage_view_deltas(
                batch_df,
                _spark_epoch + 1,
                view_state_dir,
                before_df=lambda: mirror_befores_for(
                    spark, state_dir, batch_df, view_value_col
                ),
                n_groups=view_groups,
                value_col=view_value_col,
            )
        if rows:
            merge_mirror_batch(
                batch_df, state_dir, epoch=None, n_buckets=n_buckets,
                value_cols=value_cols, keep_epochs=keep_epochs,
                evolve_schema=evolve_schema,
                dropped_cols=dropped_cols, merge_mode=merge_mode,
                compact_deltas=compact_deltas,
            )
        else:
            _mirror_write(
                spark,
                state_dir,
                _merge_body(
                    batch_df, state_dir, n_buckets, value_cols,
                    evolve_schema, dropped_cols, rows=False,
                ),
                keep_epochs=keep_epochs,
            )
        if rows and view_state_dir is not None:
            authoritative = None
            if view_minmax:
                from ..operators.cdc import value_group

                dec = F.col(view_value_col).cast("decimal(18,2)")

                def authoritative():
                    # grp MUST come from the same value_group the staged
                    # deltas used — a second inline definition could
                    # silently repair the wrong groups (r10 review)
                    return read_mirror(spark, state_dir).select(
                        value_group(view_groups)(dec).alias("grp"),
                        (dec * 100).cast("long").alias("v_cents"),
                    )

            fold_staged_view_deltas(
                spark,
                _spark_epoch + 1,
                view_state_dir,
                n_groups=view_groups,
                authoritative=authoritative,
            )
        batch_counter["n"] += 1
        if maintain_every and batch_counter["n"] % maintain_every == 0:
            # best-effort: the batch's MERGE already committed — failing
            # the foreachBatch here would force a (harmless but wasted)
            # idempotent replay just because maintenance lost a lock
            # race or a stats listing hiccuped; debt compaction retries
            # naturally at the next policy tick
            try:
                run_mirror_maintenance(
                    spark,
                    state_dir,
                    min_deltas=maintain_min_deltas,
                    target_rewrite_bytes=maintain_target_rewrite_bytes,
                    on_maintenance=on_maintenance,
                    auto_rebucket=maintain_auto_rebucket,
                )
            except Exception:
                import logging

                logging.getLogger(__name__).warning(
                    "mirror maintenance pass failed (will retry in "
                    "%d batches)", maintain_every, exc_info=True,
                )

    return (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply)
        .start()
    )


def run_mirror_maintenance(
    spark: SparkSession,
    state_dir: str,
    min_deltas: int = 4,
    target_rewrite_bytes: int = 512 << 20,
    on_maintenance=None,
    auto_rebucket: bool = False,
) -> dict:
    """One maintenance-policy pass (see mirror_sink's `maintain_every`):
    compact past the debt threshold, then report post-policy stats with a
    `rebucket_recommended` flag. Also callable directly from a scheduled
    maintenance job against a quiescent or live mirror — it takes the
    same merge lock as any merge.

    `auto_rebucket` (OFF by default — r11 verdict item 8): when the
    recommendation fires, run `rebucket_mirror` right here with the
    smallest power-of-two factor that reaches `suggested_buckets`. The
    rebucket serializes on the merge lock and swaps epochs atomically
    like any merge, so readers and concurrent merges stay consistent —
    but it IS a full-state rewrite, which is why the default only
    surfaces the recommendation and leaves scheduling to an operator.
    Opt in when the mirror is small enough that an unscheduled rewrite
    inside a maintenance tick is acceptable. The report then carries
    `rebucket_performed` (the new bucket count) and re-read stats."""
    def read_stats() -> dict:
        s = mirror_stats(
            spark, state_dir, target_rewrite_bytes=target_rewrite_bytes
        )
        s["rebucket_recommended"] = s["suggested_buckets"] > s["n_buckets"]
        return s

    stats = read_stats()
    debt = stats["delta_debt"]
    if debt and max(debt.values()) >= min_deltas:
        compact_mirror(spark, state_dir, min_deltas=min_deltas)
        stats = read_stats()
    if auto_rebucket and stats["rebucket_recommended"]:
        factor = 2
        while stats["n_buckets"] * factor < stats["suggested_buckets"]:
            factor *= 2
        new_n = rebucket_mirror(spark, state_dir, factor=factor)
        stats = read_stats()
        stats["rebucket_performed"] = new_n
    if on_maintenance is not None:
        on_maintenance(stats)
    return stats


def multi_mirror_sink(
    stream_df: DataFrame,
    state_root: str,
    checkpoint_dir: str,
    table_col: str = "tbl",
    n_buckets: int | None = None,
    keep_epochs: int | None = None,
    merge_mode: str = "cow",
    compact_deltas: int = 8,
):
    """O17 fan-out apply: one slot carries every published table's events;
    each micro-batch is split by table and merged into that table's mirror.
    The per-table loop is driver-side control flow only — each merge is a
    distributed job (tables per batch are few; rows are many)."""

    def apply(batch_df: DataFrame, _spark_epoch: int) -> None:
        # one source read for the table split and every per-table merge
        batch_df = batch_df.persist()
        try:
            tables = [r[0] for r in batch_df.select(table_col).distinct().collect()]
            for t in tables:
                # epoch=None: each table's mirror numbers its own epochs from
                # its manifest counter — Spark's batch id collides with epochs
                # an engine seed already wrote (see mirror_sink)
                merge_mirror_batch(
                    batch_df.filter(F.col(table_col) == t).drop(table_col),
                    os.path.join(state_root, t.replace(".", "__")),
                    epoch=None,
                    n_buckets=n_buckets,
                    keep_epochs=keep_epochs,
                    merge_mode=merge_mode,
                    compact_deltas=compact_deltas,
                )
        finally:
            batch_df.unpersist()

    return (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(apply)
        .start()
    )
