"""Streaming top-k-per-group view (leaderboards) maintained incrementally
from CDC deltas — the general-k case of the min/max problem: top-k is NOT
self-maintainable (a delete of a member cannot be answered from the top-k
alone), so the view keeps a bounded synopsis of CAPACITY = 2k pairs per
group and repairs from the authoritative source only when the synopsis
can no longer prove the prefix.

Prefix invariant (what makes bounded maintenance sound): each group's
state is EXACTLY the m highest (value, pk) pairs of the group's live
rows, m <= capacity, under the total order (v_cents, pk) descending (pk
breaks value ties, so the order is total and the top-k is deterministic).
Per batch, a bounded capture suffices:

  * top-CAPACITY INSERTED pairs per group (a window rank over the batch,
    one grp shuffle). If more inserts exist, the uncaptured ones are all
    below the captured minimum — the state is truncated at that minimum,
    which restores the prefix invariant exactly (anything above it is
    provably present).
  * top-(CAPACITY+1) RETRACTED pairs per group. Applied in descending
    order: a retraction >= the state minimum is necessarily IN the state
    (prefix property) and is removed; the first retraction below the
    state minimum proves every remaining (captured or not) is below too.
    If ALL captured retractions landed inside the prefix and more exist
    uncaptured, the group is DIRTY (an unseen retraction might also hit).

A group is also dirty when its surviving prefix is shorter than
min(k, n_live): the synopsis can no longer prove the top-k. Dirty groups
repair from `authoritative` — live (grp, pk, v_cents) rows (the mirror
projection in engine wiring) — scanning only dirty groups' top-capacity.

State layout mirrors `agg_view_stream`: the shared
`versioned_state.VersionedState` discipline — `state_dir/v{batch_id}/`
parquet (grp, rnk, pk, v_cents, n_keys) committed by a ClaimBackend meta
marker, so the state_dir can live on raw object storage; idempotent
versioned overwrite (a retried batch recomputes v{N} from v{N-1}).
Everything collected is bounded by groups x capacity — never by batch,
view, or mirror size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cdc import agg_view_deltas, value_group
from .agg_view_stream import _check_group_ceiling, latest_version
from .versioned_state import VersionedState

STATE_SCHEMA = "grp long, rnk int, pk long, v_cents long, n_keys long"


def _read_state(
    spark: SparkSession,
    state_dir: str,
    version: int,
    meta: dict | None = None,
):
    """Pass a pre-read `meta` to avoid a second backend GET per fold —
    the ceiling pre-check already read it (r12 review)."""
    vs = VersionedState(state_dir)
    rows = spark.read.schema(STATE_SCHEMA).parquet(vs.version_dir(version)).collect()
    if meta is None:
        meta = vs.read_meta(version)
    state: dict = {}
    for r in rows:
        pairs, _ = state.setdefault(r["grp"], ([], r["n_keys"]))
        pairs.append((r["v_cents"], r["pk"]))
    # rnk order on disk is descending already; re-sort defensively
    state = {
        g: (sorted(pairs, reverse=True), n) for g, (pairs, n) in state.items()
    }
    return state, meta


def update_topk_view_state(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    authoritative,
    k: int = 5,
    n_groups: int = 8,
    before_col: str = "before_val",
    after_col: str = "after_val",
    max_groups: int = 50_000,
) -> None:
    """foreachBatch body. `authoritative` is REQUIRED (unlike the sum
    view, deletes routinely hit the tracked set): a zero-arg callable
    returning live (grp, pk, v_cents) rows, read AFTER this batch is
    applied to the source of truth.

    CARDINALITY CONTRACT (r11 verdict item 4): this view collects
    groups x capacity state to the driver — correct for leaderboard-
    cardinality group keys, a silent driver-memory cliff for
    high-cardinality ones. `max_groups` makes the cliff a refusal: the
    batch capture collects at most 2*max_groups+1 summary rows (the
    aggregate is LIMIT-bounded before it reaches the driver) and the
    folded state may track at most `max_groups` groups; exceeding either
    raises with a pointer at the batch path. For high-cardinality keys
    use the batch operators over the mirror instead
    (`operators.scale.salted_topk` over `cdc_latest_state`'s
    projection) — they shuffle, this view must not."""
    spark = batch_df.sparkSession
    capacity = 2 * k
    deltas = agg_view_deltas(
        batch_df,
        value_group(n_groups),
        before_col=before_col,
        after_col=after_col,
        extra_cols=("pk",),
    ).filter(F.col("grp").isNotNull())  # NULL values carry no rankable pair
    d = deltas.select(
        "grp",
        "dk",
        "pk",
        ((F.col("dv") * 100).cast("long") * F.col("dk")).alias("v"),
    )
    w = Window.partitionBy("grp", "dk").orderBy(
        F.desc("v"), F.desc("pk")
    )
    # ONE distributed action: the window's (grp, dk) clustering satisfies
    # the groupBy, so the rank and the count+capped-top-list aggregate
    # share a single scan and a single shuffle
    ranked = d.withColumn("rn", F.row_number().over(w))
    # LIMIT bounds the collect BEFORE rows reach the driver: <= 2 rows
    # per touched group, so a batch touching more than max_groups groups
    # cannot overrun driver memory — it trips the guard below instead
    summary = (
        ranked.groupBy("grp", "dk")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rn") <= capacity + 1, F.struct("v", "pk"))
                ),
                asc=False,
            ).alias("top"),
        )
        .limit(2 * max_groups + 1)
        .collect()
    )
    _check_group_ceiling(
        len({r["grp"] for r in summary}), max_groups, state_dir, "batch"
    )
    counts = {(r["grp"], r["dk"]): r["c"] for r in summary}
    # RAW captured pairs per (grp, dk), descending — the overflow proofs
    # anchor on these: every UNCAPTURED pair is <= the raw captured
    # minimum, a bound multiset cancellation must not erase
    raw: dict = {
        (r["grp"], r["dk"]): [(t["v"], t["pk"]) for t in r["top"]]
        for r in summary
    }

    # same checkpoint/view-state lifecycle guard as the agg view: a
    # committed version above this batch_id means the streaming
    # checkpoint restarted against surviving view state — the fold would
    # be shadowed by the stale higher version (r10 advisor)
    from .agg_view_stream import _check_not_shadowed

    _check_not_shadowed(state_dir, batch_id)
    prev = latest_version(state_dir, below=batch_id)
    repairs = 0
    if prev is not None:
        # refuse BEFORE the state collect when the persisted meta already
        # proves the ceiling is blown (a state written under a larger
        # max_groups, re-opened under a smaller one); the meta read here
        # is reused by _read_state — one GET per fold
        meta = VersionedState(state_dir).read_meta(prev)
        _check_group_ceiling(
            int(meta.get("groups", 0)), max_groups, state_dir, "state"
        )
        state, meta = _read_state(spark, state_dir, prev, meta=meta)
        if meta["k"] != k or meta["n_groups"] != n_groups:
            raise ValueError(
                f"state at {state_dir} was built with k={meta['k']} "
                f"n_groups={meta['n_groups']}; rebuild to change them"
            )
        repairs = int(meta.get("repairs", 0))
    else:
        state = {}

    # Multiset cancellation of captured pairs: a key inserted and
    # retracted at the same (v, pk) within one batch (I..D churn, or a
    # value-preserving U) nets to nothing — applying the retract without
    # its insert partner (or vice versa) would corrupt the prefix.
    from collections import Counter

    net: Counter = Counter()
    for (g, dk), pairs_ in raw.items():
        for p in pairs_:
            net[(g, p)] += dk
    ins: dict = {}
    ret: dict = {}
    for (g, p), c in net.items():
        if c > 0:
            ins.setdefault(g, []).extend([p] * c)
        elif c < 0:
            ret.setdefault(g, []).extend([p] * (-c))

    dirty: set = set()
    for g in {g for (g, _dk) in counts}:
        pairs, n_keys = state.get(g, ([], 0))
        # stored invariant: len(pairs) == n_keys  <=>  the prefix covers
        # the whole group (exact prefixes make this derivable)
        complete = len(pairs) == n_keys
        thr = pairs[-1] if pairs else None
        n_keys += counts.get((g, 1), 0) - counts.get((g, -1), 0)
        raw_ins = raw.get((g, 1), [])
        raw_ret = raw.get((g, -1), [])
        uncap_ins = counts.get((g, 1), 0) > len(raw_ins)
        uncap_ret = counts.get((g, -1), 0) > len(raw_ret)
        # 1. inserts (netted): above the pre-insert minimum always joins
        # the prefix; at-or-below it joins ONLY when the prefix covers
        # the whole group (otherwise uncovered live pairs in between
        # could outrank it and the prefix would no longer be exact)
        gi = sorted(ins.get(g, []), reverse=True)[:capacity]
        for p in gi:
            if complete or (thr is not None and p > thr):
                pairs.append(p)
        pairs.sort(reverse=True)
        if uncap_ins:
            # uncaptured inserts exist, all <= the RAW captured minimum
            # (netted gi may be empty after cancellation — the bound must
            # come from the raw capture): cut the prefix where exactness
            # is still provable — at the raw captured minimum, but never
            # below the pre-insert minimum of an incomplete prefix
            # (pairs in between were never stored)
            cut = raw_ins[-1] if complete else max(thr, raw_ins[-1])
            pairs = [p for p in pairs if p >= cut]
        del pairs[capacity:]
        # 2. retractions (netted, descending): >= state minimum is
        # provably IN the prefix and is removed; below it cannot touch
        # the prefix
        for p in sorted(ret.get(g, []), reverse=True):
            if not pairs or p < pairs[-1]:
                break
            try:
                pairs.remove(p)
            except ValueError:
                # a retraction whose insert partner was uncaptured (its
                # pair sits below the captured-insert cut) — the prefix
                # can't prove anything here; repair
                dirty.add(g)
                break
        if uncap_ret and (not pairs or raw_ret[-1] >= pairs[-1]):
            # uncaptured retractions exist and the RAW captured minimum
            # does not prove they sit below the surviving prefix — one
            # of them might hit it (netted lists can be empty after
            # cancellation; only the raw bound is trustworthy)
            dirty.add(g)
        if n_keys <= 0:
            state.pop(g, None)
            dirty.discard(g)
            continue
        if len(pairs) < min(k, n_keys):
            dirty.add(g)
        state[g] = (pairs, n_keys)

    if dirty:
        repairs += 1
        auth = authoritative().filter(F.col("grp").isin(list(dirty)))
        wr = Window.partitionBy("grp").orderBy(F.desc("v_cents"), F.desc("pk"))
        rows = (
            auth.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= capacity)
            .collect()
        )
        fixed: dict = {g: [] for g in dirty}
        for r in rows:
            fixed[r["grp"]].append((r["v_cents"], r["pk"]))
        for g in dirty:
            _, n_keys = state[g]
            if not fixed[g]:
                # every dirty group still in `state` has folded n_keys > 0
                # (zero-key groups were popped above), so an EMPTY repair
                # means the delta fold and the authoritative source
                # disagree about the group's existence — writing zero rows
                # here would silently zero n_keys on the next read and
                # corrupt later retractions. Fail loudly instead (r10
                # advisor): this is state drift, not a valid view.
                raise RuntimeError(
                    f"top-k repair for group {g!r} returned no rows while "
                    f"the folded state holds n_keys={n_keys}: the delta "
                    "fold and the authoritative source have diverged — "
                    "rebuild the view state from the authoritative source"
                )
            state[g] = (sorted(fixed[g], reverse=True), n_keys)

    _check_group_ceiling(len(state), max_groups, state_dir, "state")
    vs = VersionedState(state_dir)
    out = [
        (g, i + 1, pk, v, n_keys)
        for g, (pairs, n_keys) in sorted(state.items())
        for i, (v, pk) in enumerate(pairs)
    ]
    spark.createDataFrame(out, STATE_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(vs.version_dir(batch_id))
    vs.commit(
        batch_id,
        {
            "k": k,
            "n_groups": n_groups,
            "batch_id": batch_id,
            "repairs": repairs,
            "groups": len(state),
        },
    )
    vs.gc_versions(spark, keep=2)


def read_topk_view(
    spark: SparkSession,
    state_dir: str,
) -> DataFrame:
    """Current top-k: (grp, rnk, pk, val), rnk 1..k per group."""
    ver = latest_version(state_dir)
    if ver is None:
        return spark.createDataFrame(
            [], "grp long, rnk int, pk long, val double"
        )
    vs = VersionedState(state_dir)
    k = int(vs.read_meta(ver)["k"])
    return (
        spark.read.schema(STATE_SCHEMA)
        .parquet(vs.version_dir(ver))
        .filter(F.col("rnk") <= k)
        .select(
            "grp",
            "rnk",
            "pk",
            (F.col("v_cents").cast("decimal(28,2)") / 100)
            .cast("double")
            .alias("val"),
        )
    )
