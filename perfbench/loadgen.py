"""Seeded load generator: the SQL the workloads send, and the process
that sends it.

The generator runs as its own process with one connection. With
--rate it is an open loop: transaction i is due at start + i / rate
whatever the server or the pipeline does, and it is timed from that due
time. Without, it sends back to back (the catch-up backlog). Every
transaction reports its xid, which the benchmark joins to the
commit LSN the pump wrote into the segment log.

    python3 perfbench/loadgen.py --port P --plan mixed --seed 1 \
        --rows 6000 --txns 1500 --rate 100 --rows-per-txn 5 --out log.json

The process prints READY once connected and starts on a GO line on
stdin. A `mixed` run sends until a LIVE line, then exactly --txns more
transactions with one large transaction halfway through them. End of input ends any run early. The
log goes to --out and the process prints DONE.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

BIG_FN = "perfbench_big"
BIG_CHUNKS = 80  # 80 md5 digests: 2,560 hex characters, stored out of line

# op mix of the change plans: cumulative thresholds on one draw
P_INSERT, P_DELETE, P_BIG_UPDATE = 0.20, 0.35, 0.45

CHANGE_TABLE = "items"  # the mixed plans' table: pk, val, n and a TOAST column `big`
INSERT_TABLE = "users"  # the insert plans' table: pk bigserial, name


def big_fn_sql() -> str:
    """Deterministic, incompressible text for the TOAST column."""
    return (
        f"CREATE OR REPLACE FUNCTION {BIG_FN}(k text) RETURNS text "
        "LANGUAGE sql IMMUTABLE AS $$ SELECT string_agg(md5(k || ':' || i), '' "
        f"ORDER BY i) FROM generate_series(1, {BIG_CHUNKS}) i $$"
    )


LARGE_ROWS = 300  # rows of the large transaction: pks 1..LARGE_ROWS, never deleted


def change_plan(seed: int, n_txns: int, n_rows: int, rows_per_txn: int = 1) -> list[str]:
    """SQL bodies of `n_txns` transactions, each `rows_per_txn` single-row
    INSERT, UPDATE or DELETE statements against CHANGE_TABLE preloaded
    with pks 1..n_rows. Every statement changes exactly one row: only keys
    that exist are updated or deleted and inserted keys are new, so no
    statement fails. Keys up to LARGE_ROWS are never deleted. Most updates
    leave the `big` column untouched."""
    table = CHANGE_TABLE
    rng = random.Random(f"{seed}:{table}")
    live = list(range(1, n_rows + 1))
    next_pk = n_rows + 1
    txns = []
    for i in range(n_txns):
        stmts = []
        for j in range(rows_per_txn):
            r = rng.random()
            tag = f"{i}.{j}"
            if r < P_INSERT or len(live) < 2:
                pk, next_pk = next_pk, next_pk + 1
                live.append(pk)
                stmts.append(
                    f"INSERT INTO {table} VALUES ({pk}, 'i{tag}', 0, {BIG_FN}('{seed}:{tag}'))")
                continue
            k = rng.randrange(len(live))
            pk = live[k]
            if r < P_DELETE and pk > LARGE_ROWS:
                live[k] = live[-1]
                live.pop()
                stmts.append(f"DELETE FROM {table} WHERE pk = {pk}")
            elif r < P_BIG_UPDATE:
                stmts.append(
                    f"UPDATE {table} SET n = n + 1, big = {BIG_FN}('{seed}:{tag}') "
                    f"WHERE pk = {pk}"
                )
            else:
                stmts.append(f"UPDATE {table} SET val = 'u{tag}', n = n + 1 WHERE pk = {pk}")
        txns.append("; ".join(stmts))
    return txns


def large_txn(seed: int) -> str:
    """One UPDATE that rewrites the TOAST value of LARGE_ROWS rows: large
    enough to be streamed under protocol v2."""
    return (f"UPDATE {CHANGE_TABLE} SET val = 'L', n = n + 1, big = {BIG_FN}('{seed}:L') "
            f"WHERE pk BETWEEN 1 AND {LARGE_ROWS}")


def insert_plan(seed: int, n_txns: int, rows_per_txn: int) -> list[str]:
    """Multi-row INSERT transactions of the reference's benchmark shape,
    `users(pk bigserial, name text)`."""
    return [
        f"INSERT INTO {INSERT_TABLE} (name) SELECT md5('{seed}:' || g) "
        f"FROM generate_series({i * rows_per_txn + 1}, {(i + 1) * rows_per_txn}) g"
        for i in range(n_txns)
    ]


class Control:
    """Commands from the benchmark on stdin: LIVE starts the fixed-length
    second phase; end of input ends the run."""

    def __init__(self):
        self.live_at: int | None = None  # first txn index of the live phase
        self.stop = threading.Event()
        self.index = 0

    def watch(self) -> None:
        for line in sys.stdin:
            if line.strip() == "LIVE" and self.live_at is None:
                self.live_at = self.index + 1
        self.stop.set()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--plan", choices=["insert", "mixed"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, default=0, help="preloaded pks 1..rows")
    ap.add_argument("--txns", type=int, required=True,
                    help="insert: the backlog; mixed: transactions after LIVE")
    ap.add_argument("--rows-per-txn", type=int, default=1)
    ap.add_argument("--rate", type=float, default=0.0, help="txn/s; 0 = back to back")
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    from go_pq_cdc_spark.sources.replication_client import ReplicationConnection, ReplicationError

    if args.plan == "insert":
        plan = insert_plan(args.seed, args.txns, args.rows_per_txn)
    else:  # room for the snapshot phase before LIVE, at most 120 s of it
        plan = change_plan(args.seed, args.txns + int(args.rate * 120), args.rows,
                           args.rows_per_txn)
    conn = ReplicationConnection.connect("127.0.0.1", args.port, "postgres", "postgres",
                                         replication=False)
    print("READY", flush=True)
    if sys.stdin.readline().strip() != "GO":
        return 1
    ctl = Control()
    threading.Thread(target=ctl.watch, daemon=True).start()
    log, failed, large = [], 0, None
    t0 = time.time()
    for i, body in enumerate(plan):
        ctl.index = i
        if ctl.stop.is_set():
            break
        if ctl.live_at is not None and i >= ctl.live_at and args.plan == "mixed":
            done = i - ctl.live_at
            if done == args.txns:
                break
            if done == args.txns // 2 and large is None:
                large = large_txn(args.seed)
                body = f"{large}; {body}"
        due = t0 + i / args.rate if args.rate else time.time()
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        sent = time.time()
        try:
            rows = conn.simple_query(f"SELECT txid_current() % 4294967296; {body}")
        except ReplicationError as exc:
            failed += 1
            print(f"txn {i} failed: {exc}", file=sys.stderr)
            continue
        log.append((int(rows[0][0]), due, sent, time.time()))
    conn.close()
    with open(args.out, "w") as f:
        json.dump({"txns": log, "attempted": len(log) + failed, "failed": failed,
                   "live_at": ctl.live_at}, f)
    print("DONE", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
