"""The workloads. Each runs a set-up phase and a timed phase on a fresh
server and records its metrics and correctness counts.

catchup_insert    users(pk bigserial, name text) insert backlog held as
                  retained WAL behind the slot, drained once timing starts
mixed_toast_paced chunked socket snapshot of a REPLICA IDENTITY DEFAULT
                  table with an out-of-line TOAST column while open-loop
                  INSERT/UPDATE/DELETE runs at a fixed rate, then the live
                  phase: one streamed large transaction, concurrent lookups
"""

from __future__ import annotations

import json
import os
import random
import resource
import subprocess
import sys
import threading
import time

import loadgen
import pgserver
import stats
from pipeline import Cdc

MIN_LOOKUPS = 20  # enough for a median with ten samples beyond it
HERE = os.path.dirname(os.path.abspath(__file__))


class Generator:
    """The load generator process (loadgen.py): one process, one connection."""

    def __init__(self, run_dir: str, port: int, name: str, *args: str):
        self.out = os.path.join(run_dir, f"{name}.json")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), "--port", str(port),
             "--out", self.out, *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        if self.proc.stdout.readline().strip() != "READY":
            self.close()
            raise RuntimeError("load generator failed to start")

    def go(self) -> None:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()

    def live(self) -> float:
        """Switch a mixed run to its fixed-length live phase."""
        t = time.time()
        self.proc.stdin.write("LIVE\n")
        self.proc.stdin.flush()
        return t

    def finish(self) -> dict:
        done = self.proc.stdout.readline().strip()
        self.proc.stdin.close()
        self.proc.wait(timeout=60)
        if done != "DONE":
            raise RuntimeError("load generator did not finish")
        with open(self.out) as f:
            return json.load(f)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class Lookups:
    """Closed-loop point lookups on the mirror from one driver thread."""

    def __init__(self, cdc: Cdc, seed: int, max_pk: int, cols: list[str],
                 expect: dict | None = None, tracer=None):
        """`expect` maps pk -> value texts for rows that never change; a
        lookup of any other row only has to return that row or none."""
        from go_pq_cdc_spark.streaming import lookup_mirror

        self.cdc, self.max_pk, self.cols, self.expect = cdc, max_pk, cols, expect
        self.fn = tracer.lookup(lookup_mirror) if tracer else lookup_mirror
        self.rng = random.Random(f"{seed}:lookups")
        self.samples: list[float] = []
        self.failed = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="lookups", daemon=True)
        self._t.start()

    def _run(self) -> None:
        state = self.cdc.dirs()["state"]
        # after stop, finish at least MIN_LOOKUPS attempts
        while not self._stop.is_set() or len(self.samples) + self.failed < MIN_LOOKUPS:
            pk = self.rng.randint(1, self.max_pk)
            t = time.perf_counter()
            try:
                rows = self.fn(self.cdc.spark, state, [pk]).collect()
            except Exception as exc:  # noqa: BLE001 — a failed lookup is counted
                print(f"lookup {pk} failed: {exc}", file=sys.stderr)
                self.failed += 1
                continue
            self.samples.append((time.perf_counter() - t) * 1e3)
            got = [tuple(_text(r[c]) for c in self.cols[1:]) for r in rows]
            if any(r["pk"] != pk for r in rows) or len(rows) > 1 or (
                self.expect is not None and got != [self.expect[pk]]
            ):
                self.failed += 1

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=120)
        if self._t.is_alive():
            raise TimeoutError("lookup thread did not finish")


def _text(v):
    return None if v is None else str(v)


class Workload:
    name = ""
    table = ""
    columns: list[str] = []  # pk first, then the mirror's value columns
    schema_ddl = ""
    preload_rows = 0
    repl_options = None

    def __init__(self, pg, run_dir: str, seed: int, seconds: int, tracer=None):
        self.pg, self.run_dir, self.seed, self.seconds = pg, run_dir, seed, seconds
        self.tracer = tracer
        value_schema = self.schema_ddl.split(",", 1)[1].strip()
        self.cdc = Cdc(pg, run_dir, self.table, value_schema, tracer, self.repl_options)
        self.attempted = self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.lookups: Lookups | None = None

    # -- pieces shared by the workloads -----------------------------------------

    def create_table(self) -> None:
        raise NotImplementedError

    def chunk_planner(self):
        from go_pq_cdc_spark.snapshot import chunk_queue as cq
        from go_pq_cdc_spark.snapshot.planner import plan_auto

        plan = self.tracer.timed("snapshot.plan_s", plan_auto) if self.tracer else plan_auto
        q = self.cdc.sql.simple_query

        def planner(tcfg):
            ((lo, hi),) = q(f"SELECT min(pk), max(pk) FROM {self.table}")
            chunks = cq.manifest_from_plan(plan(integer_pk="pk", min_val=int(lo), max_val=int(hi)))
            self.layers["snapshot.chunks"] = len(chunks)
            return chunks

        return planner

    def chunk_reader(self):
        from go_pq_cdc_spark.sources import snapshot_socket

        fetch = snapshot_socket._socket_fetch
        if self.tracer:
            fetch = self.tracer.fetch(fetch)
        return snapshot_socket.make_socket_chunk_reader(
            self.cdc.spark, self.pg.conn_args, self.schema_ddl, fetch=fetch
        )

    def boot(self) -> None:
        """The Spark session start that boots the JVM: cluster boot, not
        timed."""
        self.cdc.new_session()
        self.phase("boot")

    def start_engine(self) -> None:
        """`CdcEngine.start` until its stream has run a first trigger:
        publication and slot DDL, the snapshot seed and the stream start.
        That is the program's set-up, `setup_s`."""
        t = time.perf_counter()
        self.cdc.start_engine(self.chunk_planner(), self.chunk_reader())
        self.cdc.wait_first_batch()
        self.engine_start_s = time.perf_counter() - t
        self.metrics["setup_s"] = self.engine_start_s
        self.metrics["snapshot_rows_per_s"] = self.preload_rows / self.engine_start_s
        self.phase("setup")

    def visible(self, txns: list, due=None) -> list[float]:
        """Commit-to-visible latency per generator transaction, from its
        due time (or `due` for a backlog released at once)."""
        commits = self.cdc.segment_commits()
        missing = [x for x, *_ in txns if x not in commits]
        if missing:
            self.failed += len(missing)
            raise AssertionError(f"{len(missing)} generator transactions never reached a segment")
        frontier = stats.batch_frontier(self.cdc.progress.snapshot())
        return stats.visible_latencies_ms(
            [(commits[x], d if due is None else due) for x, d, *_ in txns], frontier
        )

    def drain(self, log: dict) -> None:
        """Flush the pump after the generator's last transaction and wait
        until the mirror has committed it."""
        self.cdc.finish_pump(log["txns"][-1][0])
        commits = self.cdc.segment_commits()
        self.cdc.wait_committed(max(commits.get(x, -1) for x, *_ in log["txns"]))

    def verify_mirror(self) -> None:
        """The mirror must equal the source table, every column included."""
        rows = self.cdc.read_mirror(self.columns)
        mirror = {r[0]: tuple(map(_text, r[1:])) for r in rows}
        source = self.cdc.source_rows(self.columns)
        self.attempted += len(source)
        bad = len(rows) - len(mirror) + sum(  # duplicate pks, then differing rows
            1 for pk in source.keys() | mirror.keys() if mirror.get(pk) != source.get(pk)
        )
        if bad:
            print(f"{self.name}: {bad} mirror rows differ from the source", file=sys.stderr)
        self.failed += bad

    def count_generator(self, log: dict) -> None:
        self.attempted += log["attempted"]
        self.failed += log["failed"]

    def start_lookups(self, expect: dict | None = None) -> None:
        self.lookups = Lookups(self.cdc, self.seed, self.preload_rows, self.columns,
                               expect=expect, tracer=self.tracer)

    def set_latencies(self, visible: list[float]) -> None:
        lookups = self.lookups
        lookups.stop()
        self.attempted += len(lookups.samples) + lookups.failed
        self.failed += lookups.failed
        self.metrics["visible_p50_ms"] = stats.percentile(visible, 50)
        self.metrics["visible_p99_ms"] = stats.percentile(visible, 99)
        self.metrics["lookup_p50_ms"] = stats.percentile(lookups.samples, 50)
        self.context["visible_n"] = len(visible)
        self.context["lookup_n"] = len(lookups.samples)

    def layer_metrics(self) -> None:
        """Per-layer figures of the traced run."""
        tr, events = self.tracer, self.cdc.progress.snapshot()
        s = tr.sums
        batches = [e for e in events if e["numInputRows"]]
        for k in ("replication_client.frames", "replication_client.bytes",
                  "replication_client.wait_s", "pgoutput.rows", "pgoutput.txns",
                  "slot_keeper.segments", "slot_keeper.segment_bytes",
                  "slot_keeper.write_s", "slot_keeper.acks", "changelog_stream.merge_s",
                  "changelog_stream.merge_bytes", "snapshot.plan_s", "snapshot.seed_merge_s"):
            self.layers[k] = s[k]
        self.layers["pgoutput.busy_s"] = s["pgoutput.next_s"] - s["replication_client.wait_s"]
        lag = tr.samples["capture_lag_ms"]
        pct = stats.highest_supported(len(lag), (99, 95, 90, 50)) or 0
        self.layers["slot_keeper.capture_lag_p99_ms"] = stats.percentile(lag, pct) if pct else -1
        self.context["capture_lag_percentile"] = pct
        self.layers["lsn_stream.batches"] = len(batches)
        self.layers["lsn_stream.rows_per_batch"] = (
            sum(n for _e, n in self.cdc.batches()) / max(1, len(batches)))
        self.layers["lsn_stream.latest_offset_ms"] = stats.median(
            [e["durationMs"].get("latestOffset", 0) for e in events] or [0])
        # segments durable when a batch started, less those earlier batches read
        self.layers["lsn_stream.backlog_segments_max"] = max(
            (sum(1 for t, _e in tr.segments if t <= b["start_s"])
             - sum(1 for _t, e in tr.segments if e <= prev["end_lsn"])
             for prev, b in zip([{"end_lsn": -1}, *batches], batches)),
            default=0)
        self.layers["changelog_stream.buckets_touched"] = (
            stats.median(tr.samples["buckets_touched"]) if tr.samples["buckets_touched"] else 0)
        self.layers["changelog_stream.batch_overhead_ms"] = stats.median(
            [b["durationMs"]["triggerExecution"] - b["durationMs"].get("addBatch", 0)
             for b in batches] or [0])
        self.layers["changelog_stream.spark_jobs_per_batch"] = (
            self.cdc.jobs_in_stream_group() / max(1, len(events)))
        lk = tr.samples["lookup_s"]
        self.layers["changelog_stream.lookup_s"] = sum(lk) / max(1, len(lk))
        self.layers["snapshot.fetch_s"] = tr.fetch_s()
        self.layers["trace.rows_per_s"] = self.metrics["rows_per_s"]

    # -- the run ------------------------------------------------------------------

    def phase(self, name: str) -> None:
        now = time.time()
        self.context.setdefault("phases_s", {})[name] = round(now - self._t, 2)
        self._t = now

    def run(self) -> None:
        self.context: dict = {}
        self._t = time.time()
        try:
            self.create_table()
            self.exercise()
            self.phase("exercise")
            # before the check, which holds both tables in this process
            self.metrics["py_peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            self.verify_mirror()
            self.phase("verify")
            if self.tracer:
                self.layer_metrics()
        finally:
            if self.lookups is not None:
                self.lookups.stop()
            self.cdc.close([self.table])
            self.phase("teardown")

    def exercise(self) -> None:
        raise NotImplementedError


class CatchupInsert(Workload):
    name = "catchup_insert"
    table = loadgen.INSERT_TABLE
    columns = ["pk", "name"]
    schema_ddl = "pk bigint, name string"
    preload_rows = 2000
    backlog_txns = 1000  # enough for a p99 with ten samples beyond it
    rows_per_txn = 20

    def create_table(self) -> None:
        q = self.cdc.sql.simple_query
        q("CREATE TABLE users (pk bigserial PRIMARY KEY, name text)")
        q(f"INSERT INTO users (name) SELECT md5('{self.seed}:p' || g) "
          f"FROM generate_series(1, {self.preload_rows}) g")

    def exercise(self) -> None:
        self.boot()
        self.start_engine()
        # preloaded rows never change: every lookup is checked against them
        expect = self.cdc.source_rows(self.columns)
        gen = Generator(self.run_dir, self.pg.port, "backlog", "--plan", "insert",
                        "--seed", str(self.seed), "--txns", str(self.backlog_txns),
                        "--rows-per-txn", str(self.rows_per_txn))
        try:
            gen.go()
            log = gen.finish()
        finally:
            gen.close()
        self.count_generator(log)
        t0 = time.time()
        self.cdc.start_pump()
        self.drain(log)
        visible = self.visible(log["txns"], due=t0)
        drain_s = max(visible) / 1e3
        self.metrics["rows_per_s"] = len(log["txns"]) * self.rows_per_txn / drain_s
        self.metrics["time_to_live_s"] = self.engine_start_s + drain_s
        # reads of the caught-up mirror, back to back, after the drain so
        # that they and the merges do not share the CPUs
        self.start_lookups(expect=expect)
        self.set_latencies(visible)


class MixedToastPaced(Workload):
    name = "mixed_toast_paced"
    table = loadgen.CHANGE_TABLE
    columns = ["pk", "val", "n", "big"]
    schema_ddl = "pk bigint, val string, n bigint, big string"
    preload_rows = 6000
    rate = 100  # txn/s, open loop
    rows_per_txn = 5
    repl_options = pgserver.STREAMING_OPTIONS

    def create_table(self) -> None:
        q = self.cdc.sql.simple_query
        q(loadgen.big_fn_sql())
        q("CREATE TABLE items (pk bigint PRIMARY KEY, val text, n bigint, big text)")
        q("ALTER TABLE items ALTER COLUMN big SET STORAGE EXTERNAL")
        # a quarter of the preloaded rows carry a TOAST value
        q(f"INSERT INTO items SELECT g, 'p' || g, 0, CASE WHEN g % 4 = 0 THEN "
          f"{loadgen.BIG_FN}('{self.seed}:p' || g) END FROM generate_series(1, {self.preload_rows}) g")

    def chunk_planner(self):
        """Starts the load as the snapshot starts: after the slot and the
        handoff LSN exist, before the first chunk is read."""
        plan = super().chunk_planner()

        def planner(tcfg):
            self.gen.go()
            return plan(tcfg)

        return planner

    def exercise(self) -> None:
        self.boot()
        txns = self.rate * self.seconds
        self.gen = gen = Generator(
            self.run_dir, self.pg.port, "mixed", "--plan", "mixed",
            "--seed", str(self.seed), "--rows", str(self.preload_rows), "--txns", str(txns),
            "--rows-per-txn", str(self.rows_per_txn), "--rate", str(self.rate))
        try:
            t0 = time.time()
            self.start_engine()
            live = gen.live()
            self.cdc.start_pump()
            self.start_lookups()
            log = gen.finish()
        finally:
            gen.close()
        self.count_generator(log)
        self.drain(log)
        txns = log["txns"]
        vis = self.visible(txns)
        done = [due + v / 1e3 for (_x, due, *_r), v in zip(txns, vis)]
        # the mirror is live once the last change made during the
        # snapshot shows; latency is taken over the live phase after it
        during = [t for (_x, due, *_r), t in zip(txns, done) if due < live]
        self.metrics["time_to_live_s"] = max(during, default=live) - t0
        self.metrics["rows_per_s"] = (
            self.preload_rows + sum(n for _e, n in self.cdc.segment_rows())) / (max(done) - t0)
        steady = slice(log["live_at"], None)
        lateness = [sent - due for _x, due, sent, _d in txns[steady]]
        self.context["generator_late_p99_ms"] = stats.percentile(lateness, 99) * 1e3
        self.context["snapshot_phase_txns"] = len(during)
        self.set_latencies(vis[steady])


WORKLOADS = {w.name: w for w in (CatchupInsert, MixedToastPaced)}
