"""A throwaway PostgreSQL 15 server for one benchmark run.

The server lives in a private data directory under the run directory and
listens on a free TCP port of 127.0.0.1 only (no Unix socket, so nothing
is written outside the run directory). PostgreSQL refuses to run as
root; when the benchmark runs as root, `initdb`, `pg_ctl` and the server
run as the `postgres` user's uid/gid inside a user namespace
(`unshare --user`), which keeps the owner's access to a checkout that
sits under a root-only directory. Under any other user they run as that
user.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess
import time

PG_BIN = "/usr/lib/postgresql/15/bin"

# Every non-default server setting; printed with each run's context.
SERVER_SETTINGS = {
    "wal_level": "logical",
    "max_wal_senders": "10",
    "max_replication_slots": "10",
    "max_connections": "40",
    "listen_addresses": "127.0.0.1",
    "unix_socket_directories": "",
    "wal_sender_timeout": "120s",
}

# Per-session GUC for the replication connection of the mixed workload:
# small enough that its one large transaction streams under protocol v2.
STREAMING_OPTIONS = "-c logical_decoding_work_mem=64kB"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _as_postgres() -> list[str]:
    if os.geteuid() != 0:
        return []
    pw = pwd.getpwnam("postgres")
    return ["unshare", "--user", f"--map-user={pw.pw_uid}", f"--map-group={pw.pw_gid}"]


def connect(port: int, replication: bool = False, options: str | None = None):
    from go_pq_cdc_spark.sources.replication_client import ReplicationConnection

    return ReplicationConnection.connect(
        "127.0.0.1", port, "postgres", "postgres",
        replication=replication, options=options,
    )


class PgServer:
    """`with PgServer(run_dir) as pg:` boots the server and stops it on
    every exit path."""

    def __init__(self, run_dir: str):
        self.data_dir = os.path.join(run_dir, "pgdata")
        self.log_path = os.path.join(run_dir, "pg.log")
        self.port = _free_port()
        self.conn_args = {
            "host": "127.0.0.1", "port": self.port, "user": "postgres",
            "database": "postgres",
        }

    def _ctl(self, *args: str) -> None:
        subprocess.run(
            [*_as_postgres(), f"{PG_BIN}/pg_ctl", "-D", self.data_dir, *args],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=60,
        )

    def __enter__(self) -> "PgServer":
        subprocess.run(
            [*_as_postgres(), f"{PG_BIN}/initdb", "-D", self.data_dir,
             "-U", "postgres", "--auth=trust", "-E", "UTF8", "--no-sync"],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=60,
        )
        opts = " ".join(f"-c {k}={v!r}" if v == "" else f"-c {k}={v}"
                        for k, v in SERVER_SETTINGS.items())
        self._ctl("-l", self.log_path, "-w", "-t", "30", "-o",
                  f"{opts} -c port={self.port}", "start")
        return self

    def __exit__(self, *exc) -> None:
        try:
            self._ctl("-m", "fast", "-w", "-t", "30", "stop")
        except (subprocess.SubprocessError, OSError):
            self._ctl("-m", "immediate", "-w", "-t", "30", "stop")
        shutil.rmtree(self.data_dir, ignore_errors=True)

    def sql(self):
        return connect(self.port)


def drop_slot_with_retry(q, slot: str, tries: int = 40, pause_s: float = 0.25) -> None:
    """The walsender releases a slot shortly after its client's socket
    closes; an immediate drop fails with 'is active for PID n'."""
    from go_pq_cdc_spark.sources.replication_client import ReplicationError

    for i in range(tries):
        try:
            q(f"SELECT pg_drop_replication_slot('{slot}') WHERE EXISTS "
              f"(SELECT 1 FROM pg_replication_slots WHERE slot_name = '{slot}')")
            return
        except ReplicationError as exc:
            if "is active for" not in str(exc) or i == tries - 1:
                raise
            time.sleep(pause_s)


def drop_cdc_objects(q, slot: str, publication: str, tables: list[str]) -> None:
    drop_slot_with_retry(q, slot)
    q(f"DROP PUBLICATION IF EXISTS {publication}")
    for t in tables:
        q(f"DROP TABLE IF EXISTS {t}")
