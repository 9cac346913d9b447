"""The engine's PySpark worker daemon (`go_pq_cdc_spark._worker_daemon`).

It keeps zip-archive directory caches across tasks: an unchanged archive
is not re-read by the `importlib.invalidate_caches()` PySpark runs before
every task, a rewritten one is. `session.get_spark` installs it as
`spark.python.daemon.module` and puts the package root on the workers'
`PYTHONPATH`, so the workers import the package from any cwd."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from go_pq_cdc_spark import _worker_daemon as D

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(D, "_read_at", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", D.invalidate_caches)
    reads = []
    stdlib_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("wd_mod_a").X == 1
        importlib.invalidate_caches()  # first call reads: records the signature
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []  # unchanged: one stat, no directory re-read

        # rewrite it with a new module (and a new mtime): re-read at once
        _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("wd_mod_b").Y == 2
    finally:
        for m in ("wd_mod_a", "wd_mod_b"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)


def _installed_impl(batches):
    import zipimport

    import pyarrow as pa

    for _ in batches:
        yield pa.RecordBatch.from_pydict(
            {"impl": [zipimport.zipimporter.invalidate_caches.__module__]}
        )


def test_session_workers_run_the_engine_daemon(spark):
    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_installed_impl, "impl string")
        .collect()
    )
    assert [r["impl"] for r in rows] == ["go_pq_cdc_spark._worker_daemon"]


@pytest.mark.slow
def test_workers_import_the_package_from_a_foreign_cwd(tmp_path):
    """A driver started outside the repo, with no PYTHONPATH, still gets
    workers that import the package: the daemon and the merge's
    `applyInArrow` fold both run in them."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from go_pq_cdc_spark.session import get_spark
        from go_pq_cdc_spark.streaming.changelog_stream import (
            merge_mirror_batch, read_mirror,
        )
        spark = get_spark("foreign-cwd", cpus=2)
        batch = spark.createDataFrame(
            [(1, 10, "I", "a"), (2, 11, "I", "b"), (1, 12, "U", "c")],
            "pk long, lsn long, op string, val string",
        )
        merge_mirror_batch(batch, {str(tmp_path / "mirror")!r}, value_cols=("val",))
        got = sorted(
            (r["pk"], r["val"])
            for r in read_mirror(spark, {str(tmp_path / "mirror")!r}).collect()
        )
        print("MIRROR", got)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "MIRROR [(1, 'c'), (2, 'b')]" in out.stdout
