"""recon_spark.daemon: lazy zipimport invalidation and the pre-fork freeze
that every Python worker inherits on a local master."""

import gc
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest

from recon_spark import daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAZY = sys.version_info < (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def restore_invalidate_caches(monkeypatch):
    """Put the interpreter's own method back after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )


def test_lazy_invalidation_rereads_only_changed_archives(
    tmp_path, monkeypatch, restore_invalidate_caches
):
    original = zipimport.zipimporter.invalidate_caches
    if not LAZY:
        assert daemon.install_lazy_zip_invalidation() is False
        assert zipimport.zipimporter.invalidate_caches is original
        return
    archive = str(tmp_path / "lazy_zip_probe.zip")
    _write_zip(archive, {"lazy_zip_probe_a": "X = 1"})
    monkeypatch.syspath_prepend(archive)
    try:
        import lazy_zip_probe_a

        assert lazy_zip_probe_a.X == 1
        assert daemon.install_lazy_zip_invalidation() is True
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original
        # installing twice does not wrap twice
        assert daemon.install_lazy_zip_invalidation() is True
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is original

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        # the first invalidation has no stat key on record: one read
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        # unchanged archive: stat only, the directory cache is reused
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 1
        importer = sys.path_importer_cache[archive]
        assert importer._files is zipimport._zip_directory_cache[archive]

        # rewritten archive: re-read, and its new module imports
        os.remove(archive)
        _write_zip(archive, {"lazy_zip_probe_a": "X = 1", "lazy_zip_probe_b": "Y = 2"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        import lazy_zip_probe_b

        assert lazy_zip_probe_b.Y == 2

        # deleted archive: the original method runs, which drops the
        # directory (a read attempt, then an empty file table)
        os.remove(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
        assert archive not in zipimport._zip_directory_cache
        assert importer._files == {}
    finally:
        for name in ("lazy_zip_probe_a", "lazy_zip_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_fork_from_the_recon_daemon(spark):
    """A mapInArrow task runs in a worker forked from recon_spark.daemon:
    zipimport wrapped before 3.12, untouched from 3.12, modules frozen."""

    def worker_state(batches):
        for _ in batches:
            pass
        inv = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "wrapped": [hasattr(inv, "__wrapped__")],
                "module": [inv.__module__],
                "frozen": [gc.get_freeze_count()],
            }
        )

    assert spark.conf.get("spark.python.daemon.module") == "recon_spark.daemon"
    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(worker_state, "wrapped boolean, module string, frozen long")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert r.frozen > 0
        if LAZY:
            assert r.wrapped
        else:
            assert not r.wrapped and r.module == "zipimport"


def test_daemon_found_without_pythonpath(tmp_path):
    """get_spark from another cwd, with the repository only on sys.path
    (no PYTHONPATH): the daemon must still import, or every Python task
    fails with ``No module named 'recon_spark'``."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import zipimport
        import pyarrow as pa
        from recon_spark.session import get_spark

        def probe(batches):
            n = sum(b.num_rows for b in batches)
            inv = zipimport.zipimporter.invalidate_caches
            yield pa.RecordBatch.from_pydict(
                {{"n": [n], "wrapped": [hasattr(inv, "__wrapped__")]}}
            )

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        spark.sparkContext.setLogLevel("ERROR")
        rows = spark.range(5, numPartitions=1).mapInArrow(
            probe, "n long, wrapped boolean").collect()
        print("RESULT", rows[0].n, rows[0].wrapped)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_WAREHOUSE_DIR"] = str(tmp_path / "warehouse")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"RESULT 5 {LAZY}" in out.stdout.splitlines()
