"""Pins get_spark's host-derived driver heap: it follows the host's RAM,
so a small box is never handed a heap larger than it can hold. Also
pins the Python worker daemon a local get_spark session starts its
workers from, and the zip-directory cache that daemon installs."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from fsharp_mapreduce_spark import session, worker_daemon

GIB_IN_KIB = 1 << 20


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemFree:         1024 kB\nMemTotal:       {kib} kB\n")
    return str(p)


def test_driver_memory_is_half_of_ram_capped(tmp_path):
    mem = session.default_driver_memory
    assert mem(_meminfo(tmp_path, 15 * GIB_IN_KIB + 12345)) == "7g"
    assert mem(_meminfo(tmp_path, 125 * GIB_IN_KIB)) == "20g"
    assert mem(_meminfo(tmp_path, GIB_IN_KIB)) == "1g"
    assert mem(str(tmp_path / "missing")) == "20g"


def test_driver_memory_fits_this_host():
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    heap_gib = int(session.default_driver_memory().rstrip("g"))
    assert 1 <= heap_gib <= session.DRIVER_MEMORY_CAP_GIB
    assert heap_gib * GIB_IN_KIB <= max(GIB_IN_KIB, total_kib // 2)


PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"
PKG_PARENT = str(Path(session.__file__).resolve().parent.parent)


def test_local_sessions_start_workers_from_the_package_daemon():
    conf = session.worker_conf("local[2]", None)
    assert conf["spark.python.daemon.module"] == worker_daemon.__name__
    assert conf[PYTHONPATH_KEY] == PKG_PARENT
    merged = session.worker_conf("local[*]", {PYTHONPATH_KEY: "/opt/libs"})
    assert merged[PYTHONPATH_KEY] == os.pathsep.join((PKG_PARENT, "/opt/libs"))
    # a cluster's workers may not have this directory: stock daemon
    assert session.worker_conf("yarn", {"a": "b"}) == {"a": "b"}


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 reads lazily")
def test_reused_worker_reads_no_zip_directory_per_task(spark):
    """With pyspark's stock daemon a reused worker re-reads about 16 zip
    directories before every task (importlib.invalidate_caches in
    setup_spark_files); from worker_daemon it reads none while no
    archive changes."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == worker_daemon.__name__

    def reads_so_far(_):
        """In the worker: its pid, and how many zip directories it has
        read since the first task that ran this function there."""
        import os
        import zipimport

        if not hasattr(zipimport, "_reads_counted"):
            zipimport._reads_counted = 0
            read = zipimport._read_directory

            def counting(path):
                zipimport._reads_counted += 1
                return read(path)

            zipimport._read_directory = counting
        return os.getpid(), zipimport._reads_counted

    seen: dict[int, list[int]] = {}
    for _ in range(30):
        pid, reads = sc.parallelize(range(1), 1).map(reads_so_far).collect()[0]
        seen.setdefault(pid, []).append(reads)
        # counted tasks: each one after a worker's first (warm-up) task
        if sum(len(r) - 1 for r in seen.values()) >= 5:
            break
    assert sum(len(r) - 1 for r in seen.values()) >= 5, seen
    assert all(r[-1] == r[0] for r in seen.values()), seen


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="patch not installed")
def test_zip_directory_is_reread_only_when_the_archive_changes(
    tmp_path, monkeypatch
):
    """A zip rewritten in place (what addPyFile does to a file of the
    same name) must become importable after invalidate_caches, the
    reason every task calls it; an unchanged one must not be re-read."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        worker_daemon.invalidate_if_changed,
    )
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipprobe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipprobe_a", "zipprobe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipprobe_a").X == 1
    importer = sys.path_importer_cache[str(archive)]

    importlib.invalidate_caches()
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files

    st = archive.stat()
    _write_zip(archive, {"zipprobe_a": "X = 1\n", "zipprobe_b": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert archive.stat().st_size != st.st_size
    assert importlib.util.find_spec("zipprobe_b") is None  # stale directory
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module("zipprobe_b").Y == 2

    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
