"""Pins get_spark's host-derived driver heap: it follows the host's RAM,
so a small box is never handed a heap larger than it can hold."""

from __future__ import annotations

from fsharp_mapreduce_spark import session

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

