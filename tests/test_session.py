"""The driver-heap default (session.default_driver_memory), read from
faked ``/proc/meminfo`` and cgroup limit files. No Spark."""

from __future__ import annotations

import pytest

from parquet_modular_encryption_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    ("mem_total", "v2", "v1", "want"),
    [
        (16 * GIB, "max\n", None, "8192m"),  # unlimited cgroup v2 group
        # an unlimited cgroup v1 group reads a value far above physical memory
        (16 * GIB, None, "9223372036854771712\n", "8192m"),
        (16 * GIB, f"{4 * GIB}\n", None, "2048m"),  # cgroup limit wins
        (16 * GIB, None, f"{6 * GIB}\n", "3072m"),
        (256 * GIB, None, None, "16384m"),  # capped at 16g
        (None, None, None, "16384m"),  # nothing readable: the cap
    ],
)
def test_default_driver_memory(tmp_path, monkeypatch, mem_total, v2, v1, want):
    meminfo = tmp_path / "meminfo"
    if mem_total is not None:
        meminfo.write_text(f"MemTotal:       {mem_total // 1024} kB\nMemFree: 1 kB\n")
    limits = []
    for name, text in (("memory.max", v2), ("memory.limit_in_bytes", v1)):
        limits.append(str(tmp_path / name))
        if text is not None:
            (tmp_path / name).write_text(text)
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", tuple(limits))
    assert session.default_driver_memory() == want
