"""session.get_spark sizes a local session from the machine when
``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` are unset."""
from __future__ import annotations

import os

from olympic_athletes_etl_spark import session


def test_sizing_falls_back_to_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    with open("/proc/meminfo", encoding="ascii") as f:
        mem_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    cpus, mem = session._local_sizing()
    assert cpus == str(len(os.sched_getaffinity(0)))
    assert mem == f"{max(1024, mem_kib * 2 // 5 // 1024)}m"  # 40 % of MemTotal
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session._local_sizing() == ("3", "2g")
