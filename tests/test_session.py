"""The session's default resource shape, derived from the host (no JVM)."""

from __future__ import annotations

import pytest

from airline_data_pipeline_spark import session

MEMINFO_16G = """\
MemTotal:       16479424 kB
MemFree:        14912000 kB
MemAvailable:   15200000 kB
SwapTotal:             0 kB
"""


def test_driver_mem_is_half_of_memtotal_in_whole_gb():
    # 16,479,424 kB / 2 = 7.86 GB -> 7g
    assert session.driver_mem_from_meminfo(MEMINFO_16G) == "7g"
    assert session.driver_mem_from_meminfo("MemTotal: 4194304 kB\n") == "2g"


def test_driver_mem_has_a_1g_floor():
    assert session.driver_mem_from_meminfo("MemTotal:  1048576 kB\n") == "1g"
    assert session.driver_mem_from_meminfo("MemTotal:  524288 kB\n") == "1g"


def test_driver_mem_rejects_text_without_memtotal():
    with pytest.raises(ValueError):
        session.driver_mem_from_meminfo("MemFree: 1024 kB\n")


def test_host_cpus_is_the_affinity_count():
    import os

    assert session.host_cpus() == len(os.sched_getaffinity(0)) >= 1
