"""Session defaults come from the host: the driver heap is at most half
of physical RAM (capped at 24g) and the CPU count is the process's
affinity mask."""

import os

from cpp_parquet_spark import session


def test_driver_heap_is_half_of_ram_capped():
    gb = 1024 * 1024                            # kB per GiB
    assert session.default_driver_mem(15 * gb) == "7680m"
    assert session.default_driver_mem(64 * gb) == "24576m"
    assert session.default_driver_mem(None) == "24576m"


def test_mem_total_reads_meminfo(tmp_path):
    f = tmp_path / "meminfo"
    f.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")
    assert session.mem_total_kb(str(f)) == 15728640
    assert session.mem_total_kb(str(tmp_path / "missing")) is None


def test_cpus_follow_affinity():
    assert session.host_cpus() == len(os.sched_getaffinity(0))
