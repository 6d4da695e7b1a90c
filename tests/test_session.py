"""Default driver-heap sizing (covsar_spark.session.default_heap)."""

from __future__ import annotations

from covsar_spark.session import default_heap


def _meminfo(tmp_path, avail_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        "MemTotal:       15990000 kB\n"
        "MemFree:          900000 kB\n"
        f"MemAvailable:   {avail_kb} kB\n"
    )
    return str(p)


def test_small_host_gets_half_of_available(tmp_path):
    # a 15 GB host with 14 GiB available: half, far below the 16g cap
    assert default_heap(_meminfo(tmp_path, 14 << 20), ()) == "7168m"


def test_large_host_is_capped_at_16g(tmp_path):
    assert default_heap(_meminfo(tmp_path, 256 << 20), ()) == "16384m"


def test_cgroup_limit_wins_when_smaller(tmp_path):
    v2 = tmp_path / "memory.max"
    v2.write_text(f"{4 << 30}\n")
    unlimited = tmp_path / "memory.limit_in_bytes"
    unlimited.write_text("max\n")
    heap = default_heap(_meminfo(tmp_path, 14 << 20), (str(unlimited), str(v2)))
    assert heap == "2048m"


def test_floor_and_missing_meminfo(tmp_path):
    assert default_heap(_meminfo(tmp_path, 200 << 10), ()) == "512m"
    assert default_heap(str(tmp_path / "absent"), ()) == "16384m"
