"""Session defaults fit the host: the local-mode driver heap is derived
from the host's physical memory, not fixed."""

from cies_ocr_java_spark.session import DRIVER_MEM_CAP_MB, default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kb} kB\n"
        "MemFree:         1024000 kB\n"
        "MemAvailable:   12000000 kB\n"
    )
    return str(p)


def test_half_of_memtotal(tmp_path):
    # a 15 GiB host: half of it, never more than the host has
    assert default_driver_memory(_meminfo(tmp_path, 15 * 1024 * 1024)) == "7680m"
    assert default_driver_memory(_meminfo(tmp_path, 4 * 1024 * 1024)) == "2048m"


def test_capped_at_16g(tmp_path):
    big = _meminfo(tmp_path, 128 * 1024 * 1024)
    assert default_driver_memory(big) == f"{DRIVER_MEM_CAP_MB}m" == "16384m"


def test_without_procfs_falls_back_to_physical_pages(tmp_path):
    got = default_driver_memory(str(tmp_path / "absent"))
    assert got.endswith("m") and 0 < int(got[:-1]) <= DRIVER_MEM_CAP_MB

