"""Session defaults that depend on the host."""

from __future__ import annotations

from blarify_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_half_of_host_memory(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "8192m"


def test_driver_memory_bounds(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 * 1024 * 1024)) == "16384m"
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "1024m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
