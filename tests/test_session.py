"""Host-fit session defaults."""

from __future__ import annotations

from olive_spark.session import default_driver_memory


def test_default_driver_memory_is_half_host_capped(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")  # 15 GiB
    assert default_driver_memory(str(meminfo)) == "7680m"
    meminfo.write_text("MemTotal:       134217728 kB\n")  # 128 GiB
    assert default_driver_memory(str(meminfo)) == "16384m"
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
