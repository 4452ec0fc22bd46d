"""Session defaults sized from the host."""

from __future__ import annotations

import pytest

from meteo_etl_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "avail_kib,want",
    [(15_876_796, "7752m"), (200 * 1024 * 1024, "32768m"), (300_000, "1024m")],
)
def test_default_driver_memory_is_half_of_available(tmp_path, avail_kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal: 16000000 kB\nMemFree: 1 kB\nMemAvailable: {avail_kib} kB\n")
    assert default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "32768m"
