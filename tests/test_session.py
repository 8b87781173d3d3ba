"""The session's default driver heap follows host memory."""

import pytest

from gdal_common_python_spark.session import driver_memory


@pytest.mark.parametrize(
    "mem_kb,heap",
    [(15_728_640, "7680m"), (4_194_304, "2048m"), (50_331_648, "24576m"), (268_435_456, "24576m")],
    ids=["15g", "4g", "48g", "256g"],
)
def test_driver_memory_is_half_of_memtotal_capped_at_24g(tmp_path, mem_kb, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_kb} kB\nMemFree:        1024 kB\n")
    assert driver_memory(str(meminfo)) == heap
