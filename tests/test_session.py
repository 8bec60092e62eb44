"""Session defaults derived from the host: the driver heap from MemTotal,
and the Spark size strings the engine reads from the session config."""

import pytest

from networkit_spark.session import default_driver_memory, host_memory_bytes, size_bytes


def test_driver_memory_is_half_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16318268 kB\nMemFree:        14000000 kB\n")
    assert host_memory_bytes(str(meminfo)) == 16318268 << 10
    assert default_driver_memory(str(meminfo)) == "7967m"


def test_driver_memory_floor_and_fallback(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:         524288 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"
    assert host_memory_bytes(str(tmp_path / "missing")) is None
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"


def test_size_bytes():
    assert size_bytes("10485760b") == 10485760
    assert size_bytes("-1") == -1
    assert size_bytes("1g", "m") == 1 << 30
    assert size_bytes("512", "m") == 512 << 20
    assert size_bytes("2gb") == 2 << 30
    with pytest.raises(ValueError):
        size_bytes("lots")
