"""Session defaults that depend on the host."""

from geospatial_object_matching_spark.session import default_driver_memory

MEMINFO_16G = """MemTotal:       16479424 kB
MemFree:        15000000 kB
MemAvailable:   15500000 kB
"""


def test_driver_memory_is_60_percent_of_small_host():
    assert default_driver_memory(MEMINFO_16G) == "9655m"


def test_driver_memory_caps_at_24g_on_large_host():
    assert default_driver_memory("MemTotal:       263856128 kB\n") == "24g"


def test_driver_memory_falls_back_to_24g_when_unreadable():
    assert default_driver_memory(None) == "24g"
    assert default_driver_memory("") == "24g"
    assert default_driver_memory("MemFree: 100 kB\n") == "24g"
    assert default_driver_memory("MemTotal: lots kB\n") == "24g"
