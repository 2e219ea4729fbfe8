"""Session defaults checked without starting a session."""

from big_data_elt_pipeline_spark.session import default_driver_memory

MEMINFO = """MemTotal:       16456384 kB
MemFree:        11976788 kB
MemAvailable:   12773480 kB
"""


def test_driver_memory_is_a_capped_share_of_host_memory():
    assert default_driver_memory(MEMINFO) == "6g"  # 40% of a 15.7 GiB host
    assert default_driver_memory("MemTotal: 1048576 kB\n") == "1g"  # floor
    assert default_driver_memory("MemTotal: 536870912 kB\n") == "48g"  # cap
    assert default_driver_memory("") == "48g"  # host size unknown


def test_driver_memory_reads_the_host_without_a_session():
    gb = int(default_driver_memory().rstrip("g"))
    assert 1 <= gb <= 48
