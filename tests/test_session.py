"""Session defaults derived from the host. Pure Python — no Spark session."""

import pytest

from rio_color_spark.session import driver_memory

GiB = 2**30


@pytest.mark.parametrize(
    "phys, want",
    [
        (int(15.7 * GiB), "7g"),  # half, rounded down to whole GiB
        (16 * GiB, "8g"),
        (256 * GiB, "128g"),
        (3 * GiB, "1g"),
        (GiB, "1g"),  # never below 1g
        (512 * 2**20, "1g"),
    ],
)
def test_driver_memory_is_half_of_physical(phys, want):
    assert driver_memory(phys) == want


def test_driver_memory_reads_this_host():
    assert driver_memory().endswith("g")
    assert int(driver_memory()[:-1]) >= 1

