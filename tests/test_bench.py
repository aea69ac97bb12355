"""bench.py's host-fit protocol: level derivation and the min-of-rounds
summary. Pure driver-side logic — no Spark session."""

import pytest

import bench


@pytest.mark.parametrize(
    "cpus, run, skipped",
    [
        (4, [1, 4], []),
        (32, [8, 32], []),
        (2, [1], [4]),
        (1, [1], [4]),
        (7, [1, 4], []),
    ],
)
def test_scaling_levels_fit_the_host(cpus, run, skipped):
    assert bench.scaling_levels(cpus) == (run, skipped)


def test_summarize_uses_per_level_minimum():
    runs = {1: [12.0, 10.0, 11.0], 4: [4.0, 3.125, 3.5]}
    s = bench.summarize(runs, 1000, [])
    assert s["levels"] == [1, 4]
    assert s["skipped_levels"] == []
    assert s["local[1]_images_per_sec"] == 100.0
    assert s["local[4]_images_per_sec"] == 320.0
    # (320 / 100) / 4
    assert s["efficiency_1_to_4"] == 0.8


def test_summarize_without_the_4n_level_has_no_efficiency():
    s = bench.summarize({1: [5.0, 4.0, 6.0]}, 100, [4])
    assert s["levels"] == [1]
    assert s["skipped_levels"] == [4]
    assert s["local[1]_images_per_sec"] == 25.0
    assert not any(k.startswith("efficiency_") for k in s)
