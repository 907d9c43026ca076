"""Empty-corpus oracle-mirror pins: run representative queries against
0-row copies of every fixture table (the ``empty`` axis of
tools/sweep.py) and compare spark vs oracle. Guards the two empty-input
failure classes: a driver-side scalar probe crashing on an empty frame
(anchor max-dates, quota derivations, centroid samples) and an
engine-semantics divergence (Spark's cube() emits no grand-total row
over zero rows while ANSI CUBE emits one — found by the r8 sweep).
The full-surface sweep is the slow-tier test_every_query_on_degenerate_axis."""

from __future__ import annotations

import pytest

from tools.check_correctness import run
from tools.sweep import build


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("empty_sf"))
    build(spark, "empty", out)
    return out


# cube_rollup: the engine-divergence find; the rest are the queries with
# driver-side scalar probes (anchor dates, quotas, samples, ranges) most
# at risk of crashing on an empty frame.
EMPTY_PINS = [
    "cube_rollup",
    "decay_weighted",
    "temperature_sample",
    "rebalance_sample",
    "classifier_calibration",
    "benford_audit",
    "wmy_gold_pipeline",
    "dedup_components",
]


@pytest.mark.parametrize("name", EMPTY_PINS)
def test_empty_mirror(spark, empty_sf_dir, name):
    assert run(spark, empty_sf_dir, [name]) == []
