import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparksearch.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparksearch-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


# the gate caps that force each placement of a query list in
# wand.wand_topk_batch: every list's sizes are within ∞, and none is within
# -1 (an empty or absent-terms-only list has Σ df 0)
PLACEMENTS = {"driver": float("inf"), "spark": -1}


@pytest.fixture
def placements(monkeypatch):
    """``for placement in placements():`` runs a list-ingest test's body
    once per placement of wand_topk_batch, with the gate forced to it; the
    gate is restored when the test ends."""
    from sparksearch import wand

    def each():
        for name, cap in PLACEMENTS.items():
            monkeypatch.setattr(wand, "_DRIVER_MAX_DF", cap)
            monkeypatch.setattr(wand, "_DRIVER_MAX_WORK", cap)
            yield name

    return each
