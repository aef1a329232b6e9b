"""Driver-compare parity for the unregistered rows in plans/staged.py
(the staging area plus the retired twins): the same compare the
correctness driver applies to registered queries
(tests/test_oracle_parity.py), run over ``STAGED_QUERIES``."""

from __future__ import annotations

import pytest
from test_oracle_parity import _duck_con, assert_matches_oracle

from bigdata_invoice_stream_analysis_spark.plans.queries import QUERIES
from bigdata_invoice_stream_analysis_spark.plans.staged import (
    STAGED_ORACLES,
    STAGED_QUERIES,
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    return _duck_con(sf_dir)


def test_registry_shape():
    assert set(STAGED_ORACLES) == set(STAGED_QUERIES)
    # a staged row is either registered or staged, never both
    assert set(STAGED_QUERIES).isdisjoint(QUERIES)


@pytest.mark.parametrize("name", sorted(STAGED_QUERIES))
def test_staged_query_matches_oracle(spark, sf_dir, duck, name):
    assert_matches_oracle(
        name, STAGED_QUERIES[name](spark, sf_dir), duck, STAGED_ORACLES[name])
