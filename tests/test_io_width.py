"""Table-driven unit test of the one task-width policy, ``io.width``.

``width`` reads only ``spark.sparkContext.defaultParallelism``, so a stub
stands in for the session and no Spark session starts. The cases are the
real fixture sizes of the tables the former per-operator byte gates
guarded, and each row states the spread decision that gate made.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from hadoop_tools_spark.io import OUTER_PRODUCT, QUADRATIC, width

# (table at scale factor, on-disk bytes, cost class, spread?)
FIXTURES = [
    # linear 3 MB gate: agg_median, join_range_bucketed
    ("lineitem sf0.001", 117_248, 1, False),
    ("lineitem sf0.1", 10_818_932, 1, True),
    # linear 3 MB gate: llm_knn_numpy
    ("embeddings sf0.001", 193_646, 1, False),
    ("embeddings sf0.1", 798_695, 1, False),
    # outer-product 256 KB gate: llm_embed_gram
    ("embeddings sf0.001", 193_646, OUTER_PRODUCT, False),
    ("embeddings sf0.1", 798_695, OUTER_PRODUCT, True),
    # quadratic 64 KB gate: join_fuzzy_match
    ("part sf0.001", 7_649, QUADRATIC, False),
    ("part sf0.1", 179_850, QUADRATIC, True),
]

# the former gates: (cost class, smallest input that spread)
GATES = [(1, 3 << 20), (OUTER_PRODUCT, 256 << 10), (QUADRATIC, 64 << 10)]

SLOTS = [4, 8, 32]


def _session(slots):
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=slots)
    )


@pytest.mark.parametrize("slots", SLOTS)
@pytest.mark.parametrize("table,nbytes,cost,spreads", FIXTURES)
def test_fixture_gate_decisions(slots, table, nbytes, cost, spreads):
    assert width(_session(slots), nbytes, cost) == (slots if spreads else 1)


@pytest.mark.parametrize("slots", SLOTS)
@pytest.mark.parametrize("cost,gate", GATES)
def test_former_gate_boundaries(slots, cost, gate):
    assert width(_session(slots), gate - 1, cost) == 1
    assert width(_session(slots), gate, cost) == slots


@pytest.mark.parametrize("slots", SLOTS)
def test_unknown_or_non_local_input_gets_full_width(slots):
    assert width(_session(slots)) == slots
    assert width(_session(slots), 0) == slots
    assert width(_session(slots), 0, QUADRATIC) == slots
