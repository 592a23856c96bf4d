"""Quality gates on the sf0.1 corpus: the z-order layout floors.

These catch a storage layout that stops matching the corpus (a broken
z-order interleave) — a failure that keeps every oracle green, because
the oracle replays the same layout.

Slow (minutes at sf0.1): marked `full`, run with
``python -m pytest tests/test_quality_gates.py -m full``.
"""

from __future__ import annotations

import os

import pytest

from conftest import SF_DIR
from llm_data_pipeline_spark import queries as Q

Q.load_all()

# the sf0.1 sibling of the suite's test-data directory
GATE_SF_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.1")

pytestmark = [
    pytest.mark.full,
    pytest.mark.skipif(
        not os.path.isdir(GATE_SF_DIR), reason=f"{GATE_SF_DIR} not present"
    ),
]


def _run(spark, name):
    return Q.REGISTRY[name].fn(spark, GATE_SF_DIR)


def test_zorder_layout_floors(spark):
    """z-order keeps its file-skipping edge on both predicate axes (measured
    sf0.1: lang 778_125 / len 604_167 ppm), ingest order skips nothing, and a
    plain lang sort still shows the single-sort pathology on length — a lang
    sort that "wins" the length axis means the audit itself broke."""
    rows = {
        r["layout"]: (r["lang_avoid_ppm"], r["len_avoid_ppm"])
        for r in _run(spark, "zorder_layout_pruning").collect()
    }
    z_lang, z_len = rows["zorder"]
    assert z_lang >= 600_000, rows
    assert z_len >= 450_000, rows
    assert rows["ingest_order"][0] <= 300_000, rows
    assert rows["lang_sort"][1] <= 300_000, rows
