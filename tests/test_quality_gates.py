"""Quality gates on the sf0.1 corpus: ANN recall@10 floors, the IVF
inverted-list balance ceiling and the z-order layout floors.

These catch an index geometry or storage layout that stops matching the
corpus (stale codebooks after corpus growth, a broken z-order interleave)
— failures that keep every oracle green because the oracles replay the
same stale literals. sf0.1 is the size at which the large ANN tier is
served, so the tests declare a serving run through SPARK_GRAFT_BENCH=1
(queries_similarity._ann_books refuses the large tier otherwise).

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

# Floors sit under the measured sf0.1 values (0.465/0.965/0.57/0.51/0.92)
# with slack for data refreshes; sf0.01-trained books served at sf0.1 once
# collapsed IVF-PQ recall to 0.07.
RECALL_FLOORS = {
    "embedding_pq_adc_topk": 0.30,
    "embedding_pq_rerank_topk": 0.60,
    "embedding_ivf_flat_topk": 0.45,
    "embedding_ivfpq_topk": 0.40,
    "embedding_ann_lsh_topk": 0.60,
}
PLANTED_RECALL_FLOOR = 0.90
# max balance_ppm is the probe-latency multiplier: 2e6 = the fattest list
# at most 2x the perfectly balanced size (measured sf0.1 max: 1.20e6; a
# collapsed codebook reads > 10e6).
BALANCE_CEILING_PPM = 2_000_000


@pytest.fixture
def serving_tier(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH", "1")


def _run(spark, name):
    return Q.REGISTRY[name].fn(spark, GATE_SF_DIR)


def test_ann_recall_floor(spark, serving_tier):
    """recall@10 of every approximate ANN query against the exact
    brute-force top-10: |approx ∩ exact| / |exact| over (query_id, vec_id)."""
    exact = _run(spark, "embedding_topk_bruteforce").select("query_id", "vec_id")
    exact = exact.persist()
    try:
        total = exact.count()
        assert total > 0
        recall = {}
        for name in RECALL_FLOORS:
            approx = _run(spark, name).select("query_id", "vec_id")
            hits = approx.join(exact, ["query_id", "vec_id"], "left_semi").count()
            recall[name] = round(hits / total, 4)
    finally:
        exact.unpersist()
    breaches = {
        n: (r, RECALL_FLOORS[n]) for n, r in recall.items() if r < RECALL_FLOORS[n]
    }
    assert not breaches, f"recall@10 below floor (recall, floor): {breaches}"


def test_ann_planted_recall_floor(spark, serving_tier):
    """On clusterable data a healthy IVF saturates recall; only this fixture
    separates a geometry bug from the random table's data-bound ceiling."""
    row = (
        _run(spark, "embedding_ann_recall_planted")
        .agg({"n_hits": "sum", "query_id": "count"})
        .collect()[0]
    )
    recall = row["sum(n_hits)"] / (10 * max(row["count(query_id)"], 1))
    assert recall >= PLANTED_RECALL_FLOOR, recall


def test_ivf_list_balance(spark, serving_tier):
    bal = [r["balance_ppm"] for r in _run(spark, "ivf_list_balance").collect()]
    assert bal, "ivf_list_balance returned no lists"
    assert max(bal) <= BALANCE_CEILING_PPM, max(bal)


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
