from __future__ import annotations

import math

from pyspark.sql import Row
import pytest

from llm_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    near_dup_pairs,
)


def _vectors(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.01, 0.0]),   # near-dup of 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
        Row(vec_id=4, embedding=[0.7, 0.7, 0.0]),
        Row(vec_id=5, embedding=[0.0, 0.0, 0.0]),      # zero vector
    ]
    return spark.createDataFrame(rows)


def test_brute_force_topk(spark):
    emb = _vectors(spark)
    import pyspark.sql.functions as F

    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = brute_force_topk(emb, queries, k=3).collect()
    order = [r.vec_id for r in sorted(res, key=lambda r: r.rank)]
    assert order[0] == 1                      # nearest is the near-dup
    assert order[1] == 4
    assert all(0.0 <= r.score <= 1.0 for r in res)


def test_zero_vector_score(spark):
    emb = _vectors(spark)
    import pyspark.sql.functions as F

    queries = emb.where(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = brute_force_topk(emb, queries, k=5).collect()
    assert all(r.score == 0.0 for r in res)   # zero norm -> defined 0.0


@pytest.mark.full  # gauntlet-length; default profile skips (pytest.ini)
def test_near_dup_pairs(spark):
    pairs = {(r.u, r.v): r.score for r in near_dup_pairs(_vectors(spark), 0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert all(v >= 0.95 for v in pairs.values())


@pytest.mark.full  # gauntlet-length; default profile skips (pytest.ini)
def test_near_dup_blocked_matches_naive(spark, sf_dir):
    """Block-GEMM candidate generation + exact re-score must equal the
    naive O(n^2) fold path bit-for-bit, at a threshold low enough to
    admit hundreds of pairs (stresses both the margin and the
    cross-block id-ordering logic)."""
    from llm_data_pipeline_spark.operators.similarity import (
        near_dup_pairs,
        near_dup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    naive = sorted(tuple(r) for r in near_dup_pairs(emb, threshold=0.3).collect())
    assert len(naive) > 0
    # size-derived blocking (single block at this corpus size)
    blocked = sorted(
        tuple(r) for r in near_dup_pairs_blocked(emb, threshold=0.3).collect()
    )
    assert naive == blocked
    # forced multi-block grid: exercises replication, diagonal self-GEMM,
    # and cross-block id ordering; must still be bit-identical
    multi = sorted(
        tuple(r)
        for r in near_dup_pairs_blocked(emb, threshold=0.3, n_blocks=7).collect()
    )
    assert naive == multi
    # bounded rows_per_block derives a multi-block grid from the count
    derived = sorted(
        tuple(r)
        for r in near_dup_pairs_blocked(
            emb, threshold=0.3, rows_per_block=100
        ).collect()
    )
    assert naive == derived


def test_cosine_arrow_bit_identical_to_fold(spark, sf_dir):
    """cosine_arrow must equal the native sequential fold BIT FOR BIT on
    the real embeddings cross product — the contract that lets the
    Arrow-batched scorer stand in for the oracle-checked expression."""
    import struct

    from pyspark.sql import functions as F

    from llm_data_pipeline_spark.functions.vectors import cosine, cosine_arrow
    from llm_data_pipeline_spark.queries import table

    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    joined = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    a = {
        (r.qid, r.vec_id): r.s
        for r in joined.select(
            "qid", "vec_id", cosine(F.col("qv"), F.col("embedding")).alias("s")
        ).collect()
    }
    b = {
        (r.qid, r.vec_id): r.s
        for r in joined.select(
            "qid", "vec_id", cosine_arrow(F.col("qv"), F.col("embedding")).alias("s")
        ).collect()
    }
    assert a.keys() == b.keys() and len(a) > 1000
    assert all(
        struct.pack("d", a[k]) == struct.pack("d", b[k]) for k in a
    )
    # degenerate-row parity: zero norm, nulls, length mismatch (native
    # gives NULL: dot nulls out while both norms stay positive), mismatch
    # with a zero-norm side (native gives 0.0), and mixed dimensions in
    # one batch (must score, not crash np.stack)
    rows = spark.createDataFrame(
        [
            (1, [0.0] * 4, [1.0] * 4),
            (2, None, [1.0] * 4),
            (3, [1.0] * 4, None),
            (4, [1.0, 2.0], [1.0]),
            (5, [0.0, 0.0], [1.0]),
            (6, [1.0, 2.0], [3.0, 4.0]),
            (7, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
            (8, [1e308, 1e308], [1e308, -1e308]),  # overflow -> NaN, not NULL
        ],
        "i long, x array<double>, y array<double>",
    )
    got = {
        r.i: (r.n, r.u)
        for r in rows.select(
            "i",
            cosine(F.col("x"), F.col("y")).alias("n"),
            cosine_arrow(F.col("x"), F.col("y")).alias("u"),
        ).collect()
    }
    import math

    def same(n, u):
        if n is None or u is None:
            return n is None and u is None
        return n == u or (math.isnan(n) and math.isnan(u))

    assert all(same(n, u) for n, u in got.values()), got
    assert got[4] == (None, None), got  # NULL parity on mismatch
    # a genuine computed NaN must survive Arrow serialization as NaN
    # (a plain float64 Series would fold it to SQL NULL)
    assert math.isnan(got[8][0]) and math.isnan(got[8][1]), got


def test_hard_negative_topk_excludes_same_label_and_self(spark):
    from pyspark.sql import functions as F

    from llm_data_pipeline_spark.operators.similarity import hard_negative_topk

    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], i % 3)
        for i in range(60)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = hard_negative_topk(emb, q, k=3).collect()
    assert out, "no negatives mined"
    for r in out:
        assert r.vec_id != r.query_id
        assert r.neg_label != r.q_label
        assert 1 <= r.rank <= 3
    # every query got negatives (wrong-label vectors always exist here)
    assert {r.query_id for r in out} == {0, 1, 2, 3, 4}


class TestKCenterSelection:
    def test_matches_bruteforce_greedy(self, spark):
        """The distributed loop must equal the textbook greedy on the same
        quantized distances (seed = min id, ties to lowest id)."""
        import numpy as np

        from llm_data_pipeline_spark.operators.similarity import (
            kcenter_selection,
        )

        rng = np.random.default_rng(5)
        x = rng.normal(size=(60, 8))
        rows = [(i, [float(v) for v in x[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = [
            (r["sel_rank"], r["vec_id"], r["radius_mu"])
            for r in kcenter_selection(df, k=6).orderBy("sel_rank").collect()
        ]

        xf = np.asarray(x, dtype=np.float32).astype(np.float64)

        def dist_mu(a, b):
            na, nb = np.linalg.norm(a), np.linalg.norm(b)
            c = float(a @ b / (na * nb)) if na > 0 and nb > 0 else 0.0
            return 1_000_000 - round(round(c, 6) * 1_000_000)

        selected = [0]
        mind = {i: dist_mu(xf[i], xf[0]) for i in range(1, 60)}
        want = [(0, 0, -1)]
        for r in range(1, 6):
            nxt = max(mind, key=lambda i: (mind[i], -i))
            want.append((r, nxt, mind[nxt]))
            selected.append(nxt)
            d = {i: dist_mu(xf[i], xf[nxt]) for i in mind if i != nxt}
            mind = {i: min(mind[i], d[i]) for i in d}
        assert got == want

    def test_radius_trajectory_decreases(self, spark, sf_dir):
        from llm_data_pipeline_spark.operators.similarity import (
            kcenter_selection,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = kcenter_selection(emb, k=6).orderBy("sel_rank").collect()
        radii = [r["radius_mu"] for r in rows if r["sel_rank"] >= 1]
        assert all(a >= b for a, b in zip(radii, radii[1:]))


class TestMarginMining:
    def test_matches_bruteforce_margin(self, spark):
        """Margins, best-of choices and mutual flags against a pure-python
        reference on random vectors."""
        import numpy as np

        from llm_data_pipeline_spark.functions.intmath import rounded_div
        from llm_data_pipeline_spark.operators.similarity import (
            margin_knn_mining,
        )

        rng = np.random.default_rng(9)
        x = rng.normal(size=(12, 6))
        y = rng.normal(size=(15, 6))
        xs = spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(12)],
            "src_id long, embedding array<float>",
        )
        ys = spark.createDataFrame(
            [(100 + j, [float(v) for v in y[j]]) for j in range(15)],
            "tgt_id long, embedding array<float>",
        )
        k, tmin = 3, 1_000_000
        got = {
            r["src_id"]: (r["tgt_id"], r["cos_mu"], r["margin_ppm"],
                          r["mutual"], r["mined"])
            for r in margin_knn_mining(xs, ys, k=k, margin_ppm_min=tmin).collect()
        }

        xf = np.asarray(x, dtype=np.float32).astype(np.float64)
        yf = np.asarray(y, dtype=np.float32).astype(np.float64)

        def cmu(a, b):
            c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
            return round(round(c, 6) * 1_000_000)

        cos = {(i, 100 + j): cmu(xf[i], yf[j]) for i in range(12) for j in range(15)}
        ax = {}
        for i in range(12):
            top = sorted(((-(cos[(i, t)]), t) for t in range(100, 115)))[:k]
            ax[i] = rounded_div(sum(-c for c, _ in top), len(top))
        ay = {}
        for t in range(100, 115):
            top = sorted(((-(cos[(i, t)]), i) for i in range(12)))[:k]
            ay[t] = rounded_div(sum(-c for c, _ in top), len(top))
        cands = {}
        for i in range(12):
            top = sorted(((-(cos[(i, t)]), t) for t in range(100, 115)))[:k]
            for negc, t in top:
                if ax[i] + ay[t] > 0:
                    cands[(i, t)] = rounded_div(
                        (-negc) * 2_000_000, ax[i] + ay[t]
                    )
        best_fwd = {}
        for (i, t), m in cands.items():
            cur = best_fwd.get(i)
            if cur is None or (m, -t) > (cur[1], -cur[0]):
                best_fwd[i] = (t, m)
        best_bwd = {}
        for (i, t), m in cands.items():
            cur = best_bwd.get(t)
            if cur is None or (m, -i) > (cur[1], -cur[0]):
                best_bwd[t] = (i, m)
        want = {}
        for i, (t, m) in best_fwd.items():
            mutual = int(best_bwd[t][0] == i)
            want[i] = (t, cos[(i, t)], m, mutual, int(m >= tmin))
        assert got == want


class TestKCenterBatched:
    """kcenter_selection_batched: p=1 == the sequential greedy exactly;
    p>1 cuts rounds while keeping the cover radius in the greedy
    ballpark."""

    def test_p1_equals_greedy(self, spark, sf_dir):
        from llm_data_pipeline_spark.operators.similarity import (
            kcenter_selection,
            kcenter_selection_batched,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        g = kcenter_selection(emb, k=6).collect()
        b = kcenter_selection_batched(emb, k=6, p=1).collect()
        assert sorted(map(tuple, g)) == sorted(map(tuple, b))

    @pytest.mark.full  # gauntlet-length; default profile skips (pytest.ini)
    def test_batched_radius_quality(self, spark, sf_dir):
        from llm_data_pipeline_spark.operators.similarity import (
            kcenter_selection,
            kcenter_selection_batched,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        k = 8
        g = {r["sel_rank"]: r for r in kcenter_selection(emb, k=k).collect()}
        b = kcenter_selection_batched(emb, k=k, p=4).collect()
        assert len(b) == k
        assert [r["sel_rank"] for r in sorted(b, key=lambda r: r["sel_rank"])] == list(range(k))
        # every batched radius is a true min-distance at selection time
        # (the accept rule guarantees it); quality: the final cover radius
        # stays within 2x of the greedy's final radius
        g_final = g[k - 1]["radius_mu"]
        b_final = min(r["radius_mu"] for r in b if r["radius_mu"] >= 0)
        assert b_final <= 2 * g_final
        # radii are non-increasing in selection order
        radii = [r["radius_mu"] for r in sorted(b, key=lambda r: r["sel_rank"])][1:]
        assert radii == sorted(radii, reverse=True)
