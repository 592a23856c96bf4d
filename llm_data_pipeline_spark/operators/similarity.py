"""Exact similarity search over embedding columns.

- brute_force_topk — exact cosine top-k: broadcast the (small) query set
  against the corpus; one narrow pass over the corpus per batch of queries,
  ranked by a per-query window. The oracle-checkable path, and the dense
  side of hybrid_search_rrf.
- near_dup_pairs — all pairs with cosine >= threshold (embedding near-dup
  dedup) via a self-join; near_dup_pairs_blocked gives the identical
  result with block-GEMM candidates for larger corpora.
- hard_negative_topk, margin_knn_mining, kcenter_selection — training-set
  construction over the same exact scorer: wrong-label neighbours, bitext
  margin pairs, and farthest-point coresets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_data_pipeline_spark.functions.checkpoint import cut_lineage
from llm_data_pipeline_spark.functions.localframe import local_df
from llm_data_pipeline_spark.functions.vectors import (
    cosine,
    cosine_arrow,
    to_double,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query (self-matches excluded).

    Returns (query_id, vec_id, score, rank). Scores are rounded to 6 dp
    *before* ranking so downstream consumers (and the oracle) rank
    identically; ties break on vec_id.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    joined = corpus.join(F.broadcast(q), F.col(id_col) != F.col(query_id_col))
    # cosine_arrow: bit-identical to the native fold (see vectors.py), one
    # vectorized pass over the corpus x queries scoring projection — the
    # widest exact-scoring loop in the engine
    scored = joined.select(
        query_id_col,
        id_col,
        F.round(cosine_arrow(F.col("_qvec"), F.col(vec_col)), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _gemm_pairs_from_group(pdf, thr: float):
    """Candidate (u, v) pairs from one applyInPandas group.

    The group holds the member rows of ONE block pair (b1 <= b2) as
    ordinary rows (_id, _v, _blk). A single BLAS GEMM
    over the normalized matrices replaces the interpreted per-pair fold.
    """
    import pandas as pd

    b1 = int(pdf["_b1"].iloc[0])
    b2 = int(pdf["_b2"].iloc[0])
    side1 = pdf[pdf["_blk"] == b1]
    ids1 = side1["_id"].to_numpy(dtype=np.int64)
    m1 = np.array(list(side1["_v"]), dtype=np.float64)
    if b1 == b2:
        ids2, m2 = ids1, m1
    else:
        side2 = pdf[pdf["_blk"] == b2]
        ids2 = side2["_id"].to_numpy(dtype=np.int64)
        m2 = np.array(list(side2["_v"]), dtype=np.float64)
    if len(ids1) == 0 or len(ids2) == 0:
        return pd.DataFrame({"u": [], "v": []}).astype({"u": "int64", "v": "int64"})
    n1 = np.linalg.norm(m1, axis=1)
    n2 = np.linalg.norm(m2, axis=1)
    n1[n1 == 0] = 1.0
    n2[n2 == 0] = 1.0
    sims = (m1 / n1[:, None]) @ (m2 / n2[:, None]).T
    # emit with u < v regardless of which side the smaller id lives on
    lo = ids1[:, None] < ids2[None, :]
    hits_lo = np.argwhere((sims >= thr) & lo)
    out_u = [ids1[hits_lo[:, 0]]]
    out_v = [ids2[hits_lo[:, 1]]]
    if b1 != b2:
        hi = ids1[:, None] > ids2[None, :]
        hits_hi = np.argwhere((sims >= thr) & hi)
        out_u.append(ids2[hits_hi[:, 1]])
        out_v.append(ids1[hits_hi[:, 0]])
    return pd.DataFrame(
        {"u": np.concatenate(out_u), "v": np.concatenate(out_v)}
    )


def _exact_rescore(
    df: DataFrame, cands: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Re-score candidate pairs with the engine's sequential-fold cosine so
    emitted scores are bit-identical to the naive path (GEMM accumulation
    order differs from the fold by ~1 ulp)."""
    e1 = df.select(F.col(id_col).alias("u"), F.col(vec_col).alias("_va"))
    e2 = df.select(F.col(id_col).alias("v"), F.col(vec_col).alias("_vb"))
    return (
        cands.join(e1, "u")
        .join(e2, "v")
        .select(
            "u", "v", F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("score")
        )
        .where(F.col("score") >= threshold)
    )


def near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    n_blocks: int | None = None,
    rows_per_block: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-5,
) -> DataFrame:
    """Exact near-dup pairs via block-matrix candidate generation.

    Same result as ``near_dup_pairs`` (pinned by test) but two-phase:

    1. Vectors are hashed into row-blocks; every block pair (b1 <= b2)
       becomes one applyInPandas group that runs a single numpy GEMM over
       the normalized block matrices and keeps entries >= threshold -
       margin. Per-pair cost drops from an interpreted 64-element fold to
       a BLAS multiply-add (~100x).
    2. Survivors (a tiny set) are re-scored with the engine's exact
       sequential-fold cosine — the margin guarantees phase 1 never drops
       a pair phase 2 would keep, so output is bit-identical to the naive
       path.

    Scale contract: ``n_blocks`` derives from the corpus size (one count)
    to hold ~``rows_per_block`` rows per block, so per-task memory is
    bounded (2 x rows_per_block x dim doubles) at ANY corpus size — blocks
    arrive as ordinary shuffled rows grouped by (b1, b2), never as a
    collect_list row, so the 2 GB single-row limit is never in play. Each
    vector is replicated once per partner block (O(n x n_blocks) shuffle
    rows): that is the inherent cost of exact all-pairs.
    """
    if n_blocks is None:
        n = df.count()
        n_blocks = max(1, -(-n // rows_per_block))
    thr = threshold - margin

    tagged = df.select(
        F.col(id_col).alias("_id"),
        to_double(F.col(vec_col)).alias("_v"),
        (F.col(id_col) % n_blocks).alias("_blk"),
    )
    # replicate each vector to every block pair involving its block
    replicated = tagged.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("_p")
    ).select(
        "_id",
        "_v",
        "_blk",
        F.least("_blk", "_p").alias("_b1"),
        F.greatest("_blk", "_p").alias("_b2"),
    )
    cands = replicated.groupBy("_b1", "_b2").applyInPandas(
        lambda pdf: _gemm_pairs_from_group(pdf, thr), schema="u long, v long"
    )
    return _exact_rescore(df, cands, threshold, id_col, vec_col)


def near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs (u < v, cosine >= threshold).

    O(n^2) self-join — correct baseline for small corpora; use
    ``near_dup_pairs_blocked`` beyond ~10^4 vectors (identical output).
    """
    a = df.select(F.col(id_col).alias("u"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("v"), F.col(vec_col).alias("_vb"))
    return (
        a.join(b, F.col("u") < F.col("v"))
        .select(
            "u", "v", F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("score")
        )
        .where(F.col("score") >= threshold)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the top-k
    most-similar corpus vectors with a DIFFERENT label — the standard
    batch that makes embedding training converge (easy negatives teach
    nothing; the hardest wrong-label neighbors define the margin).

    Exact scoring here (one broadcast of the query batch, vectorized
    cosine, label-mismatch fused into the join condition so same-label
    rows never reach the scorer). At 100 TB compose with an approximate
    shortlist instead: shortlist -> label filter -> this exact re-rank
    over candidates only. Returns (query_id, q_label, vec_id, neg_label,
    score, rank); rounding + tie rules identical to brute_force_topk.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.col(label_col).alias("q_label"),
    )
    joined = corpus.join(
        F.broadcast(q),
        (F.col(id_col) != F.col(query_id_col))
        & (F.col(label_col) != F.col("q_label")),
    )
    scored = joined.select(
        query_id_col,
        "q_label",
        id_col,
        F.col(label_col).alias("neg_label"),
        F.round(cosine_arrow(F.col("_qvec"), F.col(vec_col)), 6).alias(
            "score"
        ),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def margin_knn_mining(
    xs: DataFrame,
    ys: DataFrame,
    k: int = 4,
    margin_ppm_min: int = 1_020_000,
) -> DataFrame:
    """Margin-based pair mining (CCMatrix / Artetxe-Schwenk ratio margin).

    For every src row the best tgt candidate scored by
    ``margin = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)`` where ``avg_k``
    is the mean cosine of the row's k nearest neighbors on the other
    side — the standard bitext-mining rule that suppresses hub vectors a
    raw cosine threshold would over-mine. No reference counterpart
    (engine extension, same family as embedding_hard_negatives).

    Determinism contract: cosines are rounded to 6 dp then quantized to
    integer micro-units; k-NN averages and the margin itself use exact
    integer rounded division (functions/intmath.py), so DuckDB replays
    the full pipeline bit-identically.

    Scale shape: the all-pairs scorer here is the sf-scale candidate
    generator; at 100 TB swap it for an approximate shortlist (top-m >= k
    per row, both directions) and this margin post-pass runs unchanged
    over candidate pairs only. The two aggregations group by src and tgt
    respectively — two shuffles of the (src, tgt, cos) candidate frame,
    each with map-side partial top-k, nothing driver-sized.

    xs: (src_id, embedding); ys: (tgt_id, embedding), ids disjoint.
    Returns one row per src: (src_id, tgt_id, cos_mu, margin_ppm,
    mutual, mined), mutual = the pair is also tgt's best candidate,
    mined = margin clears ``margin_ppm_min``.
    """
    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    x = xs.select("src_id", F.col("embedding").alias("_xv"))
    scored = (
        ys.select("tgt_id", F.col("embedding").alias("_yv"))
        .join(F.broadcast(x))
        .select(
            "src_id",
            "tgt_id",
            F.round(
                F.round(cosine_arrow(F.col("_xv"), F.col("_yv")), 6)
                * F.lit(1_000_000.0),
                0,
            )
            .cast("long")
            .alias("cos_mu"),
        )
        # expensive Arrow-UDF scoring feeds two differently-keyed window
        # branches; pin it once (perf rule: checkpoint only genuinely
        # expensive non-exchange subtrees with multiple consumers)
        .transform(cut_lineage, eager=False)
    )
    wx = Window.partitionBy("src_id").orderBy(F.desc("cos_mu"), F.asc("tgt_id"))
    wy = Window.partitionBy("tgt_id").orderBy(F.desc("cos_mu"), F.asc("src_id"))
    fwd = scored.withColumn("_rx", F.row_number().over(wx)).where(
        F.col("_rx") <= k
    )
    bwd = scored.withColumn("_ry", F.row_number().over(wy)).where(
        F.col("_ry") <= k
    )
    ax = fwd.groupBy("src_id").agg(
        rounded_div_col(F.sum("cos_mu"), F.count(F.lit(1))).alias("ax_mu")
    )
    ay = bwd.groupBy("tgt_id").agg(
        rounded_div_col(F.sum("cos_mu"), F.count(F.lit(1))).alias("ay_mu")
    )
    cand = (
        fwd.join(F.broadcast(ax), "src_id")
        .join(F.broadcast(ay), "tgt_id")
        .where(F.col("ax_mu") + F.col("ay_mu") > 0)
        .withColumn(
            "margin_ppm",
            rounded_div_col(
                F.col("cos_mu") * F.lit(2_000_000).cast("long"),
                F.col("ax_mu") + F.col("ay_mu"),
            ),
        )
    )
    wbx = Window.partitionBy("src_id").orderBy(
        F.desc("margin_ppm"), F.asc("tgt_id")
    )
    wby = Window.partitionBy("tgt_id").orderBy(
        F.desc("margin_ppm"), F.asc("src_id")
    )
    return (
        cand.withColumn("_bx", F.row_number().over(wbx))
        .withColumn("_by", F.row_number().over(wby))
        .where(F.col("_bx") == 1)
        .select(
            "src_id",
            "tgt_id",
            "cos_mu",
            "margin_ppm",
            (F.col("_by") == 1).cast("int").alias("mutual"),
            (F.col("margin_ppm") >= margin_ppm_min).cast("int").alias("mined"),
        )
    )


def kcenter_selection(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) diversity selection — the classic
    coreset constructor (2-approximation of the optimal k-center cover):
    seed with the smallest id, then k-1 times add the point with the
    MAXIMUM min-cosine-distance to the current selection (ties: lowest
    id). Selecting maximally-diverse exemplars is the dual of semantic
    dedup — one picks spread, the other removes redundancy.

    Scale shape: the driver holds only the k selected vectors; each round
    is one narrow map over the corpus (update running min-distance
    against ONE new centroid, integer micro-units) plus a
    TakeOrderedAndProject argmax — O(k) scans total, the canonical
    distributed k-center cost. The frame is lazily re-checkpointed each
    round so round r does not replay rounds 1..r-1.

    k-BOUND: the loop is k SEQUENTIAL Spark jobs (farthest-point is
    inherently order-dependent), so wall-clock is k x (job latency +
    one corpus map) and the driver keeps a k-vector list — practical to
    k in the low hundreds (coresets, exemplar panels). For k in the
    thousands use :func:`kcenter_selection_batched`: same contract, ~k/p
    driver round-trips.

    Returns (sel_rank, vec_id, radius_mu): radius_mu is the selected
    point's min-distance at selection time (the decreasing coverage
    radius; -1 sentinel for the seed). Deterministic and fully replayed
    by the DuckDB oracle (same rounded-cosine micro-unit convention as
    margin_knn_mining).
    """
    spark = emb.sparkSession

    def dist_to(vec) -> "F.Column":
        # native sequential-fold cosine, not the Arrow UDF: per round the
        # query side is ONE literal vector, so the JVM fold wins (no Python
        # worker round-trip) and is bit-identical to cosine_arrow
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return (
            F.lit(1_000_000).cast("long")
            - F.round(
                F.round(cosine(F.col("v"), arr), 6) * F.lit(1_000_000.0),
                0,
            ).cast("long")
        )

    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    seed = base.orderBy("vec_id").limit(1).collect()
    if not seed:
        return local_df(spark, 
            [], "sel_rank int, vec_id long, radius_mu long"
        )
    seed_id, seed_v = seed[0]["vec_id"], seed[0]["v"]
    picked = [(0, int(seed_id), -1)]
    mind = (
        base.where(F.col("vec_id") != seed_id)
        .select("vec_id", "v", dist_to(seed_v).alias("mind"))
        .transform(cut_lineage, eager=False)
    )
    for r in range(1, k):
        top = mind.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1).collect()
        if not top:
            break
        sel_id, sel_v, sel_d = top[0]["vec_id"], top[0]["v"], top[0]["mind"]
        picked.append((r, int(sel_id), int(sel_d)))
        if r == k - 1:
            break
        mind = (
            mind.where(F.col("vec_id") != sel_id)
            .select(
                "vec_id",
                "v",
                F.least(F.col("mind"), dist_to(sel_v)).alias("mind"),
            )
            .transform(cut_lineage, eager=False)
        )
    return local_df(spark, 
        picked, "sel_rank int, vec_id long, radius_mu long"
    )


def kcenter_selection_batched(
    emb: DataFrame,
    k: int = 8,
    p: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batched greedy k-center — ~k/p driver round-trips instead of k.

    :func:`kcenter_selection` is k sequential Spark jobs (its documented
    k-bound); past coreset-sized k the per-job latency dominates. Here
    each round fetches the TOP-p candidates by current min-distance (one
    TakeOrderedAndProject) and accepts them greedily ON THE DRIVER: a
    candidate is accepted only if its distance to every peer accepted in
    the SAME batch is >= its recorded corpus min-distance — i.e. its
    farthest-point claim was not invalidated by a batch peer (classic
    over-sampling-with-rejection; rejected candidates simply wait for the
    next round, so no pick is ever based on a stale radius). The running
    min-distance then updates against ALL accepted picks in one narrow
    map (a single F.least chain), and the batch arithmetic — INCLUDING the
    candidate-vs-peer rejection distances, evaluated over a tiny local
    DataFrame through the identical dist_to expression — runs on the same
    JVM expression path as the corpus min-distances (a driver-side numpy
    replay of the fold-cosine + double-rounding chain can differ by one
    last ULP exactly at a 0.5-micro boundary and flip an acceptance), so:

    - p=1 reproduces the sequential greedy EXACTLY (test-pinned);
    - p>1 keeps every emitted radius_mu a true min-distance at selection
      time, with rounds cut from k to ~k/p (the cover-radius quality
      stays in the greedy ballpark — test-asserted on the real table).
    """
    spark = emb.sparkSession

    def dist_to(vec) -> "F.Column":
        arr = F.array(*[F.lit(float(x)) for x in vec])
        return (
            F.lit(1_000_000).cast("long")
            - F.round(
                F.round(cosine(F.col("v"), arr), 6) * F.lit(1_000_000.0),
                0,
            ).cast("long")
        )

    def _batch_pair_mu(cands) -> dict:
        """All candidate-pair distances of one batch in ONE tiny Spark job
        (p x p rows), through the exact dist_to expression — the rejection
        test then compares like with like (no numpy-vs-JVM ULP gap)."""
        rows = [(int(c["vec_id"]), [float(x) for x in c["v"]]) for c in cands]
        df = local_df(spark, rows, "vec_id long, v array<double>")
        dcols = [dist_to(v).alias(f"_d{cid}") for cid, v in rows]
        out = {}
        for r in df.select("vec_id", *dcols).collect():
            for cid, _ in rows:
                out[(int(r["vec_id"]), cid)] = int(r[f"_d{cid}"])
        return out

    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    seed = base.orderBy("vec_id").limit(1).collect()
    if not seed:
        return local_df(spark, 
            [], "sel_rank int, vec_id long, radius_mu long"
        )
    seed_id, seed_v = seed[0]["vec_id"], seed[0]["v"]
    picked = [(0, int(seed_id), -1)]
    sel_vecs = {int(seed_id): seed_v}
    mind = (
        base.where(F.col("vec_id") != seed_id)
        .select("vec_id", "v", dist_to(seed_v).alias("mind"))
        .transform(cut_lineage, eager=False)
    )
    while len(picked) < k:
        want = k - len(picked)
        cands = (
            mind.orderBy(F.desc("mind"), F.asc("vec_id"))
            .limit(min(p, want))
            .collect()
        )
        if not cands:
            break
        pair_mu = _batch_pair_mu(cands) if len(cands) > 1 else {}
        accepted = []
        for c in cands:
            cid = int(c["vec_id"])
            if all(
                pair_mu[(cid, a_id)] >= c["mind"]
                for _, a_id, _ in accepted
            ):
                accepted.append((len(picked) + len(accepted), int(c["vec_id"]), int(c["mind"])))
                sel_vecs[int(c["vec_id"])] = c["v"]
        if not accepted:  # defensive: top-1 always accepts (empty peers)
            break
        picked.extend(accepted)
        if len(picked) >= k:
            break
        new_ids = [a_id for _, a_id, _ in accepted]
        mind = (
            mind.where(~F.col("vec_id").isin(new_ids))
            .select(
                "vec_id",
                "v",
                F.least(
                    F.col("mind"), *[dist_to(sel_vecs[i]) for i in new_ids]
                ).alias("mind"),
            )
            .transform(cut_lineage, eager=False)
        )
    return local_df(spark, 
        picked, "sel_rank int, vec_id long, radius_mu long"
    )
