"""Exact similarity queries over the embeddings table.

Every path here is oracle-checked: Spark's sequential-fold dot product in
double is bit-identical to DuckDB's list_dot_product, and scores are
rounded to 6 dp before ranking on both sides. The integer-exact training
passes (k-center selection, common-direction removal, margin mining)
quantize to micro-units so DuckDB replays their whole trajectory.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    near_dup_pairs_blocked,
)
from llm_data_pipeline_spark.queries import query, table


def cos_sql(a: str, b: str) -> str:
    """Rounded cosine-similarity SQL between two DOUBLE[] expressions."""
    return (
        f"round(CASE WHEN sqrt(list_dot_product({a}, {a})) > 0 "
        f"AND sqrt(list_dot_product({b}, {b})) > 0 "
        f"THEN list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b}))) ELSE 0.0 END, 6)"
    )

_PAIR_BASE = """
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
"""


@query(
    "embedding_topk_bruteforce",
    oracle=f"""
    WITH {_PAIR_BASE.strip()},
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id,
             {cos_sql('qv', 'e.v')} AS score
      FROM e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    tags=("similarity", "ann"),
)
def embedding_topk_bruteforce(spark: SparkSession, sf_dir: str):
    emb = table(spark, sf_dir, "embeddings", scatter=True)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=10).select(
        "query_id", "vec_id", "score", "rank"
    ).orderBy("query_id", "rank")


@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH {_PAIR_BASE.strip()}
    SELECT a.vec_id AS u, b.vec_id AS v,
           {cos_sql('a.v', 'b.v')} AS score
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {cos_sql('a.v', 'b.v')} >= 0.3
    ORDER BY u, v
    """,
    tags=("similarity", "dedup"),
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str):
    """Blocked two-phase exact pairs: numpy block-GEMM candidates, native
    sequential-fold re-score (bit-identical to the naive self-join, ~100x
    cheaper per pair; see near_dup_pairs_blocked). Threshold 0.3 because
    the synthetic embeddings are near-orthogonal (top cosine ~0.3) — a
    0.9 near-dup grade would emit zero rows and grade nothing."""
    emb = table(spark, sf_dir, "embeddings", scatter=True)
    # forced multi-block grid so the graded run exercises replication,
    # diagonal self-GEMM, and cross-block ordering (not one giant block)
    return near_dup_pairs_blocked(
        emb, threshold=0.3, rows_per_block=256
    ).orderBy("u", "v")




@query(
    "embedding_label_centroids",
    oracle="""
    SELECT label, i - 1 AS pos,
           round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid
    FROM embeddings, generate_series(1, 64) s(i)
    GROUP BY label, i
    ORDER BY label, pos
    """,
    tags=("similarity", "aggregation"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str):
    emb = table(spark, sf_dir, "embeddings", scatter=True)
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding")).alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
        .orderBy("label", "pos")
    )


@query(
    "embedding_knn_label_vote",
    oracle=f"""
    WITH {_PAIR_BASE.strip()},
    q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, q.true_label, e.vec_id, e.label,
             {cos_sql('qv', 'e.v')} AS score
      FROM e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    topk AS (
      SELECT query_id, true_label, label FROM (
        SELECT query_id, true_label, label, score, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    )
    SELECT query_id, true_label, label AS voted_label, count(*) AS votes
    FROM topk
    GROUP BY query_id, true_label, label
    ORDER BY query_id, votes DESC, voted_label
    """,
    tags=("similarity", "classification"),
)
def embedding_knn_label_vote(spark: SparkSession, sf_dir: str):
    """k-NN label votes per query vector (the building block of
    embedding-based classification / label propagation)."""
    emb = table(spark, sf_dir, "embeddings", scatter=True)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = brute_force_topk(emb, queries, k=10)
    labels = emb.select("vec_id", "label")
    qlabels = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        topk.join(labels, "vec_id")
        .join(F.broadcast(qlabels), "query_id")
        .groupBy("query_id", "true_label", "label")
        .agg(F.count("*").alias("votes"))
        .select(
            "query_id", "true_label", F.col("label").alias("voted_label"), "votes"
        )
        .orderBy("query_id", F.desc("votes"), "voted_label")
    )


@query(
    "embedding_hard_negatives",
    oracle=f"""
    WITH {_PAIR_BASE.strip()},
    q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
          FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.query_id, q.q_label, e.vec_id, e.label AS neg_label,
             {cos_sql('qv', 'e.v')} AS score
      FROM e CROSS JOIN q
      WHERE e.vec_id <> q.query_id AND e.label <> q.q_label
    )
    SELECT query_id, q_label, vec_id, neg_label, score, rank FROM (
      SELECT query_id, q_label, vec_id, neg_label, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    tags=("similarity", "training", "contrastive"),
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str):
    """Contrastive-training batch construction: per query vector, the 5
    most-similar WRONG-LABEL vectors (the hard negatives that define the
    training margin). Label mismatch is fused into the broadcast join
    condition so same-label rows never reach the scorer
    (operators/similarity.py:hard_negative_topk); at 100 TB the exact scan
    swaps for an approximate shortlist + this re-rank, unchanged API."""
    from llm_data_pipeline_spark.operators.similarity import hard_negative_topk

    emb = table(spark, sf_dir, "embeddings", scatter=True)
    queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return hard_negative_topk(emb, queries, k=5).select(
        "query_id", "q_label", "vec_id", "neg_label", "score", "rank"
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# margin-based pair mining (CCMatrix-style bitext rule)
# ---------------------------------------------------------------------------

_MM_K = 4
_MM_MIN_PPM = 1_020_000


def _mm_rdiv(s: str, n: str) -> str:
    from llm_data_pipeline_spark.functions.intmath import rounded_div_sql

    return rounded_div_sql(s, n)


@query(
    "bitext_margin_mining",
    oracle=f"""
    WITH {_PAIR_BASE.strip()},
    x AS (SELECT vec_id AS src_id, v AS xv FROM e WHERE vec_id % 4 = 0),
    y AS (SELECT vec_id AS tgt_id, v AS yv FROM e WHERE vec_id % 4 = 1),
    scored AS (
      SELECT src_id, tgt_id,
             CAST(round({cos_sql('xv', 'yv')} * 1000000) AS BIGINT) AS cos_mu
      FROM x CROSS JOIN y
    ),
    fk AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY src_id
                                   ORDER BY cos_mu DESC, tgt_id) AS rx
      FROM scored) WHERE rx <= {_MM_K}),
    bk AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY tgt_id
                                   ORDER BY cos_mu DESC, src_id) AS ry
      FROM scored) WHERE ry <= {_MM_K}),
    ax AS (SELECT src_id,
                  CAST({_mm_rdiv('sum(cos_mu)', 'count(*)')} AS BIGINT) AS ax_mu
           FROM fk GROUP BY src_id),
    ay AS (SELECT tgt_id,
                  CAST({_mm_rdiv('sum(cos_mu)', 'count(*)')} AS BIGINT) AS ay_mu
           FROM bk GROUP BY tgt_id),
    cand AS (
      SELECT f.src_id, f.tgt_id, f.cos_mu,
             CAST({_mm_rdiv('(f.cos_mu * 2000000)', '(ax_mu + ay_mu)')}
                  AS BIGINT) AS margin_ppm
      FROM fk f JOIN ax USING (src_id) JOIN ay USING (tgt_id)
      WHERE ax_mu + ay_mu > 0
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY margin_ppm DESC, tgt_id) AS r_fwd,
             row_number() OVER (PARTITION BY tgt_id
                                ORDER BY margin_ppm DESC, src_id) AS r_bwd
      FROM cand
    )
    SELECT src_id, tgt_id, cos_mu, margin_ppm,
           CAST(CASE WHEN r_bwd = 1 THEN 1 ELSE 0 END AS INTEGER) AS mutual,
           CAST(CASE WHEN margin_ppm >= {_MM_MIN_PPM} THEN 1 ELSE 0 END
                AS INTEGER) AS mined
    FROM ranked WHERE r_fwd = 1
    ORDER BY src_id
    """,
    tags=("similarity", "mining", "bitext"),
)
def bitext_margin_mining(spark: SparkSession, sf_dir: str):
    """Margin-based pair mining, the CCMatrix/LASER bitext rule: per src
    vector its best tgt candidate scored by cos / mean-of-kNN-cosines on
    BOTH sides (k={k}), with mutual-best and threshold flags. Hubness-robust
    where a raw cosine cut over-mines hub vectors. Integer micro-unit
    margins via exact rounded division — the full pipeline (scoring, kNN
    averages, margin, both best-of windows) replays bit-identically in
    DuckDB. At 100 TB the all-pairs scorer swaps for an approximate shortlist
    (operators/similarity.py: margin_knn_mining docstring) and this margin
    post-pass is unchanged."""
    from llm_data_pipeline_spark.operators.similarity import margin_knn_mining

    emb = table(spark, sf_dir, "embeddings", scatter=True)
    xs = emb.where(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").alias("src_id"), "embedding"
    )
    ys = emb.where(F.col("vec_id") % 4 == 1).select(
        F.col("vec_id").alias("tgt_id"), "embedding"
    )
    return margin_knn_mining(
        xs, ys, k=_MM_K, margin_ppm_min=_MM_MIN_PPM
    ).orderBy("src_id")


# ---------------------------------------------------------------------------
# common-direction removal (ABTT): integer power iteration, full replay
# ---------------------------------------------------------------------------

_ABTT_ITERS = 6
_ABTT_DIM = 64


def _abtt_oracle(iters: int = _ABTT_ITERS, dim: int = _ABTT_DIM) -> str:
    from llm_data_pipeline_spark.functions.intmath import rounded_div_sql as rd

    ctes = [
        f"""emb AS MATERIALIZED (
      SELECT vec_id, label, i AS pos,
             CAST(round(embedding[i+1]::DOUBLE * 1000000) AS BIGINT) AS v
      FROM embeddings, unnest(range({dim})) t(i)
    )""",
        f"""mean AS MATERIALIZED (
      SELECT pos, CAST({rd('CAST(sum(v) AS BIGINT)', 'count(*)')} AS BIGINT) AS m,
             CAST(count(*) AS BIGINT) AS n
      FROM emb GROUP BY pos
    )""",
        """cent AS MATERIALIZED (
      SELECT e.vec_id, e.pos, e.v - m.m AS d
      FROM emb e JOIN mean m USING (pos)
    )""",
        """gram AS MATERIALIZED (
      SELECT a.pos AS p, b.pos AS q, CAST(sum(a.d * b.d) AS BIGINT) AS g
      FROM cent a JOIN cent b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    )""",
        f"""cr AS MATERIALIZED (
      SELECT p, q,
             CAST({rd(f"CAST({rd('g', '(SELECT max(n) FROM mean)')} AS BIGINT)",
                      '1000000')} AS BIGINT) AS c
      FROM gram
    )""",
        f"v0 AS (SELECT i AS pos, CAST(1000000 AS BIGINT) AS v FROM range({dim}) t(i))",
    ]
    for t in range(1, iters + 1):
        ctes += [
            f"""w{t} AS MATERIALIZED (
      SELECT c.p AS pos, CAST(sum(c.c * v.v) AS BIGINT) AS w
      FROM cr c JOIN v{t-1} v ON v.pos = c.q GROUP BY c.p
    )""",
            f"m{t} AS (SELECT max(abs(w)) AS m FROM w{t})",
            f"""s{t} AS (
      SELECT CASE WHEN (SELECT w FROM w{t} WHERE w <> 0 ORDER BY pos LIMIT 1) >= 0
                  THEN 1 ELSE -1 END AS s
    )""",
            f"""v{t} AS MATERIALIZED (
      SELECT w.pos,
             CASE WHEN m.m = 0 THEN p.v
                  ELSE CAST({rd('(w.w * s.s * 1000000)', 'm.m')} AS BIGINT)
             END AS v
      FROM w{t} w CROSS JOIN m{t} m CROSS JOIN s{t} s
      JOIN v{t-1} p ON p.pos = w.pos
    )""",
        ]
    rd_uu = rd("(SELECT CAST(sum(v*v) AS BIGINT) FROM v" + str(iters) + ")",
               "1000000")
    ctes += [
        f"den AS (SELECT greatest(CAST({rd_uu} AS BIGINT), 1) AS den)",
        f"""coef AS (
      SELECT e.vec_id,
             CAST({rd('CAST(sum(e.v * u.v) AS BIGINT)', 'max(d.den)')}
                  AS BIGINT) AS c
      FROM emb e JOIN v{iters} u USING (pos) CROSS JOIN den d
      GROUP BY e.vec_id
    )""",
        f"""rs AS (
      SELECT e.vec_id, e.label,
             CAST(sum((e.v - CAST({rd('(c.c * u.v)', '1000000')} AS BIGINT))
                      * (e.v - CAST({rd('(c.c * u.v)', '1000000')} AS BIGINT)))
                  AS BIGINT) AS sq
      FROM emb e JOIN v{iters} u USING (pos) JOIN coef c ON c.vec_id = e.vec_id
      GROUP BY 1, 2
    )""",
        f"""resid AS (
      SELECT label AS key, CAST({rd('CAST(sum(sq) AS BIGINT)', 'count(*)')}
                                AS BIGINT) AS val
      FROM rs GROUP BY label
    )""",
        "gains AS ("
        + " UNION ALL ".join(
            f"SELECT {t-1} AS key, m AS val FROM m{t}" for t in range(1, iters + 1)
        )
        + ")",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT kind, CAST(key AS INTEGER) AS key, CAST(val AS BIGINT) AS val FROM (
      SELECT 'dir' AS kind, pos AS key, v AS val FROM v{iters}
      UNION ALL
      SELECT 'gain' AS kind, key, val FROM gains
      UNION ALL
      SELECT 'resid' AS kind, key, val FROM resid
    ) ORDER BY kind, key
    """
    )


@query(
    "embedding_common_direction_removal",
    oracle=_abtt_oracle(),
    tags=("similarity", "pca", "training"),
)
def embedding_common_direction_removal(spark: SparkSession, sf_dir: str):
    """All-but-the-top common-component removal (Mu & Viswanath 2018):
    two-pass exact integer covariance (partition-local int64 GEMM over
    Arrow batches, merged by a d^2-key shuffle — the only data-scale
    work), driver power iteration on the 64x64 core in exact rounded
    integer arithmetic, broadcast-back projection with per-label residual
    norms. Emits the direction, the per-iteration convergence gains, and
    the residual energies — the WHOLE trajectory replays bit-for-bit in
    DuckDB (operators/pca.py)."""
    from llm_data_pipeline_spark.operators.pca import common_direction_removal

    emb = table(spark, sf_dir, "embeddings", scatter=True)
    return common_direction_removal(emb, iters=_ABTT_ITERS).orderBy(
        "kind", "key"
    )


# ---------------------------------------------------------------------------
# greedy k-center diversity selection (coreset), full trajectory replay
# ---------------------------------------------------------------------------

_KC_K = 8


def _kcenter_oracle(k: int = _KC_K) -> str:
    def dist(a: str, s: str) -> str:
        return f"(1000000 - CAST(round({cos_sql(a, s)} * 1000000) AS BIGINT))"

    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "s0 AS MATERIALIZED (SELECT vec_id, v FROM e"
        " WHERE vec_id = (SELECT min(vec_id) FROM e))",
        f"""m0 AS MATERIALIZED (
      SELECT a.vec_id, a.v, {dist('a.v', 's.v')} AS mind
      FROM e a CROSS JOIN s0 s WHERE a.vec_id <> s.vec_id
    )""",
    ]
    for t in range(1, k):
        ctes.append(
            f"p{t} AS MATERIALIZED (SELECT vec_id, v, mind FROM m{t-1}"
            f" ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if t < k - 1:
            ctes.append(
                f"""m{t} AS MATERIALIZED (
      SELECT m.vec_id, m.v, least(m.mind, {dist('m.v', 'p.v')}) AS mind
      FROM m{t-1} m CROSS JOIN p{t} p WHERE m.vec_id <> p.vec_id
    )"""
            )
    sel = [
        "SELECT 0 AS sel_rank, vec_id, CAST(-1 AS BIGINT) AS radius_mu FROM s0"
    ] + [
        f"SELECT {t} AS sel_rank, vec_id, CAST(mind AS BIGINT) AS radius_mu"
        f" FROM p{t}"
        for t in range(1, k)
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    SELECT CAST(sel_rank AS INTEGER) AS sel_rank, vec_id,"
        " radius_mu FROM ("
        + " UNION ALL ".join(sel)
        + ") ORDER BY sel_rank"
    )


@query(
    "embedding_kcenter_selection",
    oracle=_kcenter_oracle(),
    tags=("similarity", "diversity", "coreset"),
)
def embedding_kcenter_selection(spark: SparkSession, sf_dir: str):
    """Greedy k-center diversity selection (k={k}): farthest-point coreset
    with the decreasing coverage-radius trajectory — the exemplar-picking
    dual of semantic dedup. O(k) narrow scans + TakeOrdered argmaxes, driver
    state = the k selected vectors only (operators/similarity.py:
    kcenter_selection); integer micro-unit distances replay bit-for-bit
    in DuckDB."""
    from llm_data_pipeline_spark.operators.similarity import kcenter_selection

    emb = table(spark, sf_dir, "embeddings", scatter=True)
    return kcenter_selection(emb, k=_KC_K).orderBy("sel_rank")


# ---------------------------------------------------------------------------
# embedding-store QA: norm outliers via median + MAD
# ---------------------------------------------------------------------------

_NORM_MAD_K = 3


@query(
    "embedding_norm_outliers",
    oracle=f"""
    WITH aug AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 500000 AS vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]), x -> 3.0 * x) AS v
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    norms AS (
      SELECT vec_id, label,
             CAST(round(sqrt(list_dot_product(v, v)) * 1000000) AS BIGINT)
               AS norm_mu
      FROM aug
    ),
    med AS (SELECT quantile_cont(norm_mu, 0.5) AS m FROM norms),
    dev AS (
      SELECT n.vec_id, n.label, n.norm_mu,
             abs(n.norm_mu - CAST(round(med.m) AS BIGINT)) AS adev
      FROM norms n CROSS JOIN med
    ),
    mad AS (SELECT quantile_cont(adev, 0.5) AS m FROM dev)
    SELECT d.vec_id, d.label, d.norm_mu, d.adev AS abs_dev_mu,
           CAST(round(mad.m) AS BIGINT) AS mad_mu,
           CAST(CASE WHEN d.adev > {_NORM_MAD_K} * CAST(round(mad.m) AS BIGINT)
                THEN 1 ELSE 0 END AS INT) AS is_outlier
    FROM dev d CROSS JOIN mad
    WHERE d.adev > {_NORM_MAD_K} * CAST(round(mad.m) AS BIGINT)
    ORDER BY d.vec_id
    """,
    tags=("similarity", "governance", "qa"),
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str):
    """Embedding-store QA: vectors whose L2 norm sits more than
    {k} MADs from the median norm — the truncated/corrupted/wrong-model
    rows that poison cosine search silently (a zero or doubled norm still
    joins happily; x3-scaled corruptions are planted every 50th id). Median + MAD instead of mean + stddev so one corrupt
    batch cannot mask itself by inflating the spread; norms in integer
    micro-units, medians via the sort-based percentile both engines
    compute bit-identically (same contract as doc_length_iqr_filter)."""
    emb = table(spark, sf_dir, "embeddings", scatter=True).select(
        "vec_id", "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    corrupted = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 500000).alias("vec_id"),
        "label",
        F.transform(F.col("v"), lambda x: F.lit(3.0) * x).alias("v"),
    )
    aug = emb.unionByName(corrupted)
    norm_mu = F.round(
        F.sqrt(
            F.aggregate(
                F.col("v"),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        )
        * 1_000_000.0,
        0,
    ).cast("long")
    norms = aug.select("vec_id", "label", norm_mu.alias("norm_mu"))
    med = norms.agg(
        F.round(F.expr("percentile(norm_mu, 0.5)"), 0)
        .cast("long")
        .alias("m")
    )
    dev = norms.crossJoin(F.broadcast(med)).select(
        "vec_id",
        "label",
        "norm_mu",
        F.abs(F.col("norm_mu") - F.col("m")).alias("abs_dev_mu"),
    )
    mad = dev.agg(
        F.round(F.expr("percentile(abs_dev_mu, 0.5)"), 0)
        .cast("long")
        .alias("mad_mu")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .where(F.col("abs_dev_mu") > _NORM_MAD_K * F.col("mad_mu"))
        .select(
            "vec_id",
            "label",
            "norm_mu",
            "abs_dev_mu",
            "mad_mu",
            F.lit(1).cast("int").alias("is_outlier"),
        )
        .orderBy("vec_id")
    )
