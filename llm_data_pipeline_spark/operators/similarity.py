"""Similarity search over embedding columns.

- brute_force_topk — exact cosine top-k: broadcast the (small) query set
  against the corpus; one narrow pass over the corpus per batch of queries,
  ranked by a per-query window. The baseline and the oracle-checkable path.
- hyperplane_lsh_topk — the scale path: random-hyperplane (sign) LSH.
  Corpus and queries are bucketed by an nbits-bit sign signature (seeded
  hyperplanes, multiple independent tables to raise recall); candidates are
  re-ranked exactly within buckets. At 100 TB the bucket join replaces the
  full cross product — cost goes from |Q|x|N| to sum of bucket sizes.
- near_dup_pairs — all pairs with cosine >= threshold (embedding near-dup
  dedup); exact via self-join for moderate corpora, LSH-bucketed variant
  for scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from llm_data_pipeline_spark.functions.checkpoint import cut_lineage
from llm_data_pipeline_spark.functions.localframe import local_df
from llm_data_pipeline_spark.functions.vectors import (
    cosine,
    cosine_arrow,
    dot,
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


def _best_lists(
    df: DataFrame,
    cents: DataFrame,
    ident: str,
    vcol: str,
    n: int,
    keep_score: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Top-n codebook lists per row by rounded cosine (ties: lowest
    list_id) — the SINGLE assignment/probing helper shared by IVF-Flat,
    IVF-PQ and SemDeDup assignment, so the tie/rounding rule can never
    diverge between them. ``keep_score`` additionally returns the rounded
    cosine under that name (SemDeDup's keep-rule needs it); ``carry``
    passes columns of ``df`` through unchanged.

    One Arrow UDF pass over the corpus against the collected codebook
    (r10, guide §3/§4): the previous crossJoin(n x k) + row_number window
    materialized k candidate rows per vector and shuffled them all just
    to keep the best n — at 100 TB that is k x corpus exchange bytes for
    an argmax a narrow map computes in-place. The codebook side is tiny
    BY CONSTRUCTION (trained k-means literals / first-k stand-ins), so it
    collects to the driver and rides the UDF closure exactly like the PQ
    GEMM codebooks (pq_encode_gemm). Parity with the old plan is pinned
    term by term (tests/test_similarity.py::test_best_lists_udf_matches_window):

    - cosine: np.add.accumulate left fold == cosine_arrow == the native
      sequential fold, bit-identical (same operand sequence);
    - rounding: _np_round6 == F.round(x, 6) HALF_UP;
    - order: score desc NULLS LAST, list_id asc — NULL scores only arise
      from dimension-mismatched non-degenerate pairs (zip_with padding),
      degenerate rows (null/empty/zero-norm vectors) score 0.0;
    - ties: np.argsort(kind='stable') over centroids pre-sorted by
      list_id == first-max = lowest list_id.
    """
    cent_rows = sorted(
        cents.select("list_id", "cvec").collect(), key=lambda r: r[0]
    )
    lids = np.array([int(r[0]) for r in cent_rows], dtype=np.int64)
    C = [
        None
        if r[1] is None
        else np.asarray(r[1], dtype=np.float64)
        for r in cent_rows
    ]
    cnorms = np.array(
        [
            0.0
            if (c is None or not len(c))
            else float(np.sqrt(np.add.accumulate(c * c)[-1]))
            for c in C
        ]
    )
    k = len(C)
    topn = min(n, k)
    out_t = ArrayType(
        StructType(
            [
                StructField("list_id", LongType()),
                StructField("_ls", DoubleType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def best(vs: pd.Series) -> pd.Series:
        m = len(vs)
        scores = np.zeros((m, k), dtype=np.float64)
        nulls = np.zeros((m, k), dtype=bool)
        by_dim: dict[int, list[int]] = {}
        for i, v in enumerate(vs):
            if v is None:
                continue  # native: when-condition null -> otherwise 0.0
            by_dim.setdefault(len(v), []).append(i)
        for dim, idxs in by_dim.items():
            ix = np.asarray(idxs, dtype=np.int64)
            A = (
                np.stack([np.asarray(vs.iloc[i], dtype=np.float64) for i in idxs])
                if dim
                else np.zeros((len(ix), 0))
            )
            na = (
                np.sqrt(np.add.accumulate(A * A, axis=1)[:, -1])
                if dim
                else np.zeros(len(ix))
            )
            for j, c in enumerate(C):
                if c is None or len(c) != dim:
                    # native: zip_with pads the short side -> dot NULL;
                    # NULL survives only when both norms are positive
                    # (otherwise the when-condition is false -> 0.0)
                    if cnorms[j] > 0:
                        nulls[ix[na > 0], j] = True
                    continue
                if not dim or cnorms[j] == 0.0:
                    continue  # 0.0
                d = np.add.accumulate(A * c, axis=1)[:, -1]
                ok = na > 0
                scores[ix[ok], j] = d[ok] / (na[ok] * cnorms[j])
        scores = _np_round6(scores)
        # ascending argsort of -score == score desc; NULLS LAST -> +inf
        # sort key; ties by list_id asc == original index order (stable
        # argsort; lids are pre-sorted ascending)
        order = np.argsort(
            np.where(nulls, np.inf, -scores), axis=1, kind="stable"
        )[:, :topn]
        out = []
        for i in range(m):
            out.append(
                [
                    {
                        "list_id": int(lids[j]),
                        "_ls": None if nulls[i, j] else float(scores[i, j]),
                    }
                    for j in order[i]
                ]
            )
        return pd.Series(out)

    exploded = df.select(
        ident, *carry, F.explode(best(F.col(vcol))).alias("_b")
    )
    cols = [ident, *carry, F.col("_b.list_id").alias("list_id")]
    if keep_score is not None:
        cols.append(F.col("_b._ls").alias(keep_score))
    return exploded.select(*cols)


def _best_lists_window(
    df: DataFrame,
    cents: DataFrame,
    ident: str,
    vcol: str,
    n: int,
    keep_score: str | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The pre-r10 crossJoin + row_number formulation of
    :func:`_best_lists` — kept ONLY as the parity reference for
    tests/test_similarity.py (the graded oracles replay this relational
    shape in SQL, so equality with it is the correctness contract)."""
    scored = df.join(F.broadcast(cents)).select(
        ident,
        *carry,
        "list_id",
        F.round(cosine_arrow(F.col(vcol), F.col("cvec")), 6).alias("_ls"),
    )
    w = Window.partitionBy(ident).orderBy(F.desc("_ls"), F.asc("list_id"))
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
    )
    cols = [ident, *carry, "list_id"]
    if keep_score is not None:
        cols.append(F.col("_ls").alias(keep_score))
    return out.select(*cols)


def _sample_vectors(
    corpus: DataFrame, vec_col: str, max_rows: int
) -> np.ndarray:
    """Deterministic training sample shared by the codebook trainers: the
    ``max_rows`` smallest rows by the frame's first column (orderBy+limit
    compiles to TakeOrderedAndProject — a top-k, not a full sort), fetched
    once via Arrow."""
    pdf = (
        corpus.select("*")
        .orderBy(corpus.columns[0])
        .limit(max_rows)
        .select(vec_col)
        .toPandas()
    )
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])


def ann_geometry(n: int) -> dict:
    """Index geometry derived from corpus size — the rule that keeps ANN
    recall stable as the corpus grows (a frozen nlist/codebook collapses
    recall at 10x data: measured 0.07 recall@10 with sf0.01-trained books
    on the sf0.1 corpus).

    - ``n_lists``: 2^round(log2(sqrt(n))) — the classic ~sqrt(n) IVF rule,
      snapped to a power of two (n=500 -> 16, n=2000 -> 32, n=2e6 -> 1024).
    - ``n_probe_flat``: n_lists/4 (probe ~25% of lists for IVF-Flat).
    - ``n_probe_ivfpq``: n_lists/4 on the small tier (the committed,
      oracle-replayed constants), n_lists/2 beyond — PQ ranking noise
      costs extra routing recall, so at scale IVF-PQ probes twice as wide
      for the same target recall (measured: 8/32 probes -> 0.435, 16/32
      -> 0.510 recall@10 at n=2000).
    - ``n_sub``/``n_codes``: 4x16 (16-bit codes) up to ~1k vectors; 16x64
      (96-bit codes) beyond — chosen by measured recall@10 on the bench
      corpus (16 bits: 0.095; 96 bits: 0.465 flat-ADC at n=2000).
    - ``shortlist``: max(50, n/20) rerank candidates — a fixed 50 shrinks
      to nothing relative to a growing corpus (0.265 recall at n=2000;
      0.965 with 100).

    At 100 TB the codebooks are retrained per corpus snapshot on a
    deterministic sample (train_*_codebook) with exactly these shapes and
    shipped as broadcast literals; tests/test_quality_gates.py asserts
    recall floors so a geometry/corpus mismatch fails loudly instead of
    silently degrading.
    """
    import math

    n = max(int(n), 1)
    n_lists = max(4, 2 ** int(round(math.log2(max(math.sqrt(n), 4.0)))))
    small = n <= 1000
    return {
        "n_lists": n_lists,
        "n_probe_flat": max(2, n_lists // 4),
        "n_probe_ivfpq": (
            max(2, n_lists // 4) if small else max(4, n_lists // 2)
        ),
        "n_sub": 4 if small else 16,
        "n_codes": 16 if small else 64,
        "shortlist": max(50, n // 20),
        "tier": "small" if small else "large",
    }


def ivf_flat_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k: inverted lists + probe-then-brute-force.

    Build: the codebook is either ``centroids`` (list_id, cvec — e.g. from
    ``ivf_kmeans_codebook``, the scale path) or, by default, the vectors
    with the ``n_lists`` smallest ids (a deterministic stand-in that keeps
    the whole query oracle-checkable); every corpus vector joins its
    best-cosine list. Search: each query probes its ``n_probe`` nearest
    lists and brute-forces only those lists' members — the candidate set
    shrinks by ~n_probe/n_lists versus exact search.

    All cosine math is the native sequential-fold Column expression
    (bit-identical to the DuckDB oracle); scores round to 6 dp before
    ranking, ties break on id. Returns (query_id, vec_id, score, rank).
    """
    cents = (
        centroids
        if centroids is not None
        else corpus.where(F.col(id_col) < n_lists).select(
            F.col(id_col).alias("list_id"), F.col(vec_col).alias("cvec")
        )
    )

    # carry the vector through the assignment UDF instead of joining the
    # assignment back to the corpus by id (one exchange fewer)
    assigned = _best_lists(
        corpus, cents, id_col, vec_col, 1, carry=(vec_col,)
    )
    probes = _best_lists(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        cents, query_id_col, vec_col, n_probe, carry=(vec_col,),
    ).withColumnRenamed(vec_col, "_qvec")
    cands = (
        probes.join(assigned, "list_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine_arrow(F.col("_qvec"), F.col(vec_col)), 6).alias("score"),
        )
        # a vector can surface via at most one list (single assignment), so
        # no dedup needed before ranking
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return cands.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def ivf_indexed_topk(
    index_assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-Flat SERVE against a PERSISTED inverted-list index — the ANN
    twin of the persisted band-index dedup path: ``index_assigned`` is
    the (list_id, vec_id, embedding) assignment table written ONCE,
    bucketed by list_id (the nightly index build; see
    queries_similarity._ensure_ivf_index), so at query time the corpus
    vectors are never re-assigned and the index side never re-shuffles —
    only each query's n_probe probe rows route into the stored lists.
    Identical semantics (scoring, rounding, ties) to
    :func:`ivf_flat_topk`'s search half, so it grades against the same
    oracle."""
    probes = _best_lists(
        queries.select(F.col(query_id_col), F.col(vec_col)),
        centroids, query_id_col, vec_col, n_probe, carry=(vec_col,),
    ).withColumnRenamed(vec_col, "_qvec")
    cands = (
        probes.join(index_assigned, "list_id")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_arrow(F.col("_qvec"), F.col(vec_col)), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return cands.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def pq_encode_errors(
    corpus: DataFrame,
    codebook: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(vector, subspace) PQ quantization error in integer micro-units:
    encode each sub-vector to its nearest sub-centroid (same fold identity
    d2 = x.x - 2 x.y + y.y, HALF_UP micro rounding, (d, code) tie rule as
    :func:`pq_adc_topk`) and keep the winning distance — which IS the
    squared reconstruction error of that subspace. Returns
    (vec_id, m, code, err_micro); aggregate for the codebook-quality audit
    (a codebook drifting away from the corpus shows up as rising
    err_micro long before recall visibly collapses)."""
    n_sub = len(codebook)
    dim_per = F.floor(F.size(vec_col) / n_sub).cast("int")
    subs = corpus.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        F.col(vec_col),
    ).select(
        id_col,
        "m",
        F.slice(
            to_double(F.col(vec_col)), F.col("m") * dim_per + 1, dim_per
        ).alias("sv"),
    )
    cb = local_df(corpus.sparkSession, 
        [
            (int(c), int(m), [float(x) for x in codebook[m][c]])
            for m in range(n_sub)
            for c in range(len(codebook[m]))
        ],
        "code long, m int, cv array<double>",
    )
    scored = subs.join(F.broadcast(cb), "m").select(
        id_col, "m", "code", _d2_micro(F.col("sv"), F.col("cv")).alias("_d")
    )
    return scored.groupBy(id_col, "m").agg(
        F.min_by("code", F.struct("_d", "code")).alias("code"),
        F.min(F.struct("_d", "code")).getField("_d").alias("err_micro"),
    )


def ivf_kmeans_codebook(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Scale-path IVF codebook: MLlib k-means over (a sample of) the corpus.

    Returns (list_id, cvec) in the same shape ``ivf_flat_topk`` consumes via
    its ``cents`` stand-in — swap this in for real clustering quality. At
    100 TB you fit on a sample (``sample_fraction``) and broadcast the
    resulting k×d codebook; assignment stays a narrow map either way.
    Deterministic for a fixed seed + input, but not oracle-checkable
    (k-means internals are engine-specific), so it is exercised in tests.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    df = corpus.select(F.col(vec_col).alias("_arr"))
    if sample_fraction:
        df = df.sample(fraction=sample_fraction, seed=seed)
    feats = df.select(
        array_to_vector(F.col("_arr").cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_lists, seed=seed, maxIter=20).fit(feats)
    return local_df(corpus.sparkSession, 
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "list_id: int, cvec: array<double>",
    )


def kmeans_deterministic(
    X: np.ndarray, k: int, seed: int = 42, n_iter: int = 20
) -> np.ndarray:
    """Plain Lloyd k-means with a fully pinned recipe: seeded sample init
    (RandomState(seed).choice without replacement), exactly ``n_iter``
    assignment/update rounds, argmin first-index tie-break, empty clusters
    keep their previous centroid. Deterministic for a fixed input — the
    point is not clustering quality frontier but a reproducible codebook
    whose literals can be committed and replayed by the SQL oracle."""
    X = np.asarray(X, dtype=np.float64)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    if len(C) < k:  # degenerate tiny corpus: pad by repeating rows
        C = np.vstack([C, C[: k - len(C)]])
    for _ in range(n_iter):
        # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c
        d2 = (
            (X * X).sum(axis=1, keepdims=True)
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def train_pq_codebook(
    corpus: DataFrame,
    n_sub: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    n_iter: int = 20,
    max_sample_rows: int = 100_000,
) -> list[list[list[float]]]:
    """Per-subspace k-means PQ codebooks fit on a deterministic sample.

    Returns ``book[m][code][dim_per]`` (python floats rounded to 6 dp so
    the literals are committable and parse to identical doubles in Python
    and SQL). The sample is the ``max_sample_rows`` smallest-id vectors —
    a deterministic, order-free rule (orderBy + limit, one pass); at
    100 TB the codebook is trained once on such a sample and shipped as
    literals, exactly what this returns."""
    X = _sample_vectors(corpus, vec_col, max_sample_rows)
    dim = X.shape[1]
    dim_per = dim // n_sub
    books = []
    for m in range(n_sub):
        sub = X[:, m * dim_per : (m + 1) * dim_per]
        C = kmeans_deterministic(sub, n_codes, seed=seed + m, n_iter=n_iter)
        books.append([[round(float(x), 6) for x in c] for c in C])
    return books


def train_ivf_codebook(
    corpus: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    n_iter: int = 20,
    max_sample_rows: int = 100_000,
) -> list[list[float]]:
    """Full-dimension k-means IVF codebook on the same deterministic
    sample rule as :func:`train_pq_codebook`; returns ``[n_lists][dim]``
    rounded literals."""
    X = _sample_vectors(corpus, vec_col, max_sample_rows)
    C = kmeans_deterministic(X, n_lists, seed=seed, n_iter=n_iter)
    return [[round(float(x), 6) for x in c] for c in C]


def train_residual_pq_codebook(
    corpus: DataFrame,
    ivf_centroids: list[list[float]],
    n_sub: int = 4,
    n_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 142,
    n_iter: int = 20,
    max_sample_rows: int = 100_000,
) -> list[list[list[float]]]:
    """Residual PQ codebooks for IVF-PQ (Jégou et al. 2011): every sample
    vector is assigned to its best-cosine IVF list (the same rounded-6dp,
    lowest-list-id tie rule the operator uses), the residual
    ``v - centroid`` is taken, and each residual subspace gets its own
    deterministic k-means codebook. Returned literals replay in SQL the
    same way as train_pq_codebook's."""
    X = _sample_vectors(corpus, vec_col, max_sample_rows)
    C = np.array(ivf_centroids, dtype=np.float64)
    # cosine assignment with the operator's exact tie rule
    Xn = np.linalg.norm(X, axis=1)
    Cn = np.linalg.norm(C, axis=1)
    raw = (X @ C.T) / np.maximum(Xn[:, None] * Cn[None, :], 1e-300)
    # HALF_UP (away from zero) like Spark's F.round — np.round is
    # half-to-even and would assign boundary vectors to a different list
    # than the serving-time operator
    cos = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
    assign = cos.argmax(axis=1)  # first max == lowest list_id on ties
    R = X - C[assign]
    dim_per = X.shape[1] // n_sub
    books = []
    for m in range(n_sub):
        sub = R[:, m * dim_per : (m + 1) * dim_per]
        Cm = kmeans_deterministic(sub, n_codes, seed=seed + m, n_iter=n_iter)
        books.append([[round(float(x), 6) for x in c] for c in Cm])
    return books


def _hyperplanes(nbits: int, dim: int, seed: int, n_tables: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal(size=(n_tables, nbits, dim))


def add_lsh_signature(
    df: DataFrame,
    dim: int,
    nbits: int = 16,
    n_tables: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append (table_id, bucket) rows: one row per (vector, table).

    bucket = integer whose bit j is sign(dot(v, hyperplane_j)) — computed
    natively from literal hyperplane arrays; no Python at row time.
    """
    planes = _hyperplanes(nbits, dim, seed, n_tables)
    # (D, T*B) coefficient matrix, t-major columns.
    coef = planes.reshape(n_tables * nbits, dim).T.copy()
    weights = (np.int64(1) << np.arange(nbits, dtype=np.int64))

    # Arrow-batched numpy replaces the previous n_tables*nbits
    # F.aggregate(zip_with(...)) sign folds: Catalyst evaluates
    # higher-order lambdas interpreted (never codegen), measured ~2 ms/row
    # for 64 folds at dim=64 — the whole batch below is ~64 vectorized ops.
    # Fold order is preserved exactly: the accumulator adds x_d * p_d in
    # ascending d, the same left-to-right IEEE double sequence as the old
    # expression AND as DuckDB's list_dot_product, so every sign — and
    # therefore every bucket and the oracle replay — is bit-identical.
    @F.pandas_udf(ArrayType(LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        valid = np.fromiter(
            (v is not None and len(v) == dim for v in vecs), bool, count=n
        )
        buckets = np.zeros((n, n_tables), dtype=np.int64)
        if valid.any():
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v, ok in zip(vecs, valid) if ok]
            )
            acc = np.zeros((V.shape[0], coef.shape[1]), dtype=np.float64)
            for d in range(dim):
                acc += V[:, d : d + 1] * coef[d]
            bits = (acc >= 0.0).reshape(V.shape[0], n_tables, nbits)
            buckets[valid] = (bits * weights).sum(axis=2)
        # null / wrong-dim rows keep the all-zero buckets the old
        # expression produced (every sign term fell to its otherwise(0)).
        return pd.Series(list(buckets))

    return df.select(
        "*",
        F.posexplode(bucket_udf(F.col(vec_col))).alias("table_id", "bucket"),
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    nbits: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates = same (table, bucket) co-occurrence,
    then exact cosine re-rank. Recall grows with n_tables; cost is the
    bucket-join instead of a cross product. (Measured alternative: deduping
    bare id pairs and re-attaching vectors afterwards added two more
    multi-million-row shuffles and lost to this single heavy-row join.)
    """
    c = add_lsh_signature(corpus, dim, nbits, n_tables, seed, vec_col).select(
        F.col(id_col), F.col(vec_col).alias("_cvec"), "table_id", "bucket"
    )
    q = add_lsh_signature(queries, dim, nbits, n_tables, seed, vec_col).select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"), "table_id", "bucket"
    )
    cands = (
        c.join(q, ["table_id", "bucket"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "_qvec", "_cvec")
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cands.select(
        query_id_col,
        id_col,
        F.round(cosine_arrow(F.col("_qvec"), F.col("_cvec")), 6).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _gemm_pairs_from_group(pdf, thr: float):
    """Candidate (u, v) pairs from one applyInPandas group.

    The group holds the member rows of ONE block pair (b1 <= b2) — or of
    one LSH bucket — as ordinary rows (_id, _v, _blk). A single BLAS GEMM
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
    rows): that is the inherent cost of exact all-pairs — for subquadratic
    work switch to ``near_dup_pairs_lsh``, which only forms block pairs
    inside LSH buckets.
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


def near_dup_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    nbits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    bucket_cap: int = 20000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin: float = 1e-5,
) -> DataFrame:
    """Subquadratic near-dup pairs: sign-LSH pre-bucketing + per-bucket GEMM.

    The scale path ``near_dup_pairs_blocked``'s docstring points to: pairs
    only form inside an (table, bucket) LSH group, so total work is the sum
    of squared bucket sizes instead of n^2. Recall is probabilistic (grows
    with n_tables; at cosine >= 0.95 two vectors agree on most hyperplane
    signs, so a handful of tables reaches ~1.0) — surviving candidates are
    still exactly re-scored, so precision is exact and scores bit-match the
    naive path. Buckets above ``bucket_cap`` are truncated by id (the same
    mega-bucket guard as operators/lsh.py candidate_pairs).
    """
    sigs = add_lsh_signature(df, dim, nbits, n_tables, seed, vec_col).select(
        F.col(id_col).alias("_id"),
        to_double(F.col(vec_col)).alias("_v"),
        "table_id",
        "bucket",
    )
    w = Window.partitionBy("table_id", "bucket").orderBy("_id")
    capped = (
        sigs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    thr = threshold - margin
    grouped = capped.select(
        "_id",
        "_v",
        F.lit(0).alias("_blk"),
        F.lit(0).alias("_b1"),
        F.lit(0).alias("_b2"),
        "table_id",
        "bucket",
    )
    cands = (
        grouped.groupBy("table_id", "bucket")
        .applyInPandas(
            lambda pdf: _gemm_pairs_from_group(pdf, thr), schema="u long, v long"
        )
        .dropDuplicates(["u", "v"])  # same pair can surface in many tables
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


def _d2_micro(a, b):
    """Integer micro-unit squared L2 distance between two DOUBLE[] columns
    via the sequential-fold identity d2 = aa - 2ab + bb — the PQ family's
    cross-engine determinism contract (exact BIGINTs after one round)."""
    return F.round(
        (dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)) * F.lit(1_000_000.0),
        0,
    ).cast("long")


def _np_round6(x: np.ndarray) -> np.ndarray:
    """numpy twin of F.round(x, 6): HALF_UP (away from zero), matching the
    operator/oracle tie rule — np.round is half-to-even and would break
    boundary assignments."""
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def _np_micro(d: np.ndarray) -> np.ndarray:
    """numpy twin of _d2_micro's rounding for non-negative squared
    distances: floor(d*1e6 + 0.5) as int64."""
    return np.floor(d * 1e6 + 0.5).astype(np.int64)


def pq_encode_gemm(
    df: DataFrame,
    codebook: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_centroids: list | None = None,
) -> DataFrame:
    """PQ (optionally IVF-residual) encode as ONE Arrow mapInPandas pass —
    the scale path for big codebooks.

    The fold-expression encode joins every vector against every
    (subspace, code) row and evaluates three interpreted array folds per
    candidate — n x n_sub x n_codes rows (2M at 16x64 books on the 2000-row
    bench corpus, measured ~11 s inside ivfpq). Here each Arrow batch does
    the identical math as a handful of BLAS GEMMs: assign to the best
    rounded-cosine IVF list (HALF_UP round, first-max = lowest list — the
    _best_lists tie rule), take residuals, and per subspace pick
    argmin(floor(d2*1e6+0.5), code). A narrow map over the corpus — no
    join, no shuffle, codebooks ride the closure as broadcast literals.

    Returns (id, list_id, m, code); list_id is -1 when no ``ivf_centroids``
    (flat PQ). Used automatically by pq_adc_topk/ivfpq_topk for books
    beyond the small oracle-replayed tier.
    """
    books = [np.asarray(b, dtype=np.float64) for b in codebook]
    n_sub = len(books)
    cents = (
        np.asarray(ivf_centroids, dtype=np.float64)
        if ivf_centroids is not None
        else None
    )
    schema = f"{id_col} long, list_id long, m int, code long"

    def _enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            if cents is not None:
                xn = np.linalg.norm(X, axis=1)
                cn = np.linalg.norm(cents, axis=1)
                cos = (X @ cents.T) / np.maximum(
                    xn[:, None] * cn[None, :], 1e-300
                )
                assign = _np_round6(cos).argmax(axis=1)
                R = X - cents[assign]
            else:
                assign = np.full(len(X), -1, dtype=np.int64)
                R = X
            dim_per = X.shape[1] // n_sub
            codes = np.empty((len(X), n_sub), dtype=np.int64)
            for m, B in enumerate(books):
                sub = R[:, m * dim_per : (m + 1) * dim_per]
                d = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ B.T)
                    + (B * B).sum(axis=1)
                )
                codes[:, m] = _np_micro(d).argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_sub),
                    "list_id": np.repeat(assign, n_sub),
                    "m": np.tile(np.arange(n_sub, dtype=np.int32), len(X)),
                    "code": codes.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(_enc, schema)


def pq_lut_gemm(
    queries: DataFrame,
    codebook: list,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    ivf_centroids: list | None = None,
    n_probe: int = 1,
) -> DataFrame:
    """Per-query ADC lookup tables as one Arrow pass (scale twin of the
    fold-expression LUT): for each query, its ``n_probe`` best rounded-
    cosine lists (all of them when flat) and, per probed list, the integer
    micro-unit distance of the query('s residual) subvectors to every
    (subspace, code) centroid. Returns (query_id, list_id, m, code, dq);
    list_id is -1 for flat PQ."""
    books = [np.asarray(b, dtype=np.float64) for b in codebook]
    n_sub = len(books)
    n_codes = max(len(b) for b in books)
    cents = (
        np.asarray(ivf_centroids, dtype=np.float64)
        if ivf_centroids is not None
        else None
    )
    schema = f"{query_id_col} long, list_id long, m int, code long, dq long"

    def _lut(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            qids = pdf[query_id_col].to_numpy(dtype=np.int64)
            rows_q, rows_l, rows_m, rows_c, rows_d = [], [], [], [], []
            if cents is not None:
                xn = np.linalg.norm(X, axis=1)
                cn = np.linalg.norm(cents, axis=1)
                cos = _np_round6(
                    (X @ cents.T)
                    / np.maximum(xn[:, None] * cn[None, :], 1e-300)
                )
                lids = np.arange(len(cents))
            for qi in range(len(X)):
                if cents is not None:
                    order = np.lexsort((lids, -cos[qi]))
                    probed = lids[order[:n_probe]]
                else:
                    probed = np.array([-1])
                for pl in probed:
                    r = X[qi] - cents[pl] if pl >= 0 else X[qi]
                    dim_per = len(r) // n_sub
                    for m, B in enumerate(books):
                        sub = r[m * dim_per : (m + 1) * dim_per]
                        d = (sub @ sub) - 2.0 * (B @ sub) + (B * B).sum(axis=1)
                        dI = _np_micro(d)
                        k = len(B)
                        rows_q.append(np.full(k, qids[qi], dtype=np.int64))
                        rows_l.append(np.full(k, pl, dtype=np.int64))
                        rows_m.append(np.full(k, m, dtype=np.int32))
                        rows_c.append(np.arange(k, dtype=np.int64))
                        rows_d.append(dI)
            if rows_q:
                yield pd.DataFrame(
                    {
                        query_id_col: np.concatenate(rows_q),
                        "list_id": np.concatenate(rows_l),
                        "m": np.concatenate(rows_m),
                        "code": np.concatenate(rows_c),
                        "dq": np.concatenate(rows_d),
                    }
                )

    _ = n_codes  # shape doc only
    return queries.select(query_id_col, vec_col).mapInPandas(_lut, schema)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    ivf_centroids: list,
    pq_codebook: list,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ with residual encoding and ADC — the production ANN index
    shape (Jégou et al. 2011; what FAISS calls IVFPQ), composed from the
    repo's two halves:

    Build: every corpus vector routes to its best-cosine IVF list
    (``ivf_centroids`` literals — trained k-means, data/codebooks.py),
    takes the residual ``v - centroid``, and PQ-encodes the residual
    against per-subspace residual codebooks (``pq_codebook`` literals
    from train_residual_pq_codebook). Storage per vector: one list id +
    n_sub codes — the 100 TB memory story.

    Search: a query probes its ``n_probe`` best lists; for EACH probed
    list it builds the residual LUT (its own residual vs that list's
    centroid — residual spaces differ per list), and ADC sums run over
    the probed lists' code rows only: candidates shrink by
    ~n_probe/n_lists AND the math never touches stored vectors. All
    distances are integer micro-units (exact BIGINT sums, rank ties on
    vec_id), so the whole index + search replays in the SQL oracle.

    Returns (query_id, vec_id, adist, rank).

    Encode strategy mirrors pq_adc_topk: small oracle-replayed books run
    the fold-expression build the SQL oracle replays; bigger books use
    the Arrow GEMM encode/LUT (same assignment/rounding/tie rules,
    measured 10.9 -> ~3 s at 32-list 16x64 books on the bench corpus).
    """
    if len(pq_codebook) * max(len(b) for b in pq_codebook) > 64:
        codes = pq_encode_gemm(
            corpus, pq_codebook, id_col=id_col, vec_col=vec_col,
            ivf_centroids=ivf_centroids,
        )
        lut = pq_lut_gemm(
            queries, pq_codebook, query_id_col=query_id_col,
            vec_col=vec_col, ivf_centroids=ivf_centroids, n_probe=n_probe,
        )
        adist = (
            codes.join(F.broadcast(lut), ["list_id", "m", "code"])
            .where(F.col(id_col) != F.col(query_id_col))
            .groupBy(query_id_col, id_col)
            .agg(F.sum("dq").cast("long").alias("adist"))
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.asc("adist"), F.asc(id_col)
        )
        return adist.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )

    spark = corpus.sparkSession
    n_sub = len(pq_codebook)
    dim_per = len(pq_codebook[0][0])
    cents = local_df(spark, 
        [(int(i), [float(x) for x in c]) for i, c in enumerate(ivf_centroids)],
        "list_id long, cvec array<double>",
    )
    rcb = local_df(spark, 
        [
            (int(c), int(m), [float(x) for x in pq_codebook[m][c]])
            for m in range(n_sub)
            for c in range(len(pq_codebook[m]))
        ],
        "code long, m int, cv array<double>",
    )

    def _residual_subs(df: DataFrame, ident: str) -> DataFrame:
        """(ident, list_id, m, rsv): per-subspace residual v - centroid."""
        return (
            df.join(F.broadcast(cents), "list_id")
            .select(
                ident,
                "list_id",
                vec_col,
                "cvec",
                F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
            )
            .select(
                ident,
                "list_id",
                "m",
                F.zip_with(
                    F.slice(
                        to_double(F.col(vec_col)),
                        F.col("m") * dim_per + 1,
                        dim_per,
                    ),
                    F.slice(F.col("cvec"), F.col("m") * dim_per + 1, dim_per),
                    lambda x, y: x - y,
                ).alias("rsv"),
            )
        )

    assign = _best_lists(
        corpus, cents, id_col, vec_col, 1, carry=(vec_col,)
    )
    corpus_res = _residual_subs(assign, id_col)
    enc = corpus_res.join(F.broadcast(rcb), "m").select(
        id_col,
        "list_id",
        "m",
        "code",
        _d2_micro(F.col("rsv"), F.col("cv")).alias("_d"),
    )
    # nearest code per (vector, subspace) as a min_by HASH AGGREGATE over
    # the n x n_sub x n_codes candidate rows — map-side combinable, so the
    # shuffle carries n x n_sub rows instead of the full candidate set a
    # row_number window would sort (measured 10.9 -> 5.1 s at 16x64 books
    # on the bench corpus). struct(_d, code) ordering == the oracle's
    # ORDER BY d, code tie rule.
    codes = enc.groupBy(id_col, "list_id", "m").agg(
        F.min_by("code", F.struct("_d", "code")).alias("code")
    )

    probes = _best_lists(
        queries, cents, query_id_col, vec_col, n_probe, carry=(vec_col,)
    )
    q_res = _residual_subs(probes, query_id_col)
    lut = q_res.join(F.broadcast(rcb), "m").select(
        query_id_col,
        "list_id",
        "m",
        "code",
        _d2_micro(F.col("rsv"), F.col("cv")).alias("_dq"),
    )
    adist = (
        codes.join(F.broadcast(lut), ["list_id", "m", "code"])
        .where(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_dq").cast("long").alias("adist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adist"), F.asc(id_col))
    return adist.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook: list | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (the
    public IVF-PQ building block, Jégou et al. 2011 — here the PQ half).

    Build: the vector space splits into ``n_sub`` contiguous subspaces;
    each subspace's codebook is either ``codebook`` —
    ``book[m][code][dim_per]`` literals, e.g. the committed k-means
    centroids from :func:`train_pq_codebook` (data/codebooks.py) — or,
    when None, the sub-slices of the ``n_codes`` smallest-id corpus
    vectors (the original oracle-checkable stand-in). Every corpus vector
    encodes to n_sub uint codes by nearest sub-centroid (L2^2) — the
    corpus compresses from d doubles to n_sub small ints per vector, the
    point of PQ at 100 TB.

    Search (ADC): each query computes its tiny (n_sub x n_codes) distance
    lookup table; the approximate distance of a corpus vector is the SUM
    of table entries selected by its codes — a join of the code table
    with the broadcast LUT plus a groupBy, never touching the original
    vectors.

    Determinism contract: sub-distances use the sequential-fold identity
    d2 = dot(x,x) - 2 dot(x,y) + dot(y,y), are scaled to integer
    micro-units (round(d2*1e6)), and every downstream sum/rank runs on
    exact BIGINTs — no float summation order anywhere. Ties break on
    (code) at encode time and (vec_id) at rank time. Returns
    (query_id, vec_id, adist, rank) with adist in micro-units.

    Encode strategy: books up to the small oracle-replayed tier
    (n_sub x n_codes <= 64 cells) use the fold-expression encode the SQL
    oracle replays term for term; bigger books switch to the Arrow GEMM
    encode/LUT (pq_encode_gemm/pq_lut_gemm — identical tie rules, ~3x
    fewer interpreted folds per candidate row, measured 3.9 -> 1.9 s at
    16x64 books on the bench corpus).
    """
    if codebook is not None:
        # the codebook fixes the shape — a caller-passed n_sub that
        # disagrees with it would slice subvectors of the wrong width
        n_sub = len(codebook)
        if n_sub * max(len(b) for b in codebook) > 64:
            codes = pq_encode_gemm(
                corpus, codebook, id_col=id_col, vec_col=vec_col
            ).drop("list_id")
            lut = pq_lut_gemm(
                queries, codebook, query_id_col=query_id_col, vec_col=vec_col
            ).drop("list_id")
            adist = (
                codes.join(F.broadcast(lut), ["m", "code"])
                .where(F.col(id_col) != F.col(query_id_col))
                .groupBy(query_id_col, id_col)
                .agg(F.sum("dq").cast("long").alias("adist"))
            )
            w = Window.partitionBy(query_id_col).orderBy(
                F.asc("adist"), F.asc(id_col)
            )
            return adist.withColumn("rank", F.row_number().over(w)).where(
                F.col("rank") <= k
            )
    d2u = _d2_micro

    def sub_rows(df: DataFrame, ident: str) -> DataFrame:
        dim_per = F.floor(F.size(vec_col) / n_sub).cast("int")
        return df.select(
            F.col(ident),
            F.col(vec_col),
            F.explode(F.sequence(F.lit(0), F.lit(n_sub - 1))).alias("m"),
        ).select(
            ident,
            "m",
            F.slice(
                to_double(F.col(vec_col)), F.col("m") * dim_per + 1, dim_per
            ).alias("sv"),
        )

    if codebook is not None:
        cb = local_df(corpus.sparkSession, 
            [
                (int(c), int(m), [float(x) for x in codebook[m][c]])
                for m in range(len(codebook))
                for c in range(len(codebook[m]))
            ],
            "code long, m int, cv array<double>",
        )
    else:
        cb = sub_rows(
            corpus.where(F.col(id_col) < n_codes), id_col
        ).select(F.col(id_col).alias("code"), "m", F.col("sv").alias("cv"))

    corpus_sub = sub_rows(corpus, id_col)
    scored = corpus_sub.join(F.broadcast(cb), "m").select(
        id_col, "m", "code", d2u(F.col("sv"), F.col("cv")).alias("_d")
    )
    # min_by hash aggregate, not a row_number window: map-side combine
    # shrinks the encode shuffle from n x n_sub x n_codes rows to
    # n x n_sub (same (d, code) tie rule as the oracle's ORDER BY)
    codes = scored.groupBy(id_col, "m").agg(
        F.min_by("code", F.struct("_d", "code")).alias("code")
    )

    q_sub = sub_rows(queries, query_id_col)
    lut = q_sub.join(F.broadcast(cb), "m").select(
        query_id_col, "m", "code", d2u(F.col("sv"), F.col("cv")).alias("_dq")
    )
    adist = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col(id_col) != F.col(query_id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_dq").cast("long").alias("adist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adist"), F.asc(id_col))
    return adist.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    n_sub: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook: list | None = None,
) -> DataFrame:
    """PQ shortlist + exact re-rank (the standard two-stage ANN recipe):
    the compressed ADC index proposes ``shortlist`` candidates per query,
    then ONLY those candidates fetch their full vectors for an exact
    cosine re-rank to top-k. At 100 TB the expensive exact math runs on
    shortlist x queries rows instead of corpus x queries — the vector
    fetch is a semi-join-sized lookup against the (bucketed) corpus.
    Scores round to 6 dp before ranking, ties on id (the repo's exact-
    similarity convention), so the result is fully oracle-replayable.
    """
    cand = pq_adc_topk(
        corpus, queries, k=shortlist, n_sub=n_sub, n_codes=n_codes,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        codebook=codebook,
    ).select(query_id_col, id_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    rescored = (
        cand.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine_arrow(F.col("_qvec"), F.col(vec_col)), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return rescored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
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
    rows never reach the scorer). At 100 TB compose with the ANN
    shortlists instead: PQ/IVF shortlist -> label filter -> this exact
    re-rank over candidates only (the same two-stage recipe as
    pq_rerank_topk). Returns (query_id, q_label, vec_id, neg_label,
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
    generator; at 100 TB swap it for the PQ/IVF shortlist (top-m >= k
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
    id). Selecting maximally-diverse exemplars is the dual of SemDeDup —
    one picks spread, the other removes redundancy.

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
