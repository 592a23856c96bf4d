"""Distributed Lloyd k-means over embeddings — integer-exact, so the
ENTIRE training trajectory replays bit-for-bit in SQL.

A k-means codebook graded as committed literals would let an oracle
replay scoring but not training. This operator grades training the same
way lr_quality does for classifier training: make every arithmetic step
exact so an unrolled-CTE DuckDB oracle re-derives every centroid of every
iteration from the raw parquet.

Determinism contract:
- input vectors quantize once to int64 micro-units (one elementwise
  ``round(x * 1e6)`` — the only float op, same on both engines);
- distances are integer sums of squared differences (associative —
  partition-order-free, unlike float folds);
- assignment ties break to the smallest cluster id (struct array_min);
- centroid updates are pure-integer rounded division
  (functions/intmath.rounded_div) — empty clusters keep their previous
  centroid.

Scale shape: the model (k x dim ints) is the only driver-side state —
one bounded k*dim-row collect per iteration, broadcast back as literals.
Assignment is a wide codegen expression (k aggregate folds per row, no
explode, no join); the update is one (cluster, pos)-keyed aggregate over
the posexploded assigned vectors. The quantized frame is lazily
checkpointed once and reused by all iteration jobs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_data_pipeline_spark.functions.intmath import rounded_div
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

MICRO = 1_000_000


def quantize_micro(vec: Column) -> Column:
    """array<long> micro-units of an array<float/double> column."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * F.lit(float(MICRO)), 0).cast("long")
    )


def assign_clusters(vecs: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Append (cluster, d2) — argmin distance, ties to the smallest id.

    One transform over a single array<array<long>> centroid literal (not k
    unrolled fold expressions — that shape generated an 8x larger codegen
    tree and quadrupled per-job compile time). ``xq`` inside the lambdas is
    a bare column reference, so re-inlining per element is free."""
    cent = F.array(*[F.array(*[F.lit(int(v)) for v in c]) for c in centroids])
    dists = F.transform(
        cent,
        lambda c: F.aggregate(
            F.zip_with(F.col("xq"), c, lambda x, cc: (x - cc) * (x - cc)),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        ),
    )
    ids = F.sequence(F.lit(0).cast("long"), F.lit(len(centroids) - 1).cast("long"))
    best = F.array_min(
        F.zip_with(dists, ids, lambda d, i: F.struct(d.alias("d"), i.alias("k")))
    )
    return vecs.withColumn("_best", best).select(
        "*", F.col("_best.k").alias("cluster"), F.col("_best.d").alias("d2")
    ).drop("_best")


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[int]], DataFrame]:
    """Fit k centroids (micro-int lists) with ``iters`` Lloyd steps;
    init = the k smallest-id vectors. Returns (centroids, quantized_frame)
    so callers can score without re-quantizing."""
    base = df.select(
        F.col(id_col).alias("vec_id"), quantize_micro(F.col(vec_col)).alias("xq")
    ).transform(cut_lineage, eager=False)
    init = base.orderBy("vec_id").limit(k).collect()  # k smallest ids, any id space
    centroids = [list(r["xq"]) for r in init]
    if not centroids:
        raise ValueError("kmeans_fit: empty input")
    k = len(centroids)  # fewer vectors than k -> fit what exists
    for _ in range(iters):
        sums = (
            assign_clusters(base, centroids)
            .select("cluster", F.posexplode("xq").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # bounded by k * dim rows
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                int(r["s"]),
                int(r["n"]),
            )
        centroids = [
            [
                rounded_div(*by_cluster[ki][p])
                for p in range(len(centroids[ki]))
            ]
            if ki in by_cluster
            else centroids[ki]  # empty cluster keeps its centroid
            for ki in range(k)
        ]
    return centroids, base


def kmeans_cluster_stats(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, n_members, inertia): final assignment statistics."""
    centroids, base = kmeans_fit(df, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return (
        assign_clusters(base, centroids)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d2").alias("inertia"),
        )
    )
