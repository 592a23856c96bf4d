"""Integer-exact weighted PageRank over a (src, dst, w) edge list.

Engine-native extension (no reference counterpart): the domain-authority
prior web-curation pipelines attach to documents (Common Crawl publishes
exactly this as its domain-level ranking; RefinedWeb/C4-class pipelines
use such rankings as quality signals). Implemented as a fixed-iteration
power method in pure integer micro-units so a SQL oracle replays the whole
trajectory bit-identically:

- ranks are BIGINT micro-units, init 1_000_000 per node (per-node mass 1);
- an edge (s, d, w) carries ``(rank_s * w) div out_w_s`` to ``d`` — integer
  division per edge loses mass deterministically on both engines;
- update: ``rank = 150_000 + (85 * incoming) div 100`` (damping 0.85 with
  the teleport term in micro-units). All operands non-negative, so Spark's
  truncating ``div`` and DuckDB's flooring ``//`` agree.
- dangling nodes (no out-edges) leak their mass — the standard
  simplification; nodes with no in-edges settle at the teleport floor.

100-TB shape: per iteration, one join of the edge list against the rank
table on src (AQE picks broadcast while ranks fit, sort-merge beyond) and
one groupBy(dst) aggregation — both keyed shuffles bounded by |E| and |V|;
the out-weight table is computed once and the weighted edge list + node
set are pinned with a lazy localCheckpoint so iteration jobs never re-run
the upstream edge construction (measured 10x recompute without the pin).
Rank lineage is truncated every ``ckpt_every`` iterations — see
``pagerank_integer`` for the measured cadence A/B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

MICRO = 1_000_000
DAMP_PCT = 85
TELEPORT = (100 - DAMP_PCT) * MICRO // 100  # 150_000


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 10,
    ckpt_every: int = 5,
) -> DataFrame:
    """Run ``iters`` integer power-method steps; returns (node, rank).

    ``ckpt_every`` controls rank-lineage truncation cadence: measured A/B
    at sf0.1 (60-node graph, 10 iters) — checkpoint every iteration 4.9 s,
    every 2 3.0 s, every 5 2.9 s, never 3.2 s. Per-iteration checkpoints
    pay a job per materialization; none at all re-analyzes a 10-join-deep
    plan. Every ~5 is the knee, and at production |V| it also bounds
    re-execution after executor loss to 5 iterations.
    """
    e = edges.select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight).cast("long").alias("_w"),
    )
    outw = e.groupBy("_src").agg(F.sum("_w").alias("_outw"))
    # Pin the weighted edge list and node set ONCE: every iteration's job
    # reads them, and without the checkpoint each of the `iters` jobs would
    # re-run the whole upstream edge construction (scan, joins, aggregate) —
    # measured 10x recompute before this pin.
    e = e.join(outw, "_src").transform(cut_lineage, eager=False)
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .transform(cut_lineage, eager=False)
    )
    ranks = nodes.select("node", F.lit(MICRO).cast("long").alias("rank"))
    for it in range(iters):
        contrib = e.join(
            ranks.withColumnRenamed("node", "_src"), "_src"
        ).select(
            F.col("_dst").alias("node"),
            F.expr("(rank * _w) div _outw").alias("_c"),
        )
        incoming = contrib.groupBy("node").agg(F.sum("_c").alias("_inc"))
        ranks = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.lit(TELEPORT)
                + F.expr(f"({DAMP_PCT} * coalesce(_inc, 0L)) div 100")
            )
            .cast("long")
            .alias("rank"),
        )
        if ckpt_every and (it + 1) % ckpt_every == 0 and (it + 1) < iters:
            ranks = ranks.transform(cut_lineage, eager=False)
    return ranks
