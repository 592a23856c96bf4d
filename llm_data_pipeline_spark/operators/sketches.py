"""Deterministic, cross-engine-replayable cardinality sketch (HLL-style).

Engine-native extension: Spark's builtin ``approx_count_distinct`` is the
production tool at 100 TB, but its HLL++ registers are not replayable by
another engine, so it can only ever be rows-only-checked. This operator is
a from-first-principles HyperLogLog (Flajolet et al. 2007) built ENTIRELY
from the portable md5 hash family and integer arithmetic, so a DuckDB
oracle reproduces the registers, the estimate, and the error-bound flag
bit-for-bit:

- h = portable_hash60(value); bucket = h mod m (m=64); w = next 30 bits;
- register[j] = max over values of rho(w) = 31 - bit_length(w)
  (rho = leading-zero count of the 30-bit word + 1; w=0 -> 31);
- raw estimate = alpha_m * m^2 / sum(2^-reg), computed scale-free as
  ALPHA_NUM div S where S = sum(2^(30-reg)) is an EXACT int64 (the float
  harmonic mean is order-dependent; the scaled integer sum is not);
- small-range correction: raw <= 2.5m and V zero registers > 0 ->
  linear counting m*ln(m/V) (ln on one of 64 rational inputs, rounded to
  micro-units once — cross-engine stable).

The sketch is MERGEABLE (max per register), the whole build is one
groupBy(bucket) whose shuffle is bounded by m, and duplicates need no
pre-distinct (max over repeated values is a no-op) — the properties that
make it the 100-TB distinct-count primitive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_data_pipeline_spark.functions.hashing import portable_hash60
from llm_data_pipeline_spark.functions.localframe import local_df

M = 64
W_BITS = 30
W_MOD = 1 << W_BITS
#: alpha_64 = 0.7213 / (1 + 1.079/64), in micro-units.
ALPHA_MICRO = round(0.7213 / (1 + 1.079 / M) * 1_000_000)
#: integer numerator of the raw estimate (micro-units): alpha * m^2 * 2^30.
ALPHA_NUM = ALPHA_MICRO * M * M * W_MOD
#: small-range threshold 2.5m, in micro-units.
SMALL_RANGE_MICRO = int(2.5 * M) * 1_000_000


def hll_bucket_rho(
    df: DataFrame, value: Column, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(*carry, bucket, rho) — the map side of ANY HLL build (batch or
    streaming): portable hash -> bucket + 30-bit word -> leading-zero
    rank. The matching reduce is max(rho) per (*carry, bucket) — an
    associative, mergeable aggregation, which is exactly why the same
    projection drives the streaming rollup."""
    h = portable_hash60(value)
    hashed = df.select(
        *carry, (h % M).alias("bucket"), h.alias("_h")
    ).withColumn("w", F.expr(f"(_h div {M}) % {W_MOD}"))
    rho = F.when(F.col("w") == 0, F.lit(W_BITS + 1)).otherwise(
        F.lit(W_BITS + 1) - F.length(F.bin(F.col("w")))
    )
    return hashed.select(*carry, "bucket", rho.alias("rho"))


def with_hll_estimate(agg: DataFrame) -> DataFrame:
    """Append est_micro to a frame holding (register_sum, zero_registers)
    — raw scaled-integer harmonic mean with the linear-counting
    small-range switch (ln over one of m rational inputs, rounded to
    micro-units once — cross-engine stable)."""
    raw = F.expr(f"CAST({ALPHA_NUM} AS BIGINT) div register_sum")
    linear = F.round(
        F.lit(float(M)) * F.log(F.lit(float(M)) / F.col("zero_registers")) * 1e6
    ).cast("long")
    est = F.when(
        (raw <= SMALL_RANGE_MICRO) & (F.col("zero_registers") > 0), linear
    ).otherwise(raw)
    return agg.withColumn("est_micro", est)


def hll_registers_to_estimate(
    regs: DataFrame, group_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Turn (*group_cols, bucket, rho) max-register rows into per-group
    (register_sum, zero_registers, est_micro). No bucket spine is needed:
    every PRESENT register has rho >= 1 (the 30-bit word contributes at
    least one rank), so absent buckets ARE the zero registers — their
    count is m - n_present and each contributes exactly 2^W_BITS to the
    harmonic sum. One groupBy, no self-join (a spine join against a
    streaming memory sink also trips conflicting-reference resolution)."""
    gb = regs.groupBy(*group_cols) if group_cols else regs.groupBy()
    agg = gb.agg(
        (
            F.coalesce(
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {W_BITS} - rho)")),
                F.lit(0),
            )
            + (F.lit(M) - F.count(F.lit(1)))
            * F.lit(1 << W_BITS).cast("long")
        )
        .cast("long")
        .alias("register_sum"),
        (F.lit(M) - F.count(F.lit(1))).cast("long").alias("zero_registers"),
    )
    return with_hll_estimate(agg)


def hll_sketch(df: DataFrame, value: Column) -> DataFrame:
    """One row: (register_sum, zero_registers, est_micro).

    ``est_micro`` is the cardinality estimate in micro-units (divide by
    1e6); ``register_sum`` = sum(2^(30-reg)) pins every register's value
    modulo permutation; ``zero_registers`` drives the small-range path.
    """
    regs = hll_bucket_rho(df, value).groupBy("bucket").agg(
        F.max("rho").alias("rho")
    )
    return hll_registers_to_estimate(regs)


def hll_params(m: int) -> dict:
    """HLL constants for register count ``m`` (canonical Flajolet et al.
    bias corrections: alpha_16 = 0.673, alpha_32 = 0.697, the
    0.7213/(1 + 1.079/m) formula from 64 up — m=64 reproduces the module
    defaults exactly). Integer micro-unit forms, SQL-replayable."""
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    else:
        alpha = 0.7213 / (1 + 1.079 / m)
    am = round(alpha * 1_000_000)
    return {
        "m": m,
        "alpha_micro": am,
        "alpha_num": am * m * m * W_MOD,
        "small_range_micro": int(2.5 * m) * 1_000_000,
    }


def hll_sketch_m(df: DataFrame, value: Column, m: int) -> DataFrame:
    """:func:`hll_sketch` with a caller-chosen register count — the
    accuracy/state knob (std error ~ 1.04/sqrt(m)): one row
    (m, register_sum, zero_registers, est_micro). Same portable hash
    family, same scaled-integer harmonic mean, same small-range switch;
    every constant comes from :func:`hll_params` so the DuckDB oracle
    replays any m bit-for-bit."""
    p = hll_params(m)
    h = portable_hash60(value)
    hashed = df.select((h % m).alias("bucket"), h.alias("_h")).withColumn(
        "w", F.expr(f"(_h div {m}) % {W_MOD}")
    )
    rho = F.when(F.col("w") == 0, F.lit(W_BITS + 1)).otherwise(
        F.lit(W_BITS + 1) - F.length(F.bin(F.col("w")))
    )
    regs = (
        hashed.select("bucket", rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    agg = regs.groupBy().agg(
        (
            F.coalesce(
                F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {W_BITS} - rho)")),
                F.lit(0),
            )
            + (F.lit(m) - F.count(F.lit(1)))
            * F.lit(1 << W_BITS).cast("long")
        )
        .cast("long")
        .alias("register_sum"),
        (F.lit(m) - F.count(F.lit(1))).cast("long").alias("zero_registers"),
    )
    # alpha_num = alpha_micro * m^2 * 2^30 exceeds int64 from m=256 up
    # (5.05e19) — the division runs in DECIMAL(38,0) (DuckDB: HUGEINT
    # literal) and only the bounded QUOTIENT casts back to BIGINT
    raw = F.expr(
        f"CAST(CAST({p['alpha_num']} AS DECIMAL(38,0)) div register_sum"
        " AS BIGINT)"
    )
    linear = F.round(
        F.lit(float(m))
        * F.log(F.lit(float(m)) / F.col("zero_registers"))
        * 1e6
    ).cast("long")
    est = F.when(
        (raw <= p["small_range_micro"]) & (F.col("zero_registers") > 0),
        linear,
    ).otherwise(raw)
    return agg.select(
        F.lit(m).cast("long").alias("m"),
        "register_sum",
        "zero_registers",
        est.alias("est_micro"),
    )


# --- Count-Min frequency sketch ---------------------------------------------

CM_D = 4
CM_W = 1031  # prime, so Kirsch-Mitzenmacher double hashing never degenerates
_KM_SPLIT = 1 << 30


def _cm_buckets(value: Column) -> list[Column]:
    """d bucket indices from ONE md5 via Kirsch-Mitzenmacher double
    hashing: g_i(x) = (h1 + i*h2) mod w with (h1, h2) = the two 30-bit
    halves of portable_hash60(x). One hash per value instead of d salted
    hashes (measured 4x less md5 work — the dominant sketch cost); w prime
    keeps the g_i family non-degenerate for any h2 (same construction as
    operators/bloom.py). Exactly replayable in SQL.
    """
    h = portable_hash60(value)
    # exact integer split (shift/mask — float division of a 60-bit value
    # would round above 2^53 and break the cross-engine replay)
    h1 = F.shiftright(h, 30)
    h2 = h.bitwiseAND(F.lit(_KM_SPLIT - 1))
    return [(h1 + F.lit(i) * h2) % CM_W for i in range(CM_D)]


def cm_build(items: DataFrame, value_col: str = "gram") -> DataFrame:
    """Count-Min counter table (Cormode & Muthukrishnan 2005): d=4 rows of
    w=1031 counters. Mergeable (counters add); the build is ONE
    aggregation whose output is bounded by d*w rows regardless of corpus
    size — partial aggregation collapses the exploded (row, bucket) stream
    map-side, so the shuffle carries at most d*w keys per partition.
    Returns (row, bucket, cnt).
    """
    buckets = _cm_buckets(F.col(value_col))
    # ONE scan: the d (row, bucket) probes explode from an inline array —
    # a d-branch union would re-scan (and re-hash) the input per branch.
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("row"), b.alias("bucket"))
            for i, b in enumerate(buckets)
        ]
    )
    return (
        items.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def cm_estimate(
    counters: DataFrame, queries: DataFrame, value_col: str = "gram"
) -> DataFrame:
    """Point estimates: est(x) = min over rows of counter[row][g_row(x)].

    The counter table is d*w rows — broadcast it; each query value costs d
    lookups and a min. Guarantee: est >= true always; est <= true + 2N/w
    with prob >= 1 - 2^-d (graded as a flag, not assumed).
    """
    buckets = _cm_buckets(F.col(value_col))
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("row"), b.alias("bucket"))
            for i, b in enumerate(buckets)
        ]
    )
    probes = queries.select(
        F.col(value_col), F.explode(pairs).alias("p")
    ).select(value_col, F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(counters), ["row", "bucket"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est")
    )


# ---------------------------------------------------------------------------
# bottom-k uniform sample + quantile estimation
# ---------------------------------------------------------------------------


def bottomk_sample(
    df: DataFrame, key: Column, k: int, carry: tuple[str, ...]
) -> DataFrame:
    """Deterministic uniform sample: the k rows with the smallest portable
    hash of ``key``. Hash order is independent of every data column, so
    the sample is uniform; it is also MERGEABLE (bottom-k of a union is
    the bottom-k of per-shard bottom-k's), which is what makes it the
    100-TB sampling primitive: ``orderBy(h).limit(k)`` compiles to
    TakeOrderedAndProject — per-partition top-k heaps + one k-row merge,
    never a global sort. Returns (hk, *carry).
    """

    return (
        df.select(portable_hash60(key).alias("hk"), *carry)
        .orderBy("hk")
        .limit(k)
    )


def bottomk_quantiles(
    df: DataFrame,
    key: Column,
    value_col: str,
    k: int,
    ps: tuple[int, ...] = (25, 50, 75, 90, 99),
) -> DataFrame:
    """Quantile estimation from a bottom-k hash sample, with the true rank
    error of each estimate measured against the FULL table.

    Two passes, both scale-shaped: (1) bottom-k sample (partial top-k, no
    shuffle of data rows); (2) one aggregation over the full table against
    the broadcast |ps|-row estimate set to count rows <= each estimate —
    the exact rank of the estimate, obtained WITHOUT any global sort.
    ``within_bound`` checks the measured rank error against a 4-sigma
    binomial bound for sample size k (precomputed Python literal, floor
    40000 ppm — at extreme percentiles the normal approximation thins).

    All arithmetic is integer (portable hash, exact counts, rounded
    division), so a DuckDB oracle replays estimate, rank and flag
    bit-for-bit.
    """
    import math

    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    spark = df.sparkSession
    spec_rows = []
    for p in ps:
        sigma = math.sqrt(p / 100 * (1 - p / 100) / k)
        spec_rows.append(
            (
                p,
                math.ceil(p * k / 100),
                p * 10_000,
                max(40_000, math.ceil(4 * sigma * 1_000_000)),
            )
        )
    spec = local_df(spark, 
        spec_rows, "p int, need_rank long, target_ppm long, bound_ppm long"
    )

    samp = bottomk_sample(df, key, k, (value_col,))
    ranked = samp.select(
        value_col,
        F.row_number()
        .over(Window.orderBy(F.col(value_col).asc(), F.col("hk").asc()))
        .alias("rn"),
    )
    m = ranked.agg(F.max("rn").alias("m_eff"))
    est = (
        spec.crossJoin(F.broadcast(m))
        .withColumn("use_rank", F.least(F.col("need_rank"), F.col("m_eff")))
        .join(
            F.broadcast(ranked.withColumnRenamed(value_col, "est_value")),
            F.col("rn") == F.col("use_rank"),
        )
        .select("p", "need_rank", "target_ppm", "bound_ppm", "est_value")
    )
    ex = (
        df.select(F.col(value_col).alias("_v"))
        .crossJoin(F.broadcast(est))
        .groupBy("p", "need_rank", "target_ppm", "bound_ppm", "est_value")
        .agg(
            F.count(F.when(F.col("_v") <= F.col("est_value"), 1)).alias(
                "exact_le"
            ),
            F.count(F.lit(1)).alias("total_n"),
        )
    )
    rank_ppm = rounded_div_col(
        F.col("exact_le") * F.lit(1_000_000).cast("long"), F.col("total_n")
    )
    return ex.select(
        "p",
        "need_rank",
        "est_value",
        "exact_le",
        "total_n",
        rank_ppm.alias("rank_ppm"),
        F.abs(rank_ppm - F.col("target_ppm")).alias("err_ppm"),
        (F.abs(rank_ppm - F.col("target_ppm")) <= F.col("bound_ppm"))
        .cast("int")
        .alias("within_bound"),
    )


def grouped_bottomk_quantiles(
    df: DataFrame,
    group_col: str,
    key: Column,
    value_col: str,
    k: int,
    ps: tuple[int, ...] = (50, 90),
) -> DataFrame:
    """Per-group bottom-k sample + quantile estimates with measured rank
    error — the stratified form of :func:`bottomk_quantiles` (per-lang /
    per-domain length profiles without a per-group sort). The per-group
    sample uses a rank-filter window here; at 100 TB with millions of
    groups swap it for a bounded-heap groupBy aggregate — the estimate
    and grading passes are unchanged. The exact pass is ONE aggregation
    of the full table against the broadcast (group x p) estimate set.
    """
    import math

    from llm_data_pipeline_spark.functions.intmath import rounded_div_col

    spark = df.sparkSession
    spec_rows = []
    for p in ps:
        sigma = math.sqrt(p / 100 * (1 - p / 100) / k)
        spec_rows.append(
            (
                p,
                math.ceil(p * k / 100),
                p * 10_000,
                max(40_000, math.ceil(4 * sigma * 1_000_000)),
            )
        )
    spec = local_df(spark, 
        spec_rows, "p int, need_rank long, target_ppm long, bound_ppm long"
    )

    hashed = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("val"),
        portable_hash60(key).alias("hk"),
    )
    ws = Window.partitionBy("grp").orderBy("hk")
    samp = hashed.withColumn("_sr", F.row_number().over(ws)).where(
        F.col("_sr") <= k
    )
    wr = Window.partitionBy("grp").orderBy(F.col("val").asc(), F.col("hk").asc())
    ranked = samp.select(
        "grp", "val", F.row_number().over(wr).alias("rn")
    )
    m = ranked.groupBy("grp").agg(F.max("rn").alias("m_eff"))
    est = (
        m.crossJoin(F.broadcast(spec))
        .withColumn("use_rank", F.least(F.col("need_rank"), F.col("m_eff")))
        .join(
            ranked.withColumnRenamed("val", "est_value"),
            (F.col("rn") == F.col("use_rank"))
            & (ranked["grp"] == m["grp"]),
        )
        .select(
            m["grp"].alias("grp"),
            "p",
            "need_rank",
            "target_ppm",
            "bound_ppm",
            "est_value",
        )
    )
    ex = (
        df.select(
            F.col(group_col).alias("_g"), F.col(value_col).alias("_v")
        )
        .join(F.broadcast(est), F.col("_g") == F.col("grp"))
        .groupBy("grp", "p", "need_rank", "target_ppm", "bound_ppm", "est_value")
        .agg(
            F.count(F.when(F.col("_v") <= F.col("est_value"), 1)).alias(
                "exact_le"
            ),
            F.count(F.lit(1)).alias("total_n"),
        )
    )
    rank_ppm = rounded_div_col(
        F.col("exact_le") * F.lit(1_000_000).cast("long"), F.col("total_n")
    )
    return ex.select(
        "grp",
        "p",
        "need_rank",
        "est_value",
        "exact_le",
        "total_n",
        rank_ppm.alias("rank_ppm"),
        F.abs(rank_ppm - F.col("target_ppm")).alias("err_ppm"),
        (F.abs(rank_ppm - F.col("target_ppm")) <= F.col("bound_ppm"))
        .cast("int")
        .alias("within_bound"),
    )
