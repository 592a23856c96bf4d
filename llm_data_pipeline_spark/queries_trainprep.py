"""Training-data preparation queries beyond the reference surface:
long-context windowing, curriculum scheduling, best-of-n candidate
selection, and skip-gram pair generation. All native-expression Spark
plans with full DuckDB oracle replays (the reference has none of these;
they are the operators a 100 TB pre-training pipeline runs between dedup
and tokenize)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_data_pipeline_spark.functions.hashing import (
    DUCKDB_HASH60,
    portable_hash60,
)
from llm_data_pipeline_spark.functions.intmath import (
    rounded_div_col,
    rounded_div_sql,
)
from llm_data_pipeline_spark.queries import query, table
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

_NORM = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
_TOKS = f"list_filter(string_split({_NORM}, ' '), x -> x <> '')"

_WIN = 256
_STRIDE = 192
# window count = ceil((len - W)/S) + 1 in floor-div form — ONE definition
# shared by the export (doc_sliding_windows) and the reconstruction audit
# (window_overlap_reconstruct), so the two can never validate different
# windowings
_WIN_COUNT_SQL = (
    f"CASE WHEN len <= {_WIN} THEN 1 "
    f"ELSE (len - {_WIN} + {_STRIDE} - 1) // {_STRIDE} + 1 END"
)


def _n_wins_col():
    return F.when(F.col("len") <= _WIN, F.lit(1)).otherwise(
        F.expr(f"(len - {_WIN} + {_STRIDE} - 1) div {_STRIDE}") + 1
    )


@query(
    "doc_sliding_windows",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS t, length({_NORM}) AS len
      FROM documents WHERE length({_NORM}) > 0
    ),
    wins AS (
      SELECT doc_id, i AS win_id, (i * {_STRIDE})::BIGINT AS win_start,
             substr(t, i * {_STRIDE} + 1, {_WIN}) AS wt
      FROM base,
           unnest(range({_WIN_COUNT_SQL})) u(i)
    )
    SELECT doc_id, CAST(win_id AS BIGINT) AS win_id, win_start,
           CAST(length(wt) AS BIGINT) AS win_len,
           {DUCKDB_HASH60.format(s="wt")} AS win_hash
    FROM wins
    ORDER BY doc_id, win_id
    """,
    tags=("trainprep", "windowing"),
)
def doc_sliding_windows(spark: SparkSession, sf_dir: str):
    """Long-context training windows: each document splits into
    {_WIN}-char windows at stride {_STRIDE} (64-char overlap so no
    boundary context is lost), the standard chunking ahead of tokenize
    for context lengths shorter than documents. Start positions are pure
    integer arithmetic (count = ceil((len - W)/S) + 1, floor-div form),
    the tail window is short rather than padded, and each window emits
    its portable content hash so the oracle checks the exact window TEXT,
    not just offsets. Narrow map + explode — no shuffle before the
    presentation sort; at 100 TB this is a zero-shuffle pass."""
    from llm_data_pipeline_spark.functions.text import norm_ws

    docs = table(spark, sf_dir, "documents", scatter=True)
    base = docs.select(
        "doc_id", norm_ws(F.col("text")).alias("t")
    ).withColumn("len", F.length("t")).where(F.col("len") > 0)
    n_wins = _n_wins_col()
    wins = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_wins.cast("long") - 1)).alias(
            "win_id"
        ),
    ).select(
        "doc_id",
        F.col("win_id").cast("long").alias("win_id"),
        (F.col("win_id") * _STRIDE).cast("long").alias("win_start"),
        F.substring(
            F.col("t"), (F.col("win_id") * _STRIDE + 1).cast("int"), _WIN
        ).alias("wt"),
    )
    return wins.select(
        "doc_id",
        "win_id",
        "win_start",
        F.length("wt").cast("long").alias("win_len"),
        portable_hash60(F.col("wt")).alias("win_hash"),
    ).orderBy("doc_id", "win_id")


@query(
    "curriculum_phases",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, length({_NORM}) AS difficulty
      FROM documents
    ),
    phased AS (
      SELECT doc_id, lang, difficulty,
             ntile(4) OVER (ORDER BY difficulty, doc_id) AS phase
      FROM scored
    )
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(difficulty) AS BIGINT) AS min_difficulty,
           CAST(max(difficulty) AS BIGINT) AS max_difficulty,
           CAST(sum(difficulty) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM phased
    GROUP BY phase
    ORDER BY phase
    """,
    tags=("trainprep", "curriculum"),
)
def curriculum_phases(spark: SparkSession, sf_dir: str):
    """Length-based curriculum schedule (short -> long, the classic
    pre-training curriculum): docs rank by normalized length with a
    deterministic (difficulty, doc_id) tie-break, ntile(4) cuts the
    ranking into four equal phases, and the output is the per-phase
    manifest a training scheduler consumes (doc counts, difficulty range,
    token mass, language spread). ntile's quotient/remainder split is
    standard SQL semantics — Spark and DuckDB agree exactly. One window
    + one aggregate; at scale the window is a range-partitioned global
    sort on an int key."""
    docs = table(spark, sf_dir, "documents")
    from llm_data_pipeline_spark.functions.text import norm_ws

    scored = docs.select(
        "doc_id", "lang", F.length(norm_ws(F.col("text"))).alias("difficulty")
    )
    w = Window.orderBy("difficulty", "doc_id")
    phased = scored.withColumn("phase", F.ntile(4).over(w))
    return (
        phased.groupBy("phase")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("difficulty").cast("long").alias("min_difficulty"),
            F.max("difficulty").cast("long").alias("max_difficulty"),
            F.sum("difficulty").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .select(
            F.col("phase").cast("long").alias("phase"),
            "n_docs",
            "min_difficulty",
            "max_difficulty",
            "total_chars",
            "n_langs",
        )
        .orderBy("phase")
    )


_BON_N = 4  # candidates per prompt


@query(
    "best_of_n_selection",
    oracle=f"""
    WITH prompts AS (
      SELECT doc_id AS prompt_id, {_TOKS} AS toks
      FROM documents WHERE doc_id < 100
    ),
    cands AS (
      SELECT prompt_id, k AS cand_id,
             list_slice(toks, k + 1, len(toks)) AS ctoks
      FROM prompts, unnest(range({_BON_N})) t(k)
      WHERE len(toks) > {_BON_N}
    ),
    rewarded AS (
      SELECT prompt_id, cand_id,
             CAST(len(ctoks) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(ctoks)) AS BIGINT) AS n_distinct,
             {rounded_div_sql('len(list_distinct(ctoks)) * 1000000',
                              'len(ctoks)')} AS reward_ppm
      FROM cands
    )
    SELECT prompt_id, CAST(cand_id AS BIGINT) AS cand_id, n_toks,
           n_distinct, reward_ppm
    FROM (
      SELECT *, row_number() OVER (PARTITION BY prompt_id
                                   ORDER BY reward_ppm DESC, cand_id) AS rk
      FROM rewarded
    ) WHERE rk = 1
    ORDER BY prompt_id
    """,
    tags=("trainprep", "rlhf", "selection"),
)
def best_of_n_selection(spark: SparkSession, sf_dir: str):
    """Best-of-n candidate selection — the rejection-sampling step of an
    RLHF/RFT data pipeline: per prompt, n candidate generations are
    scored by a reward and only the argmax survives. The fixture derives
    {_BON_N} deterministic candidates per prompt (suffix variants of the
    doc's token list) and uses lexical diversity (distinct/total tokens,
    integer ppm via exact rounded division) as the in-engine reward; the
    selection is one window top-1 with (reward desc, cand_id) ties. Swap
    the reward column for a model score at deployment — the plan shape
    (explode candidates -> narrow reward -> per-prompt top-1) is the
    whole operator. Oracle replays candidate derivation, reward, and
    argmax."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    from llm_data_pipeline_spark.functions.text import norm_ws

    toks = F.filter(
        F.split(norm_ws(F.col("text")), " "), lambda x: x != ""
    )
    prompts = docs.select(
        F.col("doc_id").alias("prompt_id"), toks.alias("toks")
    ).where(F.size("toks") > _BON_N)
    cands = prompts.select(
        "prompt_id",
        F.explode(F.sequence(F.lit(0), F.lit(_BON_N - 1))).alias("cand_id"),
        "toks",
    ).select(
        "prompt_id",
        "cand_id",
        F.slice(
            F.col("toks"), F.col("cand_id") + 1, F.size("toks")
        ).alias("ctoks"),
    )
    rewarded = cands.select(
        "prompt_id",
        "cand_id",
        F.size("ctoks").cast("long").alias("n_toks"),
        F.size(F.array_distinct("ctoks")).cast("long").alias("n_distinct"),
    ).withColumn(
        "reward_ppm",
        rounded_div_col(F.col("n_distinct") * 1_000_000, F.col("n_toks")),
    )
    w = Window.partitionBy("prompt_id").orderBy(
        F.desc("reward_ppm"), F.asc("cand_id")
    )
    return (
        rewarded.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "prompt_id",
            F.col("cand_id").cast("long").alias("cand_id"),
            "n_toks",
            "n_distinct",
            "reward_ppm",
        )
        .orderBy("prompt_id")
    )


_SG_WINDOW = 2
_SG_NEG = 2
_SG_BUCKETS = 1024


@query(
    "skipgram_training_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks
      FROM documents WHERE doc_id < 50
    ),
    pos AS (
      SELECT doc_id, i AS p, toks[i + 1] AS w
      FROM base, unnest(range(len(toks))) t(i)
    ),
    pairs AS (
      SELECT c.doc_id, c.p AS center_pos, c.w AS center,
             x.p AS context_pos, x.w AS context
      FROM pos c
      JOIN pos x ON x.doc_id = c.doc_id
       AND x.p BETWEEN c.p - {_SG_WINDOW} AND c.p + {_SG_WINDOW}
       AND x.p <> c.p
    )
    SELECT doc_id, CAST(center_pos AS BIGINT) AS center_pos, center,
           CAST(context_pos AS BIGINT) AS context_pos, context,
           {DUCKDB_HASH60.format(
               s="center || '|' || center_pos::VARCHAR || '|0'")}
             % {_SG_BUCKETS} AS neg_0,
           {DUCKDB_HASH60.format(
               s="center || '|' || center_pos::VARCHAR || '|1'")}
             % {_SG_BUCKETS} AS neg_1
    FROM pairs
    ORDER BY doc_id, center_pos, context_pos
    """,
    tags=("trainprep", "embeddings", "skipgram"),
)
def skipgram_training_pairs(spark: SparkSession, sf_dir: str):
    """Skip-gram (center, context) pair generation with hashed negative
    samples — the word2vec/fastText training-data shape, at corpus scale:
    positions explode once, context pairs come from an EQUI-join on
    (doc_id, position-offset range) (never a per-doc n^2), and each pair
    carries {_SG_NEG} deterministic negatives drawn from a {_SG_BUCKETS}-
    bucket hashed vocabulary (portable hash of center|pos|k — replayable,
    no RNG state). At 100 TB the join key is (doc_id, pos), co-partitioned
    by the explode — one shuffle. Oracle replays tokenization, the window
    join, and the negative hashes."""
    docs = table(spark, sf_dir, "documents", scatter=True).where(
        F.col("doc_id") < 50
    )
    from llm_data_pipeline_spark.functions.text import norm_ws

    toks = F.filter(F.split(norm_ws(F.col("text")), " "), lambda x: x != "")
    pos = docs.select(
        "doc_id", F.posexplode(toks).alias("p", "w")
    ).transform(cut_lineage, eager=False)
    c = pos.select(
        "doc_id", F.col("p").alias("center_pos"), F.col("w").alias("center")
    )
    x = pos.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("p").alias("context_pos"),
        F.col("w").alias("context"),
    )
    pairs = c.join(
        x,
        (F.col("doc_id") == F.col("doc_id2"))
        & (F.col("context_pos") >= F.col("center_pos") - _SG_WINDOW)
        & (F.col("context_pos") <= F.col("center_pos") + _SG_WINDOW)
        & (F.col("context_pos") != F.col("center_pos")),
    ).drop("doc_id2")

    def neg(k: int):
        return portable_hash60(
            F.concat_ws(
                "|",
                F.col("center"),
                F.col("center_pos").cast("string"),
                F.lit(str(k)),
            )
        ) % _SG_BUCKETS

    return pairs.select(
        "doc_id",
        F.col("center_pos").cast("long").alias("center_pos"),
        "center",
        F.col("context_pos").cast("long").alias("context_pos"),
        "context",
        neg(0).alias("neg_0"),
        neg(1).alias("neg_1"),
    ).orderBy("doc_id", "center_pos", "context_pos")


@query(
    "fim_training_examples",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             len(toks) // 3 AS n1, (2 * len(toks)) // 3 AS n2
      FROM base WHERE len(toks) >= 3
    ),
    parts AS (
      SELECT doc_id, n, n1, n2,
             array_to_string(list_slice(toks, 1, n1), ' ') AS pre,
             array_to_string(list_slice(toks, n1 + 1, n2), ' ') AS mid,
             array_to_string(list_slice(toks, n2 + 1, n), ' ') AS suf
      FROM sized
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(n1 AS BIGINT) AS prefix_tokens,
           CAST(n2 - n1 AS BIGINT) AS middle_tokens,
           CAST(n - n2 AS BIGINT) AS suffix_tokens,
           md5('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid)
             AS psm_md5
    FROM parts
    ORDER BY doc_id
    """,
    tags=("trainprep", "fim"),
)
def fim_training_examples(spark: SparkSession, sf_dir: str):
    """Fill-in-the-middle (FIM) training-example construction — the
    code-model preprocessing step (prefix/middle/suffix split, rendered in
    PSM order so the model learns to infill): deterministic split points
    at n/3 and 2n/3 token boundaries, PSM text = <PRE>prefix<SUF>suffix
    <MID>middle. Graded per doc by the exact rendered string's md5 plus
    the three segment token counts, so the split arithmetic AND the
    rendering are hash-checked. Pure narrow expressions — one pass over
    the corpus, no shuffle, trivially 100-TB-parallel."""
    toks = F.split(
        F.trim(
            F.regexp_replace(
                F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
            )
        ),
        " ",
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.filter(toks, lambda x: x != "").alias("toks")
    )
    sized = docs.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        (F.floor(F.size("toks") / 3)).cast("int").alias("n1"),
        (F.floor(F.size("toks") * 2 / 3)).cast("int").alias("n2"),
    ).where(F.col("n") >= 3)
    parts = sized.select(
        "doc_id",
        "n",
        "n1",
        "n2",
        F.concat_ws(" ", F.slice("toks", 1, F.col("n1"))).alias("pre"),
        F.concat_ws(
            " ", F.slice("toks", F.col("n1") + 1, F.col("n2") - F.col("n1"))
        ).alias("mid"),
        F.concat_ws(
            " ", F.slice("toks", F.col("n2") + 1, F.col("n") - F.col("n2"))
        ).alias("suf"),
    )
    return (
        parts.select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.col("n1").cast("long").alias("prefix_tokens"),
            (F.col("n2") - F.col("n1")).cast("long").alias("middle_tokens"),
            (F.col("n") - F.col("n2")).cast("long").alias("suffix_tokens"),
            F.md5(
                F.concat(
                    F.lit("<PRE>"),
                    F.col("pre"),
                    F.lit("<SUF>"),
                    F.col("suf"),
                    F.lit("<MID>"),
                    F.col("mid"),
                )
            ).alias("psm_md5"),
        )
        .coalesce(1)
        .sortWithinPartitions("doc_id")
    )


_BATCH_BUDGET = 2048
_LEN_BUCKETS = (16, 32, 64, 128, 256, 512, 1024)


@query(
    "length_bucketed_batching",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, len({_TOKS}) AS n FROM documents
      WHERE len({_TOKS}) > 0
    ),
    bucketed AS (
      SELECT doc_id, n,
             CASE {' '.join(f'WHEN n <= {b} THEN {b}' for b in _LEN_BUCKETS)}
                  ELSE {_LEN_BUCKETS[-1] * 2} END AS bucket_width
      FROM base
    ),
    seq AS (
      SELECT doc_id, n, bucket_width,
             row_number() OVER (PARTITION BY bucket_width
                                ORDER BY doc_id) - 1 AS rn,
             greatest({_BATCH_BUDGET} // bucket_width, 1) AS cap
      FROM bucketed
    )
    SELECT CAST(bucket_width AS BIGINT) AS bucket_width,
           CAST(rn // cap AS BIGINT) AS batch_idx,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS real_tokens,
           CAST(count(*) * bucket_width AS BIGINT) AS padded_tokens,
           CAST(((count(*) * bucket_width - sum(n)) * 1000000
                 + (count(*) * bucket_width) // 2)
                // (count(*) * bucket_width) AS BIGINT) AS waste_ppm
    FROM seq
    GROUP BY bucket_width, rn // cap
    ORDER BY bucket_width, batch_idx
    """,
    tags=("trainprep", "batching"),
)
def length_bucketed_batching(spark: SparkSession, sf_dir: str):
    """Length-bucketed dynamic batching plan — the padding-waste killer
    every training stack runs between packing strategies: docs route to
    power-of-two length buckets (integer threshold CASE — no float log2,
    whose cross-engine ulp at exact powers of two flips ceil()), each
    bucket fills fixed-token-budget batches (capacity = budget // width)
    in deterministic doc_id order, and every batch reports real vs padded
    tokens and exact-ppm padding waste. The per-batch waste table is what
    a 100-TB scheduler consumes to choose bucket boundaries; the whole
    assignment is one narrow pass + one per-bucket window."""
    toks = F.split(
        F.trim(
            F.regexp_replace(
                F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " "
            )
        ),
        " ",
    )
    base = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.filter(toks, lambda x: x != "")).alias("n"),
        )
        .where(F.col("n") > 0)
    )
    bucket = F.lit(_LEN_BUCKETS[-1] * 2)
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(F.col("n") <= b, F.lit(b)).otherwise(bucket)
    bucketed = base.select("doc_id", "n", bucket.alias("bucket_width"))
    w = Window.partitionBy("bucket_width").orderBy("doc_id")
    seq = bucketed.select(
        "doc_id",
        "n",
        "bucket_width",
        (F.row_number().over(w) - 1).alias("rn"),
        F.greatest(
            F.floor(F.lit(_BATCH_BUDGET) / F.col("bucket_width")).cast("int"),
            F.lit(1),
        ).alias("cap"),
    )
    return (
        seq.groupBy(
            "bucket_width", F.floor(F.col("rn") / F.col("cap")).alias("batch_idx")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n").cast("long").alias("real_tokens"),
        )
        .select(
            F.col("bucket_width").cast("long").alias("bucket_width"),
            F.col("batch_idx").cast("long").alias("batch_idx"),
            "n_docs",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_width"))
            .cast("long")
            .alias("padded_tokens"),
            rounded_div_col(
                (F.col("n_docs") * F.col("bucket_width") - F.col("real_tokens"))
                * 1_000_000,
                F.col("n_docs") * F.col("bucket_width"),
            ).alias("waste_ppm"),
        )
        .coalesce(1)
        .sortWithinPartitions("bucket_width", "batch_idx")
    )


_N_EPOCHS = 3


@query(
    "epoch_shuffle_plan",
    oracle=f"""
    WITH d AS (SELECT doc_id FROM documents),
    k AS (
      SELECT doc_id, e AS epoch,
             {DUCKDB_HASH60.format(s="doc_id::VARCHAR || ':' || e::VARCHAR")} AS k
      FROM d, unnest(range({_N_EPOCHS})) t(e)
    ),
    r AS (
      SELECT epoch, doc_id,
             row_number() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS rank
      FROM k
    ),
    r0 AS (SELECT doc_id, rank AS rank0 FROM r WHERE epoch = 0)
    SELECT CAST(r.epoch AS BIGINT) AS epoch,
           CAST(sum(r.rank * r.doc_id) AS BIGINT) AS order_checksum,
           CAST(sum(abs(r.rank - r0.rank0)) AS BIGINT) AS footrule_vs_epoch0,
           CAST(min_by(r.doc_id, r.rank) AS BIGINT) AS first_doc_id
    FROM r JOIN r0 USING (doc_id)
    GROUP BY r.epoch ORDER BY epoch
    """,
    tags=("trainprep", "shuffle", "epochs"),
)
def epoch_shuffle_plan(spark: SparkSession, sf_dir: str):
    """Deterministic per-epoch global shuffle plan — multi-epoch training
    must visit the corpus in a DIFFERENT order each epoch (same-order
    epochs correlate gradient noise) while staying reproducible and
    cheap: order key = portable_hash(doc_id ':' epoch), so any worker can
    recompute its slice without a stored permutation. Graded per epoch by
    the full permutation's checksum (sum rank*doc_id — order-sensitive),
    the Spearman footrule displacement vs epoch 0 (0 for epoch 0, large
    for the rest — the 'orders actually differ' fact), and the stream
    head. At 100 TB the rank window becomes sortWithinPartitions over
    range-sharded output files (range_partitioned_shards); the hash-key
    construction — the part that must be deterministic — is identical."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(_N_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = docs.crossJoin(epochs).withColumn(
        "k",
        portable_hash60(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("epoch").cast("string"),
            )
        ),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    ranked = keyed.select(
        "epoch", "doc_id", F.row_number().over(w).alias("rank")
    )
    r0 = ranked.where(F.col("epoch") == 0).select(
        "doc_id", F.col("rank").alias("rank0")
    )
    return (
        ranked.join(r0, "doc_id")
        .groupBy("epoch")
        .agg(
            F.sum(F.col("rank") * F.col("doc_id"))
            .cast("long")
            .alias("order_checksum"),
            F.sum(F.abs(F.col("rank") - F.col("rank0")))
            .cast("long")
            .alias("footrule_vs_epoch0"),
            F.min_by("doc_id", "rank").cast("long").alias("first_doc_id"),
        )
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            "order_checksum",
            "footrule_vs_epoch0",
            "first_doc_id",
        )
        .coalesce(1)
        .sortWithinPartitions("epoch")
    )


# ---------------------------------------------------------------------------
# Quality-upsampling epoch plan (FineWeb/DeepSeek-style repeat manifest)
# ---------------------------------------------------------------------------

_UPS_BUDGET_TOKENS = 1_000_000  # global token budget the sampler scales into


def _upsample_oracle() -> str:
    from llm_data_pipeline_spark.queries_text import (
        QUALITY_DECILE_SQL,
        TEXT_BASE_SQL,
    )

    scale = rounded_div_sql(
        f"({_UPS_BUDGET_TOKENS}::BIGINT * 1000000)", "t.total_upsampled"
    )
    return f"""
    WITH {TEXT_BASE_SQL.strip()},
    q AS (
      SELECT doc_id, n_tok,
             {QUALITY_DECILE_SQL} AS decile
      FROM feat
    ),
    e AS (
      SELECT decile, n_tok,
             CASE WHEN decile >= 9 THEN 4 WHEN decile = 8 THEN 3
                  WHEN decile = 7 THEN 2 ELSE 1 END AS epochs
      FROM q
    ),
    g AS (
      SELECT decile, CAST(epochs AS INT) AS epochs,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS base_tokens,
             CAST(sum(n_tok) * epochs AS BIGINT) AS upsampled_tokens
      FROM e GROUP BY decile, epochs
    ),
    t AS (SELECT CAST(sum(upsampled_tokens) AS BIGINT) AS total_upsampled
          FROM g)
    SELECT g.decile, g.epochs, g.n_docs, g.base_tokens, g.upsampled_tokens,
           t.total_upsampled,
           CAST(least(1000000, {scale}) AS BIGINT) AS budget_scale_ppm
    FROM g, t
    ORDER BY g.decile
    """


@query(
    "quality_upsample_epochs",
    oracle=_upsample_oracle(),
    tags=("trainprep", "sampling", "quality", "mixing"),
)
def quality_upsample_epochs(spark: SparkSession, sf_dir: str):
    """The epoch-upsampling manifest modern pretraining mixes run on
    (FineWeb-Edu / DeepSeek recipe: repeat the highest-quality strata up
    to 4 epochs, everything else once): per quality-score decile, doc and
    token mass, the repeat factor (9th decile x4, 8th x3, 7th x2, else
    x1), the upsampled token mass, and the uniform budget_scale_ppm a
    sampler multiplies every stratum by so the plan lands exactly on the
    global token budget (scale is capped at 1.0 — the plan never
    up-scales beyond the policy). Deciles come from the INTEGER-ppm form
    of the graded scorer (with_quality_ppm / queries_text.
    QUALITY_DECILE_SQL — same four terms as text_quality_scores, each an
    exact rounded integer division), so bin edges are cross-engine exact
    and the plan can never drift from the scorer it claims to stratify.
    One corpus scan, one 10-row groupBy —
    at 100 TB the plan is a dashboard artifact, the sampler applies it
    as a broadcast map."""
    from llm_data_pipeline_spark.functions.analysis import tokens, with_quality_ppm

    docs = table(spark, sf_dir, "documents", scatter=True)
    # decile from the INTEGER-ppm score (with_quality_ppm) — the float
    # composite floors to different deciles across engines within one ULP
    # of a bin edge; q_ppm div 100000 is exact on both
    scored = with_quality_ppm(docs).select(
        "doc_id",
        F.size(tokens(F.coalesce(F.col("text"), F.lit("")))).cast("long")
        .alias("n_tok"),
        F.least(
            F.expr("q_ppm div 100000").cast("int"), F.lit(9)
        ).alias("decile"),
    )
    e = scored.withColumn(
        "epochs",
        F.when(F.col("decile") >= 9, 4)
        .when(F.col("decile") == 8, 3)
        .when(F.col("decile") == 7, 2)
        .otherwise(1)
        .cast("int"),
    )
    g = e.groupBy("decile", "epochs").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("base_tokens"),
        (F.sum("n_tok") * F.col("epochs")).cast("long").alias(
            "upsampled_tokens"
        ),
    )
    t = g.agg(
        F.sum("upsampled_tokens").cast("long").alias("total_upsampled")
    )
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "epochs",
            "n_docs",
            "base_tokens",
            "upsampled_tokens",
            "total_upsampled",
            F.least(
                F.lit(1_000_000).cast("long"),
                rounded_div_col(
                    F.lit(_UPS_BUDGET_TOKENS * 1_000_000).cast("long"),
                    F.col("total_upsampled"),
                ),
            )
            .cast("long")
            .alias("budget_scale_ppm"),
        )
        .coalesce(1)
        .sortWithinPartitions("decile")
    )


# ---------------------------------------------------------------------------
# Window reconstruction: the losslessness contract of the window export
# ---------------------------------------------------------------------------

_W_OVL = _WIN - _STRIDE  # 64-char overlap between consecutive windows


@query(
    "window_overlap_reconstruct",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS t, length({_NORM}) AS len
      FROM documents WHERE length({_NORM}) > 0
    ),
    wins AS (
      SELECT doc_id, t, i AS win_id,
             substr(t, i * {_STRIDE} + 1, {_WIN}) AS wt
      FROM base,
           unnest(range({_WIN_COUNT_SQL})) u(i)
    ),
    recon AS (
      SELECT doc_id, any_value(t) AS t,
             CAST(count(*) AS BIGINT) AS n_windows,
             string_agg(CASE WHEN win_id = 0 THEN wt
                        ELSE substr(wt, {_W_OVL} + 1) END, ''
                        ORDER BY win_id) AS rt
      FROM wins GROUP BY doc_id
    )
    SELECT doc_id, n_windows,
           md5(t) AS orig_md5, md5(rt) AS recon_md5,
           CAST(CASE WHEN t = rt THEN 1 ELSE 0 END AS INT) AS lossless
    FROM recon
    ORDER BY doc_id
    """,
    tags=("trainprep", "windowing", "roundtrip"),
)
def window_overlap_reconstruct(spark: SparkSession, sf_dir: str):
    """The losslessness contract of the sliding-window export, graded —
    the windowing twin of tokenize_decode_roundtrip: rebuild every
    document from its doc_sliding_windows output (window 0 verbatim, each
    later window contributes only its chars past the {_W_OVL}-char
    overlap) and pin recon == original by md5 per doc. Sound because the
    tail window is always LONGER than the overlap (from the count formula
    len - (n-1)*stride > win - stride), so no window is pure overlap —
    the property this query makes a graded fact instead of a comment.
    Any consumer that dedups, filters, or re-orders windows and then
    reconstitutes documents (long-context packing, span-dedup rewrite
    over windows) silently depends on this. One groupBy(doc_id) over the
    window set; the rebuild is per-doc bounded."""
    from llm_data_pipeline_spark.functions.text import norm_ws

    docs = table(spark, sf_dir, "documents", scatter=True)
    base = docs.select(
        "doc_id", norm_ws(F.col("text")).alias("t")
    ).withColumn("len", F.length("t")).where(F.col("len") > 0)
    n_wins = _n_wins_col()
    wins = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_wins.cast("long") - 1)).alias(
            "win_id"
        ),
    ).select(
        "doc_id",
        "t",
        F.col("win_id").cast("long").alias("win_id"),
        F.substring(
            F.col("t"), (F.col("win_id") * _STRIDE + 1).cast("int"), _WIN
        ).alias("wt"),
    )
    recon = wins.groupBy("doc_id").agg(
        F.any_value(F.col("t")).alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("win_id", "wt"))
                ),
                lambda s: F.when(
                    s["win_id"] == 0, s["wt"]
                ).otherwise(F.substring(s["wt"], _W_OVL + 1, _WIN)),
            ),
            "",
        ).alias("rt"),
    )
    return recon.select(
        "doc_id",
        "n_windows",
        F.md5("t").alias("orig_md5"),
        F.md5("rt").alias("recon_md5"),
        (F.col("t") == F.col("rt")).cast("int").alias("lossless"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# T5-style span corruption (deterministic block-scheme masking)
# ---------------------------------------------------------------------------

_T5_BLOCK = 20  # positions per block
_T5_START_MOD = 16  # span start offset in [0, 16)
_T5_HASH = DUCKDB_HASH60.format(
    s="('t5v1:' || doc_id::VARCHAR || ':' || (i // 20)::VARCHAR)"
)


@query(
    "t5_span_corruption",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
      WHERE len({_TOKS}) > 0
    ),
    marked AS (
      SELECT doc_id, len(toks) AS n_tokens,
             list_transform(range(len(toks)), i -> struct_pack(
               tok := toks[i + 1],
               off := i % {_T5_BLOCK},
               b := i // {_T5_BLOCK},
               strt := {_T5_HASH} % {_T5_START_MOD},
               ln := 2 + (({_T5_HASH} // {_T5_START_MOD}) % 3)
             )) AS m
      FROM toked
    ),
    rendered AS (
      SELECT doc_id, n_tokens,
             CAST(len(list_filter(m, x ->
               x.off >= x.strt AND x.off < x.strt + x.ln)) AS BIGINT)
               AS n_masked,
             array_to_string(list_filter(list_transform(m, x ->
               CASE WHEN x.off = x.strt
                      THEN '<extra_id_' || x.b::VARCHAR || '>'
                    WHEN x.off > x.strt AND x.off < x.strt + x.ln
                      THEN NULL
                    ELSE x.tok END), x -> x IS NOT NULL), ' ')
               AS input_text,
             array_to_string(list_filter(list_transform(m, x ->
               CASE WHEN x.off = x.strt
                      THEN '<extra_id_' || x.b::VARCHAR || '> ' || x.tok
                    WHEN x.off > x.strt AND x.off < x.strt + x.ln
                      THEN x.tok
                    ELSE NULL END), x -> x IS NOT NULL), ' ')
               AS target_text
      FROM marked
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, n_masked,
           CAST({rounded_div_sql("(n_masked * 1000000)", "n_tokens")}
                AS BIGINT) AS mask_ppm,
           -- DuckDB array_to_string([]) is NULL where Spark's is ''
           md5(coalesce(input_text, '')) AS input_md5,
           md5(coalesce(target_text, '')) AS target_md5
    FROM rendered
    ORDER BY doc_id
    """,
    tags=("trainprep", "masking", "seq2seq"),
)
def t5_span_corruption(spark: SparkSession, sf_dir: str):
    """T5/UL2-style span corruption (Raffel et al. 2020) as a
    deterministic, replayable block scheme: positions partition into
    {_T5_BLOCK}-token blocks; each (doc, block) hash picks a span start
    in [0,{_T5_START_MOD}) and length in {{2,3,4}} (mean 3/{_T5_BLOCK} =
    the paper's ~15% corruption rate); the span becomes one
    '<extra_id_b>' sentinel in the INPUT and 'sentinel + dropped tokens'
    in the TARGET — the seq2seq denoising twin of fim_training_examples.
    Block-local spans are non-overlapping by construction (start+len <=
    {_T5_BLOCK}), so no iterative conflict resolution exists to diverge
    between engines; both full rendered texts are graded by md5, plus
    the realized mask_ppm. Zero-shuffle narrow map (higher-order array
    fns; the per-position hash is md5 inside the lambda, JVM-side)."""
    from llm_data_pipeline_spark.functions.analysis import tokens

    docs = table(spark, sf_dir, "documents", scatter=True)
    toked = docs.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks")
    ).where(F.size("toks") > 0)

    def pos_struct(i):
        b = F.floor(i / _T5_BLOCK).cast("long")
        h = portable_hash60(
            F.concat(
                F.lit("t5v1:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                b.cast("string"),
            )
        )
        return F.struct(
            F.element_at(F.col("toks"), (i + 1).cast("int")).alias("tok"),
            (i % _T5_BLOCK).cast("long").alias("off"),
            b.alias("b"),
            (h % _T5_START_MOD).alias("strt"),
            # h div 16 as an exact bit shift (h is a 60-bit non-negative
            # long; double division would round above 2^53)
            (F.lit(2).cast("long") + F.shiftright(h, 4) % 3).alias("ln"),
        )

    marked = toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.transform(
            F.sequence(F.lit(0), F.size("toks") - 1), pos_struct
        ).alias("m"),
    )
    masked = lambda x: (x["off"] >= x["strt"]) & (x["off"] < x["strt"] + x["ln"])
    sentinel = lambda x: F.concat(
        F.lit("<extra_id_"), x["b"].cast("string"), F.lit(">")
    )
    input_tok = lambda x: (
        F.when(x["off"] == x["strt"], sentinel(x))
        .when(masked(x), F.lit(None).cast("string"))
        .otherwise(x["tok"])
    )
    target_tok = lambda x: (
        F.when(
            x["off"] == x["strt"],
            F.concat(sentinel(x), F.lit(" "), x["tok"]),
        )
        .when(masked(x), x["tok"])
        .otherwise(F.lit(None).cast("string"))
    )
    rendered = marked.select(
        "doc_id",
        "n_tokens",
        F.size(F.filter(F.col("m"), masked)).cast("long").alias("n_masked"),
        F.array_join(
            F.filter(
                F.transform(F.col("m"), input_tok), lambda x: x.isNotNull()
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.filter(
                F.transform(F.col("m"), target_tok), lambda x: x.isNotNull()
            ),
            " ",
        ).alias("target_text"),
    )
    return rendered.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        rounded_div_col(
            F.col("n_masked") * F.lit(1_000_000), F.col("n_tokens")
        )
        .cast("long")
        .alias("mask_ppm"),
        F.md5("input_text").alias("input_md5"),
        F.md5("target_text").alias("target_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Contrastive crop pairs (SimCSE/CLIP-style positive view construction)
# ---------------------------------------------------------------------------

_CROP_MIN_LEN = 80
_CROP_HASH = DUCKDB_HASH60.format(s="('crop-v1:' || doc_id::VARCHAR)")


@query(
    "contrastive_crop_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_NORM} AS t, length({_NORM}) AS len,
             {_CROP_HASH} AS h
      FROM documents WHERE length({_NORM}) >= {_CROP_MIN_LEN}
    ),
    crops AS (
      SELECT doc_id, len,
             1 + (h % 8) AS a_start,
             48 + ((h // 8) % 16) AS a_len,
             1 + ((h // 128) % 8) + 16 AS b_start,
             48 + ((h // 1024) % 16) AS b_len,
             t
      FROM base
    ),
    rendered AS (
      SELECT doc_id,
             substr(t, a_start, a_len) AS view_a,
             substr(t, b_start, b_len) AS view_b,
             a_start, a_len, b_start, b_len
      FROM crops
    )
    SELECT doc_id,
           md5(view_a) AS view_a_md5,
           md5(view_b) AS view_b_md5,
           CAST(length(view_a) AS BIGINT) AS a_chars,
           CAST(length(view_b) AS BIGINT) AS b_chars,
           CAST(greatest(least(a_start + a_len, b_start + b_len)
                         - greatest(a_start, b_start), 0) AS BIGINT)
             AS overlap_chars
    FROM rendered
    ORDER BY doc_id
    """,
    tags=("trainprep", "contrastive", "augmentation"),
)
def contrastive_crop_pairs(spark: SparkSession, sf_dir: str):
    """Positive-pair construction for contrastive embedding pretraining
    (SimCSE/CLIP-style random-crop views, deterministic-by-seed): per
    sufficiently long doc, two hash-derived crops — view A from the doc
    head (start 1-8, length 48-63), view B shifted right (start 17-24) so
    the pair shares SOME content but not all — plus the exact character
    overlap of the two ranges, the signal dataset builders watch (too
    much overlap = trivial positives, zero overlap = false positives).
    Both view texts md5-graded; crop geometry pure integer arithmetic off
    one portable hash (bit-sliced with integer // — never double
    division). Zero-shuffle narrow map."""
    docs = table(spark, sf_dir, "documents", scatter=True)
    from llm_data_pipeline_spark.functions.text import norm_ws

    base = docs.select(
        "doc_id", norm_ws(F.col("text")).alias("t")
    ).where(F.length("t") >= _CROP_MIN_LEN)
    h = portable_hash60(
        F.concat(F.lit("crop-v1:"), F.col("doc_id").cast("string"))
    )
    crops = base.select(
        "doc_id",
        "t",
        (F.lit(1) + h % 8).cast("int").alias("a_start"),
        (F.lit(48) + F.shiftright(h, 3) % 16).cast("int").alias("a_len"),
        (F.lit(17) + F.shiftright(h, 7) % 8).cast("int").alias("b_start"),
        (F.lit(48) + F.shiftright(h, 10) % 16).cast("int").alias("b_len"),
    )
    rendered = crops.select(
        "doc_id",
        F.expr("substr(t, a_start, a_len)").alias("view_a"),
        F.expr("substr(t, b_start, b_len)").alias("view_b"),
        "a_start",
        "a_len",
        "b_start",
        "b_len",
    )
    return rendered.select(
        "doc_id",
        F.md5("view_a").alias("view_a_md5"),
        F.md5("view_b").alias("view_b_md5"),
        F.length("view_a").cast("long").alias("a_chars"),
        F.length("view_b").cast("long").alias("b_chars"),
        F.greatest(
            F.least(
                F.col("a_start") + F.col("a_len"),
                F.col("b_start") + F.col("b_len"),
            )
            - F.greatest(F.col("a_start"), F.col("b_start")),
            F.lit(0),
        )
        .cast("long")
        .alias("overlap_chars"),
    ).orderBy("doc_id")
