"""Deduplication family beyond MinHash/LSH: SimHash, n-gram Jaccard, chunks.

These are the training-data dedup operators a 100 TB pipeline needs
(north-star extensions; the reference only ships MinHash+LSH):

- simhash          — 64-bit SimHash natively (token hashes -> per-bit
                     majority vote -> packed long), Hamming-ball candidate
                     pairs via 4x16-bit chunk banding (pigeonhole: any pair
                     within distance 3 shares at least one chunk).
- ngram_jaccard    — exact Jaccard similarity on word n-gram shingle sets
                     via explode + equi-join + group count (the
                     SQL-expressible exact near-dup used as the LSH oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_data_pipeline_spark.functions.text import norm_ws
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage

# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64_from_hashes(hashes: Column) -> Column:
    """Fold an ``array<long>`` of token hashes into the 64-bit SimHash.

    Unrolled over the 64 bit positions (shift amounts must be constants):
    bit i is set iff the majority of token hashes have bit i set. Bit 63's
    mask is the sign bit in two's complement. Empty array -> 0.

    Pass a *materialized column* (not an inline expression): expressions fed
    into the 64 filter lambdas are re-inlined per call site, so an inline
    ``transform(tokens, hash)`` would re-hash every token 64 times.
    """
    n = F.size(hashes)
    packed = F.lit(0).cast("long")
    for i in range(64):
        mask = (1 << i) if i < 63 else -(1 << 63)
        # NB: the lambda must take exactly ONE parameter — PySpark treats a
        # two-arg lambda as (element, index), so a `m=mask` default would be
        # silently overridden by the array index.
        cond = F.lit(mask).cast("long")
        bit_set = F.size(F.filter(hashes, lambda h: h.bitwiseAND(cond) != 0))
        packed = packed.bitwiseOR(
            F.when(bit_set * 2 >= n, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return F.when(n == 0, F.lit(0).cast("long")).otherwise(packed)


def token_hashes(text: Column, hash_fn=None) -> Column:
    """array<long> of hashes of the whitespace tokens of normalized text
    (a multiset — duplicates kept, SimHash weights repeated tokens)."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    tokens = F.filter(F.split(norm_ws(text), " "), lambda x: x != "")
    # wrapper lambda: builtins like xxhash64 are *args functions, which the
    # higher-order-function bridge rejects as lambda bodies
    return F.transform(tokens, lambda t: hash_fn(t))


def _simhash64_expr_sql(col_name: str) -> str:
    """The 64-bit majority fold as ONE SQL string over a named array
    column — semantically identical to :func:`simhash64_from_hashes`
    (same per-bit filter-count majority vote, same sign-bit handling via
    ``shiftleft(1L, 63)`` == Long.MIN_VALUE, same empty->0), but parsed
    by the JVM in a single round trip. Building the same tree through
    the Python Column API costs 64 x ~10 py4j round trips (~3 s of
    DRIVER time per query build at measured gateway latency); this is
    one ``F.expr`` call. Equivalence is pinned by the simhash oracle
    queries and tests/test_dedup.py."""
    n = f"size({col_name})"
    terms = []
    for i in range(64):
        mask = f"shiftleft(1L, {i})"
        terms.append(
            f"IF(size(filter({col_name}, h -> (h & {mask}) != 0)) * 2 "
            f">= {n}, {mask}, 0L)"
        )
    packed = " | ".join(terms)
    return f"IF({n} = 0, 0L, ({packed}))"


def add_simhash(df: DataFrame, text_col: str = "text", hash_fn=None) -> DataFrame:
    """Append ``simhash: long``. Two projections: the token-hash array is
    materialized first so the 64 majority-vote filters fold over a bound
    array instead of re-evaluating the hash transform per bit. The fold
    itself is emitted as one SQL string (see :func:`_simhash64_expr_sql`)
    so query BUILD time is one gateway round trip, not 64x10."""
    staged = df.withColumn("_th", token_hashes(F.col(text_col), hash_fn))
    return staged.withColumn(
        "simhash", F.expr(_simhash64_expr_sql("_th"))
    ).drop("_th")


def _simhash_chunks(df_sim: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash, chunk_id, chunk_val): the 4 disjoint 16-bit
    chunks of each signature — the banding key simhash_candidate_pairs
    joins on and simhash_chunk_stats audits."""
    return df_sim.select(
        F.col(id_col).alias("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), c * 16).bitwiseAND(
                        F.lit(0xFFFF).cast("long")
                    )
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )


def simhash_chunk_stats(
    df_sim: DataFrame, bucket_cap: int = 500, id_col: str = "doc_id"
) -> DataFrame:
    """Per-chunk audit of the SimHash banding cap — the "no silent caps"
    rule applied to simhash_candidate_pairs' mega-bucket guard, the exact
    twin of lsh.band_bucket_stats for the 16-bit-chunk banding: per
    chunk_id, over buckets with >= 2 members, how many buckets the cap
    dropped, the docs and n*(n-1)/2 candidate pairs lost, what survived,
    and the largest bucket seen (the degenerate-chunk fingerprint — e.g.
    every empty doc sharing simhash 0 collides in all four chunks).
    Implemented BY band_bucket_stats over the fused (chunk_id, chunk_val)
    key — same map-side-combinable count aggregate, one narrow pass over
    the chunk rows, never touches documents."""
    from llm_data_pipeline_spark.operators.lsh import band_bucket_stats

    chunks = _simhash_chunks(df_sim, id_col).select(
        F.col("chunk_id").alias("band_id"),
        F.col("chunk_val").alias("band_hash"),
        "doc_id",
    )
    return band_bucket_stats(chunks, bucket_cap).withColumnRenamed(
        "band_id", "chunk_id"
    )


def simhash_candidate_pairs(
    df_sim: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    bucket_cap: int | None = 500,
) -> DataFrame:
    """Candidate pairs with Hamming(simhash) <= max_hamming.

    Banding on 4 disjoint 16-bit chunks: a pair within Hamming distance 3
    must agree exactly on >= 1 chunk (pigeonhole), so the equi-join on
    (chunk_id, chunk_value) finds all such pairs; the exact Hamming filter
    afterwards removes false positives. Same skew guard as LSH buckets;
    ``bucket_cap=None`` disables the cap, making the pigeonhole recall
    exact (used by the oracle-graded query, where DuckDB computes the
    all-pairs ground truth).
    """
    chunks = _simhash_chunks(df_sim, id_col)
    if bucket_cap is None:
        sized = chunks
    else:
        sized = chunks.withColumn(
            "bucket_n", F.count("*").over(Window.partitionBy("chunk_id", "chunk_val"))
        ).where(F.col("bucket_n") <= bucket_cap)
    left = sized.select(
        "chunk_id", "chunk_val", F.col("doc_id").alias("u"), F.col("simhash").alias("sim_u")
    )
    right = sized.select(
        "chunk_id", "chunk_val", F.col("doc_id").alias("v"), F.col("simhash").alias("sim_v")
    )
    return (
        left.join(right, ["chunk_id", "chunk_val"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v", "sim_u", "sim_v")
        .dropDuplicates(["u", "v"])
        .withColumn(
            "hamming", F.bit_count(F.col("sim_u").bitwiseXOR(F.col("sim_v")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("u", "v", "hamming")
    )


# ---------------------------------------------------------------------------
# word n-gram Jaccard (exact)
# ---------------------------------------------------------------------------


def _shingled_docs(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, sh, n_sh): sorted distinct hashed word-n-gram shingles.

    Work on hashed shingles throughout: xxhash64 over the n-word tuple
    (no per-position string building — concat_ws(slice(...)) inside a
    transform costs O(n·len) allocations and dominated the stage), 8-byte
    join keys, and long-array intersects. The global order for prefix
    filtering is then numeric — any total order works. Tuple-hash equality
    == joined-string equality (tokens contain no separator).
    Materialize the token array in its own projection FIRST: expressions
    passed into higher-order lambdas are inlined per call site, so
    building shingles directly over filter(split(...)) re-tokenizes the
    document for every element_at — O(positions × n) tokenizations/doc.
    A column boundary forces one evaluation per row.
    """
    tokenized = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(norm_ws(F.col(text_col)), " "), lambda x: x != "").alias(
            "_toks"
        ),
    )
    toks = F.col("_toks")
    hashed = F.when(
        F.size(toks) < n, F.array(F.xxhash64(F.concat_ws(" ", toks)))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.xxhash64(
                *[F.element_at(toks, i + k + 1) for k in range(n)]
            ),
        )
    )
    return (
        tokenized.select(
            "doc_id", F.array_sort(F.array_distinct(hashed)).alias("sh")
        )
        .withColumn("n_sh", F.size("sh"))
        # reused three times (prefix explode + both verification sides).
        # localCheckpoint, not persist: this function returns lazily, so a
        # CacheManager entry could never be unpersisted and would pin
        # executor storage for the rest of the app; checkpoint blocks are
        # RDD-level and the ContextCleaner frees them once the result frame
        # is garbage-collected. eager=False defers the job to first action.
        .transform(cut_lineage, eager=False)
    )


def _verify_sides(
    docs: DataFrame, verify_broadcast_bytes: int
) -> tuple[DataFrame, DataFrame]:
    """(du, dv) verification sides of the doc->shingles map, broadcast when
    the BYTE estimate fits the budget. One eager aggregate job (it
    materializes the checkpoint every downstream branch reuses anyway)
    sizes the map in BYTES: 8 per hashed shingle + ~32 per row of
    array/offset/id overhead — not a row count, which under-gates for long
    documents. At 100 TB the estimate exceeds the budget and the join
    reverts to the shuffle plan, keyed by doc_id."""
    du = docs.select(F.col("doc_id").alias("u"), F.col("sh").alias("sh_u"))
    dv = docs.select(F.col("doc_id").alias("v"), F.col("sh").alias("sh_v"))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_sh"), F.lit(0)).alias("total_sh"),
    ).collect()[0]
    est_bytes = int(stats["total_sh"]) * 8 + int(stats["n_docs"]) * 32
    if est_bytes <= verify_broadcast_bytes:
        du, dv = F.broadcast(du), F.broadcast(dv)
    return du, dv


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_broadcast_bytes: int = 128 << 20,
) -> DataFrame:
    """Exact Jaccard-similar pairs (u < v, jaccard >= threshold) with
    prefix filtering (SSJoin/ppjoin family — lossless).

    Under one global order (numeric hash order here), jaccard(A,B) >= t
    implies |A∩B| >= t·|A| and >= t·|B|; hence the globally-minimum common
    shingle must sit inside BOTH sorted prefixes of length
    |X| - ceil(t·|X|) + 1 (were it outside A's prefix, all common shingles
    would fit in A's ceil(t·|A|)-1 suffix — contradiction). So candidates
    come from a self-join of the short prefixes only, then two lossless
    prunes run BEFORE any shingle array is shuffled:

    - **positional filter** (ppjoin): for the minimum common shingle at
      sorted positions (i, j), overlap <= 1 + min(|A|-1-i, |B|-1-j); the
      max of that bound over the matched prefix positions IS the bound for
      the minimum common element (smaller position => larger bound), so
      dropping pairs whose best bound < t·(|A|+|B|)/(1+t) (the overlap
      required for jaccard >= t) cannot lose a true pair.
    - the groupBy(u, v) computing the bound replaces the dedup-distinct the
      candidates needed anyway — no extra shuffle.

    Survivors are verified exactly once via array_intersect on the full
    sets. When the doc->shingles map is small enough, it is broadcast, so
    verification is a narrow map over candidates instead of two sort-merge
    shuffles of candidate rows with arrays attached (the checkpointed frame
    has no catalyst stats, so AQE alone never picks the broadcast). The
    bound is byte-aware — estimated array bytes (8·Σ|shingles| plus row
    overhead) vs ``verify_broadcast_bytes`` PER SIDE, because BOTH du and
    dv are full copies of the map — not a row count, which under-gates for
    long documents. At 100 TB the estimate exceeds the budget and the join
    reverts to the shuffle plan, keyed by doc_id.

    Note: deciding the strategy needs the corpus size, so building this
    frame runs one aggregate job eagerly (it doubles as materializing the
    checkpoint every downstream branch reuses; a lazy alternative would be
    a join hint deferred to AQE, which cannot see checkpoint stats).
    """
    docs = _shingled_docs(df, n, text_col, id_col)
    prefix_len = (
        F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1
    ).cast("int")
    pre = docs.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice("sh", 1, prefix_len)).alias("pos", "shingle"),
    )
    # overlap upper bound from this matched position pair: 1 + the number
    # of elements strictly after the match on the tighter side
    ub = F.lit(1) + F.least(
        F.col("a.n_sh") - 1 - F.col("a.pos"), F.col("b.n_sh") - 1 - F.col("b.pos")
    )
    cands = (
        pre.alias("a")
        .join(pre.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("u"),
            F.col("b.doc_id").alias("v"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
            ub.alias("ub"),
        )
        .groupBy("u", "v")
        .agg(F.max("ub").alias("ub"), F.max("na").alias("na"), F.max("nb").alias("nb"))
        # required overlap for jaccard >= t; overlap is an integer <= ub,
        # so ub < required  =>  jaccard < t (no ceil needed for losslessness)
        .where(
            F.col("ub")
            >= F.lit(threshold) * (F.col("na") + F.col("nb")) / F.lit(1.0 + threshold)
        )
        .select("u", "v")
    )
    du, dv = _verify_sides(docs, verify_broadcast_bytes)
    return (
        cands.join(du, "u")
        .join(dv, "v")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_u", "sh_v"))
            / F.size(F.array_union("sh_u", "sh_v")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("u", "v", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_broadcast_bytes: int = 128 << 20,
) -> DataFrame:
    """Exact ASYMMETRIC containment pairs: (inner, outer) with
    ``|S(inner) ∩ S(outer)| / |S(inner)| >= threshold`` over word-n-gram
    shingle sets — the doc-in-doc detector (quotes, excerpts,
    header-wrapped reposts) that symmetric Jaccard structurally misses
    when lengths differ (an excerpt at half length caps Jaccard at ~0.5
    but has containment 1.0).

    Prefix filtering adapts to the asymmetric bound (lossless): only the
    INNER side needs t·|S(inner)| common shingles, so under the global
    shingle order the minimum common shingle must sit in inner's
    (|S| - ceil(t·|S|) + 1)-prefix — the inner side explodes short
    prefixes, while the outer side explodes fully (no bound exists on the
    outer set's size). The ppjoin positional filter still applies: at the
    minimum common shingle's sorted positions (i, j),
    overlap <= 1 + min(|A|-1-i, |B|-1-j), and that bound must reach
    t·|S(inner)|. Survivors verify exactly once on the full sets via the
    same byte-gated broadcast as ngram_jaccard_pairs.

    Returns (inner_id, outer_id, n_common, n_inner, containment); both
    directions of a pair are evaluated independently.
    """
    docs = _shingled_docs(df, n, text_col, id_col)
    prefix_len = (
        F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1
    ).cast("int")
    pre_inner = docs.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice("sh", 1, prefix_len)).alias("pos", "shingle"),
    )
    full_outer = docs.select(
        "doc_id",
        "n_sh",
        F.posexplode("sh").alias("pos", "shingle"),
    )
    ub = F.lit(1) + F.least(
        F.col("a.n_sh") - 1 - F.col("a.pos"),
        F.col("b.n_sh") - 1 - F.col("b.pos"),
    )
    cands = (
        pre_inner.alias("a")
        .join(full_outer.alias("b"), "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("u"),
            F.col("b.doc_id").alias("v"),
            F.col("a.n_sh").alias("na"),
            ub.alias("ub"),
        )
        .groupBy("u", "v")
        .agg(F.max("ub").alias("ub"), F.max("na").alias("na"))
        # overlap is an integer <= ub; ub < t*|S(inner)| => containment < t
        .where(F.col("ub") >= F.lit(threshold) * F.col("na"))
        .select("u", "v")
    )
    du, dv = _verify_sides(docs, verify_broadcast_bytes)
    return (
        cands.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("inner_id"),
            F.col("v").alias("outer_id"),
            F.size(F.array_intersect("sh_u", "sh_v")).alias("n_common"),
            F.size("sh_u").alias("n_inner"),
        )
        .withColumn("containment", F.col("n_common") / F.col("n_inner"))
        .where(F.col("containment") >= threshold)
    )


def containment_pairs_incremental(
    base: DataFrame,
    increment: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_broadcast_bytes: int = 128 << 20,
) -> DataFrame:
    """Incremental containment screening (base x daily increment): is any
    NEW document an excerpt/quote of the existing corpus (or of another
    new document)? Only increment rows act as the INNER (contained) side —
    they alone explode containment prefixes; the outer side is
    base + increment exploded fully, keyed by shingle. The base is never
    self-joined and never prefix-exploded: at 100 TB yesterday's corpus
    contributes only its shingle inverted index to the band join, the
    same asymmetry as lsh.minhash_incremental_dedup_indexed. Returns the same
    (inner_id, outer_id, n_common, n_inner, containment) contract as
    containment_pairs restricted to inner ∈ increment.
    """
    inc_docs = _shingled_docs(increment, n, text_col, id_col)
    # shingle the union independently instead of unioning the two
    # checkpointed frames: a lazily-checkpointed child referenced both
    # inside a union and standalone trips Catalyst attribute resolution
    # (key-not-found on the checkpoint's exprIds)
    all_docs = _shingled_docs(
        base.select(id_col, text_col).unionByName(
            increment.select(id_col, text_col)
        ),
        n,
        text_col,
        id_col,
    )
    prefix_len = (
        F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1
    ).cast("int")
    pre_inner = inc_docs.select(
        "doc_id",
        "n_sh",
        F.posexplode(F.slice("sh", 1, prefix_len)).alias("pos", "shingle"),
    )
    full_outer = all_docs.select(
        "doc_id",
        "n_sh",
        F.posexplode("sh").alias("pos", "shingle"),
    )
    ub = F.lit(1) + F.least(
        F.col("a.n_sh") - 1 - F.col("a.pos"),
        F.col("b.n_sh") - 1 - F.col("b.pos"),
    )
    cands = (
        pre_inner.alias("a")
        .join(full_outer.alias("b"), "shingle")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("u"),
            F.col("b.doc_id").alias("v"),
            F.col("a.n_sh").alias("na"),
            ub.alias("ub"),
        )
        .groupBy("u", "v")
        .agg(F.max("ub").alias("ub"), F.max("na").alias("na"))
        .where(F.col("ub") >= F.lit(threshold) * F.col("na"))
        .select("u", "v")
    )
    du, _ = _verify_sides(inc_docs, verify_broadcast_bytes)
    _, dv = _verify_sides(all_docs, verify_broadcast_bytes)
    return (
        cands.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("inner_id"),
            F.col("v").alias("outer_id"),
            F.size(F.array_intersect("sh_u", "sh_v")).alias("n_common"),
            F.size("sh_u").alias("n_inner"),
        )
        .withColumn("containment", F.col("n_common") / F.col("n_inner"))
        .where(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# cross-document chunk dedup (RefinedWeb-style substring dedup, word chunks)
# ---------------------------------------------------------------------------


def doc_chunks_from_toks(toks: Column, chunk_words: int = 16) -> Column:
    """Non-overlapping word chunks (space-joined) of a token ARRAY.

    The last chunk keeps its ragged tail (slice clamps at the array end);
    empty docs yield an empty array. Pass a materialized column — an
    inline tokenize would re-run per chunk inside the transform lambda.
    """
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_words)).cast("int")
    return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(toks, i * chunk_words + 1, chunk_words)
            ),
        )
    )


def chunk_dup_stats(
    df: DataFrame,
    chunk_words: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cross-corpus chunk duplication stats.

    A chunk is duplicated when its exact text occurs anywhere else in the
    corpus (other docs or repeated within the same doc). Returns
    (doc_id, n_chunks, n_dup, dup_frac) — dup_frac an exact int/int
    division. Docs with no chunks report (0, 0, 0.0).

    Scale shape: explode -> count by chunk -> re-aggregate by doc. Chunks
    shuffle by their own value (high cardinality, naturally balanced) and
    then by doc_id; nothing is ever collected. This is the word-chunk
    adaptation of suffix-array substring dedup (RefinedWeb §3.3) — exact
    for fixed chunk boundaries, embarrassingly shuffle-parallel, and the
    per-doc fractions feed the same keep/drop cascade the reference's
    dedup stage emits.
    """
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(norm_ws(F.col(text_col)), " "), lambda x: x != "").alias(
            "_toks"
        ),
    )
    chunks = toked.select(
        "doc_id",
        F.explode_outer(doc_chunks_from_toks(F.col("_toks"), chunk_words)).alias(
            "chunk"
        ),
    )
    global_counts = (
        chunks.where(F.col("chunk").isNotNull())
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per_doc = (
        chunks.join(global_counts, "chunk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("chunk")).alias("n_chunks"),
            F.sum(
                F.when(F.col("_n") > 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_dup").cast("long").alias("n_dup"),
        F.when(
            F.col("n_chunks") > 0,
            F.col("n_dup").cast("double") / F.col("n_chunks").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def remove_duplicated_chunks(
    df: DataFrame,
    chunk_words: int = 16,
    max_occurrences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """Cross-corpus duplicated-span REMOVAL (the rewrite step on top of
    chunk_dup_stats' detection): every word chunk whose exact text occurs
    more than ``max_occurrences`` times in the corpus is removed from
    every document, and the text is rebuilt from the kept chunks in
    position order. This is the boilerplate-stripping shape of
    RefinedWeb-style exact substring dedup (fixed chunk boundaries) —
    repeated headers/footers/navigation vanish corpus-wide.

    Returns (id, n_chunks, n_removed, out_col). Scale shape: posexplode
    -> count by chunk value (high cardinality, naturally balanced) ->
    anti-join against the over-limit chunk set -> re-aggregate by doc
    with an ordered rebuild (collect_list of (pos, chunk) structs,
    array_sort, concat) — two value-keyed shuffles and one doc-keyed
    shuffle, nothing collected.
    """
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(F.split(norm_ws(F.col(text_col)), " "), lambda x: x != "").alias(
            "_toks"
        ),
    )
    chunks = toked.select(
        "doc_id",
        F.posexplode_outer(
            doc_chunks_from_toks(F.col("_toks"), chunk_words)
        ).alias("pos", "chunk"),
    )
    over_limit = (
        chunks.where(F.col("chunk").isNotNull())
        .groupBy("chunk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_occurrences)
        .select("chunk")
    )
    kept = chunks.where(F.col("chunk").isNotNull()).join(
        over_limit, "chunk", "left_anti"
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("chunk")))
                ),
                lambda s: s["chunk"],
            ),
        ).alias(out_col),
    )
    totals = chunks.groupBy("doc_id").agg(
        F.count(F.col("chunk")).alias("n_chunks")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            (
                F.col("n_chunks") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        )
    )


# ---------------------------------------------------------------------------
# sliding-window duplicated-SPAN removal (alignment-insensitive)
# ---------------------------------------------------------------------------


def remove_duplicated_spans(
    df: DataFrame,
    window_words: int = 8,
    max_occurrences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """Exact duplicated-substring removal with stride-1 word windows —
    the alignment-INSENSITIVE upgrade of :func:`remove_duplicated_chunks`.

    Fixed chunk boundaries miss a duplicate that starts mid-chunk (a
    boilerplate header behind a per-doc prefix shifts every chunk). Here
    every w-word window (stride 1) is counted corpus-wide; windows
    occurring more than ``max_occurrences`` times mark their token range
    [start, start+w) as duplicated, per-doc overlapping/adjacent ranges
    merge into maximal spans (islands-and-gaps over a window function),
    covered tokens are dropped, and the text is rebuilt from the
    survivors in position order. This is the word-level analog of
    suffix-array exact substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): any duplicated run of
    >= w words is removed wherever it sits.

    Returns (id, n_tokens, n_removed, n_spans, out_col).

    Scale shape: stride-1 windows cost w rows per token versus the
    chunk variant's 1/c — the price of alignment insensitivity (the
    suffix-array original pays the same linear blowup in its suffix
    table). All shuffles are value- or doc-keyed: window-value count
    (high cardinality, naturally balanced), a semi-join of window rows
    against the over-limit set, one per-doc window-function pass over
    dup STARTS only (bounded by dup density, not corpus size), and the
    doc-keyed rebuild. Nothing is collected.
    """
    w = int(window_words)
    toked = _span_tokenize(df, text_col, id_col)
    wins = _span_windows(toked, w)
    over_limit = (
        wins.groupBy("win")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_occurrences)
        .select("win")
    )
    starts = wins.join(over_limit, "win", "left_semi").select("doc_id", "start")
    return _strip_spans(toked, starts, w, id_col, out_col)


def _span_tokenize(
    df: DataFrame, text_col: str, id_col: str, checkpoint: bool = True
) -> DataFrame:
    """(doc_id, _toks); text is null-coalesced so null rows behave like
    empty docs (n_tokens 0, not NULL). ``checkpoint`` adds the lazy
    localCheckpoint for the dual-consumer case (window pass + positional
    rebuild); pass False when the tokenization is consumed once (the
    base side of the incremental operator) — materializing a corpus-
    sized token copy for zero reuse is the repo's measured checkpoint
    anti-pattern."""
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            F.split(norm_ws(F.coalesce(F.col(text_col), F.lit(""))), " "),
            lambda x: x != "",
        ).alias("_toks"),
    )
    return out.transform(cut_lineage, eager=False) if checkpoint else out


def _span_windows(toked: DataFrame, w: int) -> DataFrame:
    """(doc_id, start, win): every stride-1 w-word window as a string."""
    return toked.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("_toks") < w, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - w),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, w)),
                )
            )
        ).alias("start", "win"),
    )


def _strip_spans(
    toked: DataFrame, starts: DataFrame, w: int, id_col: str, out_col: str
) -> DataFrame:
    """Merge dup-window ``starts`` into maximal spans (islands-and-gaps),
    drop covered tokens, rebuild text in position order. Shared tail of
    the full and incremental span-dedup operators."""
    prev = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    prev_end = F.max(F.col("start") + F.lit(w)).over(prev)
    flagged = starts.select(
        "doc_id",
        "start",
        (prev_end.isNull() | (F.col("start") > prev_end))
        .cast("int")
        .alias("_newi"),
    )
    spans = (
        flagged.select(
            "doc_id", "start", F.sum("_newi").over(run).alias("_island")
        )
        .groupBy("doc_id", "_island")
        .agg(
            F.min("start").alias("b"),
            (F.max("start") + F.lit(w)).alias("e"),
        )
    )
    covered = spans.select(
        "doc_id", F.explode(F.sequence(F.col("b"), F.col("e") - 1)).alias("p")
    )
    tokpos = toked.select(
        "doc_id", F.posexplode("_toks").alias("p", "tok")
    )
    rebuilt = (
        tokpos.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("p"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias(out_col),
        )
    )
    n_spans = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    totals = toked.select("doc_id", F.size("_toks").alias("n_tokens"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .join(n_spans, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (
                F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
        )
    )


def remove_duplicated_spans_incremental(
    base: DataFrame,
    new: DataFrame,
    window_words: int = 8,
    max_occurrences: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """Incremental duplicated-span removal — the continuous-ingest form
    of :func:`remove_duplicated_spans`: only ``new`` (today's increment)
    is rewritten. A window in a new doc is duplicated when its exact
    text occurs ANYWHERE in ``base`` (the already-published corpus — one
    occurrence there suffices) or more than ``max_occurrences`` times
    within the increment itself.

    Scale contract (mirrors lsh.minhash_incremental_dedup_indexed's band-index
    shape): the base participates ONLY through its distinct window-value set
    — at 100 TB that set is a precomputed, value-bucketed index that the
    daily run semi-joins against; the base corpus itself is never
    re-tokenized, re-shuffled, or rewritten here. The increment pays the
    same stride-1 window cost as the full operator, but only over the day's
    data.
    """
    w = int(window_words)
    toked_new = _span_tokenize(new, text_col, id_col)
    wins_new = _span_windows(toked_new, w)
    base_wins = (
        _span_windows(_span_tokenize(base, text_col, id_col, checkpoint=False), w)
        .select("win")
        .distinct()
    )
    new_over = (
        wins_new.groupBy("win")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > max_occurrences)
        .select("win")
    )
    dup_vals = base_wins.unionByName(new_over).distinct()
    starts = wins_new.join(dup_vals, "win", "left_semi").select(
        "doc_id", "start"
    )
    return _strip_spans(toked_new, starts, w, id_col, out_col)


def prefix_dup_pairs(
    df: DataFrame,
    min_prefix: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Strict-prefix duplicate pairs: (u, v) where u's whole text is a
    proper prefix of v's — the crawl-truncation artifact class (the same
    page fetched with different byte caps), which Jaccard/containment
    screens under-weight when the truncation is early.

    Candidate generation is an equi-join on the first ``min_prefix``
    normalized characters (a block key, never an n^2 comparison): if u is
    a prefix of v and len(u) >= min_prefix, both share the identical
    16-char block key. Within a block, verification is one startswith on
    the shorter side. Pairs with len(u) < min_prefix are out of contract
    (a sub-16-char "document" prefixing another is noise, and its block
    key could not match anyway) — the bound is explicit, not silent.

    At 100 TB: the block key is as selective as a hash prefix (16 chars of
    normalized text), so blocks are tiny except for true boilerplate
    families. Full text never rides the full-corpus shuffle: a metadata
    pass ((key) only) finds the multi-member blocks first, the (small)
    multi-block key set broadcasts back as a semi-join filter, and only
    the surviving candidate rows' text enters the verify self-join —
    the size-prefilter shape candidate_pairs uses. Returns
    (u, v, u_len, v_len).
    """
    t = norm_ws(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("_id"),
        t.alias("_t"),
        F.length(t).alias("_len"),
    ).where(F.col("_len") >= min_prefix)
    keyed = base.withColumn("_key", F.substring("_t", 1, min_prefix))
    # multi-member block keys only — singleton blocks (the overwhelming
    # majority under a 16-char key) can't form a pair, so their text must
    # not pay the verify-join exchange; the aggregate itself shuffles just
    # the key column, and the result (bounded by the duplicate-family
    # count) broadcasts
    multi = (
        keyed.groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= 2)
        .select("_key")
    )
    cand = keyed.join(F.broadcast(multi), "_key", "left_semi")
    a = cand.select(
        F.col("_key"),
        F.col("_id").alias("u"),
        F.col("_t").alias("_ut"),
        F.col("_len").alias("u_len"),
    )
    b = cand.select(
        F.col("_key"),
        F.col("_id").alias("v"),
        F.col("_t").alias("_vt"),
        F.col("_len").alias("v_len"),
    )
    return (
        a.join(b, "_key")
        .where(
            (F.col("u_len") < F.col("v_len"))
            & F.col("_vt").startswith(F.col("_ut"))
        )
        .select("u", "v", "u_len", "v_len")
    )
