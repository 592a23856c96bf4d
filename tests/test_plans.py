"""Physical-plan regression guards (SURVEY.md §4): the properties that keep
queries fast at 100 TB are asserted here so they can't silently regress.

- dimension joins must be BroadcastHashJoin (no shuffle of the fact table
  beyond its aggregation);
- projections must prune the scan (ReadSchema contains only used columns);
- no plan may contain a cartesian / nested-loop join.
"""

from __future__ import annotations

import pytest

from llm_data_pipeline_spark.plans import inspect as I
from llm_data_pipeline_spark.queries import REGISTRY, load_all

load_all()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def build(name):
        return REGISTRY[name].fn(spark, sf_dir)

    return build


def test_scan_pruning_clean_judge(q):
    df = q("clean_judge")
    schemas = I.scan_read_schemas(df)
    assert schemas, "no parquet scan found"
    # documents has (doc_id, text, lang, source, n_chars); the clean stage
    # needs only doc_id + text
    assert all("lang" not in s and "n_chars" not in s for s in schemas)


def test_vocab_join_is_broadcast(q):
    # encode_via_join must broadcast the vocab (<= vocab_size rows), never
    # shuffle the exploded token rows for the lookup
    df = q("tokenize_encode_docs")
    assert I.broadcast_join_count(df) >= 1
    I.assert_no_cartesian(df)


def test_no_cartesian_anywhere_in_headline_set(q):
    for name in [
        "clean_judge",
        "exact_dedup_roundtrip",
        "fuzzy_dedup_kept",
    ]:
        I.assert_no_cartesian(q(name))


# ---------------------------------------------------------------------------
# Dedup / similarity flagship guards (VERDICT r1 #8): the properties that
# keep the 100 TB path safe — bucket caps, equi-joins instead of cartesian
# blow-ups, bounded shuffle counts — pinned at the level where they are
# visible (end-to-end plans hide machinery behind driver-DSU results and
# localCheckpoint lineage truncation).
# ---------------------------------------------------------------------------


def test_lsh_candidate_pairs_has_bucket_cap_and_equi_join(spark, sf_dir):
    from llm_data_pipeline_spark.operators.lsh import band_rows, candidate_pairs
    from llm_data_pipeline_spark.operators.minhash import add_minhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bands = band_rows(add_minhash(docs))
    # default (groupby) shape: the mega-bucket cap must survive as a real
    # size filter on the collected bucket, before the pair explosion
    edges = candidate_pairs(bands)
    plan = I.formatted_plan(edges)
    assert "size(ds" in plan and "500" in plan, (
        "bucket-cap filter disappeared from the groupby plan"
    )
    I.assert_no_cartesian(edges)
    # join shape: window count guard + equi join on (band_id, band_hash) —
    # any cartesian/nested-loop here is the O(n^2) catastrophe at scale
    edges_j = candidate_pairs(bands, strategy="join")
    assert "bucket_n" in I.formatted_plan(edges_j)
    I.assert_no_cartesian(edges_j)


@pytest.mark.parametrize("family", ["xxhash64", "portable_hash60"])
def test_minhash_normalizes_outside_shingle_lambda(spark, sf_dir, family):
    # the normalized text must be a staged column: an inline normalize is
    # re-run over the whole document once per shingle position
    from llm_data_pipeline_spark.functions.hashing import portable_hash60
    from llm_data_pipeline_spark.operators.minhash import add_minhash

    hash_fn = portable_hash60 if family == "portable_hash60" else None
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = add_minhash(docs, hash_fn=hash_fn)._jdf.queryExecution()
    lines = plan.optimizedPlan().toString().splitlines()
    assert any("lambdafunction" in ln for ln in lines)
    bad = [ln for ln in lines if "lambdafunction" in ln and "regexp_replace" in ln]
    assert not bad, bad


def test_fuzzy_dedup_kept_shape(q):
    df = q("fuzzy_dedup_kept")
    I.assert_no_cartesian(df)
    # anti-join removal set, never a driver-side keep list
    assert "LeftAnti" in I.formatted_plan(df)
    assert I.shuffle_count(df) <= 10


def test_ngram_jaccard_plan_shape(spark, sf_dir, q):
    from llm_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs.select("doc_id", "text"))
    I.assert_no_cartesian(pairs)
    # candidate join + two verification joins, each ≤1 shuffle per side,
    # plus the dedup — bound the total so a lost broadcast or an extra
    # repartition fails here first
    assert I.shuffle_count(pairs) <= 8
    I.assert_no_cartesian(q("ngram_jaccard_near_dups"))


def test_blocked_near_dup_has_no_nested_loop_grid(q):
    # the block-pair grid was once an inequality join (b1 <= b2) — a
    # BroadcastNestedLoopJoin; the explode+groupBy formulation must never
    # regress to that
    df = q("embedding_near_dup_pairs")
    I.assert_no_cartesian(df)
    plan = I.formatted_plan(df)
    assert "FlatMapGroupsInPandas" in plan  # applyInPandas GEMM stage
    assert I.shuffle_count(df) <= 4


def test_lsh_near_dup_and_ann_plan_shape(q):
    for name in ["embedding_near_dup_lsh", "embedding_ann_lsh_topk"]:
        df = q(name)
        I.assert_no_cartesian(df)
        plan = I.formatted_plan(df)
        # bucketing must stay a generator explode + equi join, not a cross
        assert "Generate" in plan or "posexplode" in plan.lower()
        assert I.shuffle_count(df) <= 6


# ---------------------------------------------------------------------------
# Round-2 query families (VERDICT r2 #7): BM25 corpus stats must stay a
# 1-row broadcast, repetition signals must stay a shuffle-free narrow map,
# and decontamination must keep the broadcast shingle join.
# ---------------------------------------------------------------------------


def test_bm25_corpus_stats_one_row_broadcast(q):
    df = q("bm25_keyword_search")
    plan = I.formatted_plan(df)
    # corpus stats (N, avgdl, per-term df) attach via a broadcast of the
    # 1-row aggregate — the ONLY acceptable nested-loop join in the repo;
    # a rewrite that shuffles the fact side against stats fails here
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # top-k must be a TakeOrdered, never a global sort of all scored docs
    assert "TakeOrderedAndProject" in plan
    # one aggregation exchange for the stats side; nothing else shuffles
    assert I.shuffle_count(df) <= 2


def test_repetition_signals_no_shuffle_before_order(q):
    df = q("repetition_signals")
    plan = I.formatted_plan(df)
    # narrow native-expression map: no pandas/python eval anywhere
    assert "EvalPython" not in plan
    # the only exchange is the final presentation orderBy (range); at scale
    # the operator itself is embarrassingly parallel
    assert I.shuffle_count(df) <= 1
    I.assert_no_cartesian(df)


def test_repetition_by_source_single_agg_shuffle(q):
    df = q("repetition_filter_by_source")
    plan = I.formatted_plan(df)
    assert "EvalPython" not in plan
    # partial (map-side) agg + final agg = one exchange, + final order
    assert I.shuffle_count(df) <= 2
    I.assert_no_cartesian(df)


def test_decontaminate_broadcasts_benchmark_shingles(q):
    df = q("decontaminate_vs_benchmark")
    plan = I.formatted_plan(df)
    # the benchmark shingle-hash set rides a broadcast — the corpus side
    # never shuffles for the containment probe
    assert I.broadcast_join_count(df) >= 1
    I.assert_no_cartesian(df)


def test_scatter_is_noop_on_parallel_input(spark, sf_dir):
    """scatter() exists only to fix under-parallel single-row-group test
    scans; on an input that already has cluster-like parallelism it must
    return the frame untouched (no exchange at scale)."""
    from llm_data_pipeline_spark.queries import scatter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = spark.sparkContext.defaultParallelism
    wide = docs.repartition(target)
    assert scatter(wide) is wide  # untouched — no repartition node added
    narrow = docs.coalesce(1)
    assert scatter(narrow).rdd.getNumPartitions() == target


def test_bloom_incremental_joins_broadcast(q):
    """The BF-prefilter path must broadcast every join (the verify side is
    fp-sized, the confirmed set is explicit-broadcast) and never build a
    cartesian — at scale neither the corpus nor the increment shuffles
    for the join itself."""
    df = q("bloom_incremental_exact_dedup")
    assert I.broadcast_join_count(df) >= 2
    I.assert_no_cartesian(df)


def test_chunk_dedup_rewrite_shuffles_bounded(q):
    """Rewrite = chunk-value count + anti-join + doc re-aggregation + the
    final sort: a handful of key shuffles, no cartesian, and the scan
    pruned to (doc_id, text)."""
    df = q("chunk_dedup_rewrite")
    I.assert_no_cartesian(df)
    assert I.shuffle_count(df) <= 6
    schemas = I.scan_read_schemas(df)
    assert schemas and all("n_chars" not in s for s in schemas)


def test_semdedup_cluster_join_never_cartesian(q):
    # the quadratic step must be an equi-join on the cluster id; since r10
    # the codebook assignment is one Arrow pass against the collected
    # centroid literals (operators/similarity._best_lists), so NO
    # nested-loop of any kind may appear — a crossJoin here would mean
    # the n x k candidate materialization crept back in
    df = q("semantic_dedup_kept")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # n x k cross is gone
    assert "ArrowEvalPython" in plan  # the UDF assignment pass
    schemas = " ".join(I.scan_read_schemas(df))
    assert "label" not in schemas  # pruned: only vec_id + embedding read


def test_nb_classifier_model_joins_broadcast(spark, sf_dir):
    # the vocabulary-bounded model must ride broadcasts onto gram rows.
    # Inspect the predict pipeline directly — the registry query pins its
    # result behind a localCheckpoint (orderBy rule), which truncates the
    # visible plan.
    import pyspark.sql.functions as F

    from llm_data_pipeline_spark.operators.nb_classify import (
        nb_predict,
        train_nb,
    )
    from llm_data_pipeline_spark.queries import table

    docs = table(spark, sf_dir, "documents")
    model = train_nb(docs.where(F.col("doc_id") % 2 == 0))
    df = nb_predict(model, docs.where(F.col("doc_id") % 2 == 1))
    df.collect()
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert I.broadcast_join_count(df) >= 1   # model grams onto doc grams
    assert "BroadcastExchange" in plan       # + the |classes|-row cross
    schemas = " ".join(I.scan_read_schemas(df))
    assert "source" not in schemas and "n_chars" not in schemas


def test_temperature_mixture_no_corpus_window(q):
    # keep decision = broadcast join + hash compare; no window functions;
    # the only nested-loop is the broadcast of the 1-row totals (the
    # BM25-stats shape)
    df = q("temperature_mixture_sample")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "Window" not in I.simple_plan(df)


def test_dsir_model_tables_ride_broadcasts(q):
    """DSIR scoring: both bucket-bounded model tables (raw<-tgt left join,
    then the 10k-row log-ratio table onto per-doc counts) must be
    broadcast joins; the only nested loops are the broadcast crosses of
    the two 1-row totals. The corpus itself shuffles only for its own
    count aggregates and the final top-k."""
    df = q("dsir_importance_selection")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert I.broadcast_join_count(df) >= 2
    assert "EvalPython" not in plan  # pure codegen — no Python UDF


def test_partitioned_sink_scan_prunes_directories(q):
    """The read-back scan must satisfy the lang filter via PARTITION
    pruning (directory-level), not row-level filtering: the scan node
    carries a PartitionFilters entry on lang, and the partition column
    never appears as a data-filter/pushed-filter (it does not exist in
    the data files at all)."""
    df = q("partitioned_sink_pruned_scan")
    plan = I.formatted_plan(df)
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert pf_lines and any("lang" in ln for ln in pf_lines)
    assert "CartesianProduct" not in plan


def test_span_dedup_no_cartesian_no_python(q):
    """Stride-1 span dedup: window counting, the over-limit semi-join,
    island windowing and the positional rebuild must all stay equi-keyed
    JVM codegen — no cartesian, no Python UDF. Join strategies are left
    to AQE stats (nothing force-broadcast): the over-limit set is
    dup-density-bounded, not corpus-bounded, so at 100 TB Spark degrades
    those joins to shuffles on its own."""
    df = q("span_dedup_rewrite")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_span_dedup_incremental_no_cartesian_no_python(q):
    """Incremental span dedup: the base contributes only a distinct
    window-value set through an equi semi-join; no cartesian, no Python
    UDF anywhere in the plan."""
    df = q("span_dedup_incremental")
    plan = I.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_heavy_hitters_broadcasts_candidates_no_cartesian(spark, sf_dir):
    from llm_data_pipeline_spark.operators.heavyhitters import (
        frequent_ngrams,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = frequent_ngrams(docs.select("text"), n=2, min_count=3, capacity=64)
    # the confirm pass must broadcast the candidate set (map-side semi-join,
    # no corpus-sized shuffle on the gram stream beyond its aggregation)
    assert I.broadcast_join_count(df) >= 1
    I.assert_no_cartesian(df)


def test_shard_assignment_single_shuffle_family(q):
    df = q("training_shard_assignment")
    I.assert_no_cartesian(df)
    schemas = I.scan_read_schemas(df)
    # only doc_id + n_chars may be read — text must be pruned from the scan
    assert all("text" not in s for s in schemas)


def test_snapshot_diff_prunes_and_no_cartesian(q):
    df = q("corpus_snapshot_diff")
    I.assert_no_cartesian(df)


def test_iqr_filter_prunes_text(q):
    df = q("doc_length_iqr_filter")
    schemas = I.scan_read_schemas(df)
    assert schemas and all("text" not in s for s in schemas)
    assert I.broadcast_join_count(df) >= 1  # per-lang fences broadcast back


def test_source_overlap_no_self_join(q):
    df = q("source_overlap_matrix")
    I.assert_no_cartesian(df)
    # the plan is groupBy + array pair explode — a digest self-join would
    # show as an extra join; none may appear
    plan = I.simple_plan(df)
    assert "Join" not in plan


def test_lr_classifier_scoring_broadcasts_weights(q):
    df = q("quality_classifier_train_score")
    # scoring joins the bounded weight table — must broadcast, and the whole
    # query must stay cartesian-free
    assert I.broadcast_join_count(df) >= 1
    I.assert_no_cartesian(df)


def test_kmeans_assignment_joinless(spark, sf_dir):
    from llm_data_pipeline_spark.operators.kmeans import (
        assign_clusters,
        quantize_micro,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", quantize_micro(F.col("embedding")).alias("xq")
    )
    df = assign_clusters(emb, [[0] * 64, [1000] * 64])
    plan = I.simple_plan(df)
    # the model rides in the expression as literals — assignment must be a
    # pure narrow map: no join, no shuffle
    assert "Join" not in plan and I.shuffle_count(df) == 0


def test_html_extraction_zero_shuffle_narrow_map(q):
    """The HTML extractor must run inside the scan stage: no join, at
    most the presentation sort's exchange."""
    df = q("html_text_extraction")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan
    assert I.shuffle_count(df) <= 1


def test_taxonomy_tagging_zero_shuffle_narrow_map(q):
    df = q("keyword_taxonomy_tagging")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan
    assert I.shuffle_count(df) <= 1


def test_sliding_windows_zero_shuffle_narrow_map(q):
    df = q("doc_sliding_windows")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan
    assert I.shuffle_count(df) <= 1


def test_skipgram_pairs_single_equi_join(q):
    """Context pairs come from ONE equi-join on (doc_id, position range),
    never a per-doc cross product."""
    df = q("skipgram_training_pairs")
    I.assert_no_cartesian(df)


def test_prefix_dedup_block_key_join(q):
    """Candidate generation is an equi-join on the 16-char block key —
    exactly one join, no cartesian."""
    df = q("prefix_truncation_dedup")
    I.assert_no_cartesian(df)


def test_ann_recall_graded_prunes_label(q):
    """The recall audit touches only (vec_id, embedding) — label must be
    pruned from every scan."""
    df = q("embedding_ann_recall_graded")
    schemas = I.scan_read_schemas(df)
    assert schemas and all("label" not in s for s in schemas)


def test_robots_rules_join_broadcasts(q):
    """The per-domain rule table is domain-bounded — it must ride a
    broadcast, never shuffle the corpus on the domain key."""
    df = q("robots_txt_disallow_filter")
    assert I.broadcast_join_count(df) >= 1
    I.assert_no_cartesian(df)


def test_priority_sample_topk_never_global_sort(q):
    """Top-(k+1) priorities must be TakeOrderedAndProject (per-partition
    top-k + merge), not a full Exchange+Sort of the corpus."""
    df = q("priority_weighted_sample")
    plan = I.simple_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_dp_histogram_one_agg_no_join(q):
    """The DP mechanism is a narrow map over the released cells — one
    aggregation shuffle, no join anywhere."""
    df = q("dp_noised_histogram")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan


def test_kappa_single_docid_join(q):
    """Two judge maps + one doc_id equi-join + a 1-row aggregate — no
    cartesian, no second corpus shuffle family."""
    df = q("scorer_agreement_kappa")
    I.assert_no_cartesian(df)


def test_meta_robots_zero_shuffle_narrow_map(q):
    df = q("html_meta_robots_filter")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan
    assert I.shuffle_count(df) <= 1


def test_window_reconstruct_one_groupby(q):
    """Rebuild is explode + one groupBy(doc_id) — no join (the original
    text rides the window rows via any_value, never re-joined)."""
    df = q("window_overlap_reconstruct")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan


def test_scurve_planted_filter_pushes_down(q):
    """doc_id < 50 must reach the planted-side scans; exact Jaccard is
    pair-restricted so no cartesian may appear."""
    df = q("lsh_scurve_calibration")
    I.assert_no_cartesian(df)
    pushed = " ".join(I.pushed_filters(df))
    assert "doc_id" in pushed and "50" in pushed


def test_t5_corruption_zero_shuffle_narrow_map(q):
    df = q("t5_span_corruption")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan
    assert I.shuffle_count(df) <= 1


def test_crop_pairs_zero_shuffle_narrow_map(q):
    df = q("contrastive_crop_pairs")
    I.assert_no_cartesian(df)
    plan = I.simple_plan(df)
    assert "Join" not in plan
    assert I.shuffle_count(df) <= 1


def test_method_agreement_serves_from_artifacts(spark, sf_dir):
    """The agreement audit must SERVE, not recompute (round-7 judge task
    #1): its plan scans the persisted bucketed band index (the LSH leg's
    only input) plus the write-once screen-pairs artifact, and contains
    ZERO Python/Arrow UDF stages — no document is signed, shingled or
    simhashed at audit time."""
    from llm_data_pipeline_spark import queries_dedup as D

    # guard the pre-checkpoint composition: the graded query wraps it in
    # a lazy localCheckpoint whose ExistingRDD scan hides the lineage
    df = D._agreement_all_pairs(spark, sf_dir)
    plan = I.formatted_plan(df)
    assert "bkt_band_index_" in plan, "LSH leg must scan the band index"
    assert "screen_pairs_" in plan, "jaccard/simhash legs must read the artifact"
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_indexed_serve_never_resigns_increment(q):
    """The indexed serve path reads the increment's signatures from their
    write-once ingest artifact (round-7 judge task #2): no Arrow UDF
    (signing) anywhere in the serve plan, and the signed-increment
    parquet is scanned."""
    df = q("minhash_bucketed_index_dedup")
    plan = I.formatted_plan(df)
    assert "signed_increment_" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_list_balance_prunes_vectors(q):
    """The IVF skew audit must be a metadata aggregate over the persisted
    index: the index scan reads ONLY list_id — if the embedding column
    appears in the ReadSchema the audit is paying a vector scan for a
    count."""
    df = q("ivf_list_balance")
    plan = I.formatted_plan(df)
    assert "bkt_ivf_index_" in plan
    schemas = I.scan_read_schemas(df)
    assert any("list_id" in s for s in schemas)
    assert all("embedding" not in s for s in schemas)


def test_estimate_error_no_join_no_python_rows(q):
    """Estimator calibration derives the variant from the base row
    in-place: the (post-checkpoint) plan must contain no join — the
    compare is a narrow map over 50 rows."""
    df = q("minhash_jaccard_estimate_error")
    plan = I.formatted_plan(df)
    assert "Join" not in plan and "Cartesian" not in plan


def test_streaming_topk_state_is_flatmap_not_collect_list(spark, sf_dir):
    """The in-stream ANN top-k must be the O(k)-state arbitrary-stateful
    operator, not an aggregation whose buffer collects every scored
    corpus row (round-8 judge task #1): the analyzed plan's only stateful
    node is FlatMapGroupsInPandasWithState and no collect_list Aggregate
    exists anywhere upstream of it."""
    from llm_data_pipeline_spark.queries_streaming import _stream_topk_frame

    df = _stream_topk_frame(spark, sf_dir)
    plan = I.analyzed_plan(df)
    assert "FlatMapGroupsInPandasWithState" in plan
    assert "collect_list" not in plan
    assert "Aggregate" not in plan  # no stateful agg at all pre-sink


def test_threshold_sweep_broadcast_ladder_no_regemm(q):
    """The threshold sweep must cost ONE pair computation (round-8 judge
    task #2): post-checkpoint, every reference to the qualifying pair set
    joins the checkpointed pairs against the 4-row threshold ladder via
    BroadcastNestedLoopJoin (non-equi >= on a broadcast literal — the
    only join shape that can't degrade to a shuffle here), and NO
    Arrow/Python stage survives — the blocked GEMM ran once at
    checkpoint time, never per threshold or per branch."""
    df = q("semantic_dedup_threshold_sweep")
    plan = I.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the pair set is served from the eager checkpoint, not recomputed
    assert "ExistingRDD" in plan


def test_probe_sweep_pruned_index_no_cartesian(q):
    """The probe sweep must read only (vec_id, list_id) from the persisted
    IVF index — the one expensive subtree is the exact brute-force ground
    truth over the embeddings TABLE; re-reading vectors from the index
    would double the vector I/O for joins that only need list routing.
    Ladder joins are broadcast NLJs over 5 literal rungs, never a
    cartesian product."""
    df = q("ivf_probe_recall_sweep")
    plan = I.formatted_plan(df)
    assert "bkt_ivf_index_" in plan
    assert "CartesianProduct" not in plan
    schemas = I.scan_read_schemas(df)
    assert any("list_id" in s and "embedding" not in s for s in schemas), (
        "index scan must prune the embedding column"
    )


def test_packing_sweep_single_scan_no_python(q):
    """The packing-length sweep is a waste MODEL, not a tokenizer run:
    one narrow documents scan (doc_id + text), a broadcast ladder NLJ,
    zero Python/Arrow stages — sweeping L must never re-tokenize."""
    df = q("packing_length_sweep")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    schemas = I.scan_read_schemas(df)
    assert sum("text" in s for s in schemas) == 1  # exactly one doc scan


def test_coverage_audit_prunes_index_and_text(q):
    """The coverage audit is a metadata gate: the index scan reads ONLY
    doc_id (no bh, no signature), the corpus scan reads ONLY doc_id (no
    text), and nothing is signed at audit time (no Arrow stages)."""
    df = q("band_index_coverage_audit")
    plan = I.formatted_plan(df)
    assert "bkt_band_index_" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    schemas = I.scan_read_schemas(df)
    assert all("text" not in s for s in schemas)
    assert all("bh" not in s for s in schemas)


def test_exposure_audit_serves_component_map(q):
    """The exposure audit must SERVE family sizes from the persisted
    component map (the nightly dedup byproduct), never re-shingle or
    rebuild the pair graph at audit time: the plan scans the
    component_index_ artifact, contains zero Python/Arrow stages (the
    quality scorer is native integer-ppm), and reads document text
    exactly once."""
    df = q("memorization_exposure_audit")
    plan = I.formatted_plan(df)
    assert "component_index_" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    schemas = I.scan_read_schemas(df)
    assert sum("text" in s for s in schemas) == 1


def test_band_index_compaction_pure_serve(q):
    """Compaction must MERGE artifacts, never recompute them: the plan
    scans the persisted bucketed band index and the write-once signed
    increment (banding stored signatures is JVM work), with zero
    Arrow/Python stages — no document is re-signed at compaction time."""
    df = q("band_index_compaction")
    plan = I.formatted_plan(df)
    assert "bkt_band_index_" in plan
    assert "signed_increment_" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    I.assert_no_cartesian(df)


def test_zorder_layout_pruning_metadata_only(q):
    """Layout planning must never read document content: every documents
    scan is pruned to (doc_id, lang, n_chars) — no text column — and the
    whole plan is JVM-side integer arithmetic (no Python stages)."""
    df = q("zorder_layout_pruning")
    schemas = I.scan_read_schemas(df)
    assert schemas, "no parquet scan found"
    assert all("text" not in s for s in schemas)
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sink_compaction_plan_metadata_only(q):
    """The compaction plan is a metadata decision: scans read only
    (source, doc_id, n_chars) — the data bytes being compacted are never
    read — and no Python stage exists."""
    df = q("sink_compaction_plan")
    schemas = I.scan_read_schemas(df)
    assert schemas, "no parquet scan found"
    assert all("text" not in s and "lang" not in s for s in schemas)
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bloom_skipping_relational_and_pruned(q):
    """The file-skipping audit's membership test is RELATIONAL (position
    containment join) — no bitmap UDF, no Arrow stage — and the corpus
    scans read only doc_id (the filter build touches keys, never
    content). The tiny probe side must broadcast."""
    df = q("bloom_file_skipping_audit")
    schemas = I.scan_read_schemas(df)
    assert schemas, "no parquet scan found"
    assert all("text" not in s and "lang" not in s for s in schemas)
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert I.broadcast_join_count(df) >= 1


def test_doremi_reweight_jvm_side_and_broadcast(q):
    """The reweighting step stays JVM-side end to end (split/explode/ln —
    no Python stages) and its per-domain joins broadcast (domain totals,
    doc counts, the 1-row corpus total); the only vocabulary-sized
    exchange is the (source, word) reduce and the corpus word-count
    join."""
    df = q("doremi_domain_reweight")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert I.broadcast_join_count(df) >= 2
    # the only NLJ allowed is the broadcast of the 1-row corpus total
    assert "CartesianProduct" not in plan
    # the corpus text is scanned ONCE (at the eager checkpoint of the
    # (source, word) table); the served plan's only parquet text access
    # would mean a consumer re-derived the explode+reduce
    schemas = I.scan_read_schemas(df)
    assert sum("text" in s for s in schemas) == 0


def test_watermark_detect_narrow_map_single_scan(q):
    """The watermark detector is per-row JVM array arithmetic: ONE
    documents scan (bigram hashing via transform-over-sequence, no
    explode), zero Python stages, no join anywhere — the only exchange
    is the 40-row (source, planted) aggregate."""
    df = q("synthetic_watermark_detect")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    schemas = I.scan_read_schemas(df)
    assert len(schemas) == 1 and "text" in schemas[0]
    assert I.shuffle_count(df) <= 2  # partial/final agg pair


def test_license_filter_single_scan_case_cascade(q):
    """The license cascade is ONE JVM CASE over a single documents scan
    (doc_id + text only): no Python stages, no join — the share window
    runs over the 8-row census, after the aggregate."""
    df = q("license_header_filter")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    schemas = I.scan_read_schemas(df)
    assert len(schemas) == 1
    assert "lang" not in schemas[0] and "source" not in schemas[0]


def test_late_data_audit_batch_tail_pruned(q):
    """The audit's batch tail (stream result already materialized) is
    JVM-only: no Python stages, the expected-class replay broadcasts its
    tiny watermark/final-wm sides, and every events scan is pruned to
    (event_id, ts, event_type) — props/value/user_id never read."""
    df = q("streaming_late_data_audit")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert I.broadcast_join_count(df) >= 2
    schemas = I.scan_read_schemas(df)
    assert schemas, "no parquet scan found"
    assert all(
        "props" not in s and "value" not in s and "user_id" not in s
        for s in schemas
    )


def test_code_curation_single_pass_flags(q):
    """The code pipeline computes every stage flag in one pass: license
    regexes and watermark hashing are JVM expressions over the unioned
    corpus (exactly two text scans — base + the re-crawl copies branch,
    both sides of one union), the dedup rank is the only key-shuffle
    (min-over-survivors window on the content hash), and no Python
    stage exists anywhere."""
    df = q("pipeline_code_curation")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    I.assert_no_cartesian(df)
    schemas = I.scan_read_schemas(df)
    assert sum("text" in s for s in schemas) == 2
    assert I.shuffle_count(df) <= 3


def test_compaction_execute_audits_artifact_only(q):
    """The compaction-execute audit reads back ONLY the compacted sink
    (one scan of the rewritten files — the fragmented sink and the
    documents table never appear in the served plan) with zero Python
    stages; content grading runs against what the rewrite actually
    wrote."""
    df = q("sink_compaction_execute")
    plan = I.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "compacted_sink_" in plan
    assert "frag_sink_" not in plan
    assert "documents.parquet" not in plan
    I.assert_no_cartesian(df)
