"""Pipeline orchestrator: the reference's 9-step DAG, Spark-first.

Step order and dataflow wiring (reference pipeline.py:85-95, core.py:240-292):

    ingest -> clean -> quality -> pii -> minhash -> clustering
           -> train_tokenizer -> tokenize -> token_packing -> export

(The reference folds packing into its tokenize step; here it is an explicit
step so the packer's output is independently resumable.) Steps communicate
only through parquet directories under ``output_base`` — no resident
service; ``resume_from`` (reference pipeline.py:113-138) just starts the
slice later, reading whatever the previous run left on disk.

Per-step transforms delegate to the operator modules; this file is wiring
only. Differences from the reference worth knowing:
- ingest reads real WET when ``config.wet_glob`` is set, else passes
  through an existing document parquet (``config.input``) — the synthetic
  `documents` table substitutes for CommonCrawl in tests (SURVEY.md §7.2(9));
- the tokenizer is the trained word-vocab analog of SentencePiece (see
  operators/tokenizer.py); `train_tokenizer` persists the vocab as parquet
  (the "model"), `tokenize` broadcast-joins against it;
- quality LID is the deterministic heuristic scorer (fastText is optional);
- clustering is fully distributed LSH + iterative connected components —
  no driver union-find, no driver keep-set (SURVEY.md §4.2(1,3)).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_data_pipeline_spark.core.config import PipelineConfig, step_output_dir
from llm_data_pipeline_spark.core.stage import EXCEPTION_KEY, Stage
from llm_data_pipeline_spark.functions.checkpoint import cut_lineage
from llm_data_pipeline_spark.functions.localframe import local_df


def _ingest(spark, df_in, config, base):
    from llm_data_pipeline_spark.sources.wet import read_wet

    if config.wet_glob:
        out = read_wet(spark, config.wet_glob)
        if config.limit:
            out = out.limit(config.limit)
        return out, {"source": config.wet_glob}
    if config.input:
        from llm_data_pipeline_spark.core.stage import read_parquet_limited

        df = read_parquet_limited(spark, config.input, config.limit)
        if "doc_id" not in df.columns:
            raise ValueError("ingest passthrough input needs a doc_id column")
        return df, {"source": config.input}
    raise ValueError("ingest needs config.wet_glob or config.input")


def _clean(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.clean import score_documents, split_kept

    # localCheckpoint (not persist): kept is returned lazily, so an
    # unpersist here is impossible; checkpoint blocks are GC-scoped.
    scored = score_documents(df_in, rules=config.clean_rules).transform(cut_lineage, 
        eager=False
    )
    kept, dropped = split_kept(scored)
    from llm_data_pipeline_spark.core.stage import write_parquet_counted

    n_drop = write_parquet_counted(dropped, f"{base}/clean_dropped_parquet")
    return kept, {"dropped_count": n_drop}


def _quality(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.quality import run_quality

    out = run_quality(
        df_in,
        allowed_langs=config.allowed_langs,
        threshold=config.lang_threshold,
        keep_only=True,
    )
    return out, {}


def _pii(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.pii import run_pii

    out = run_pii(
        df_in,
        lang_col="lang_pred" if "lang_pred" in df_in.columns else None,
        enable_person_ner=config.enable_person_ner,
        keep_stats=config.pii_keep_stats,
    )
    return out, {}


def _minhash(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.minhash import add_minhash

    out = add_minhash(
        df_in,
        k=config.minhash_k,
        seed=config.minhash_seed,
        ngram=config.minhash_ngram,
    )
    return out, {}


def _clustering(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.lsh import minhash_dedup

    kept, comps = minhash_dedup(
        df_in,
        rows_per_band=config.rows_per_band,
        bucket_cap=config.bucket_cap,
    )
    total = df_in.count()
    # localCheckpoint (not persist): kept is returned lazily for the stage
    # write, so the cache could never be unpersisted here; GC-scoped blocks.
    kept = kept.transform(cut_lineage, eager=False)
    n_kept_sampleable = kept.count()
    removed = total - n_kept_sampleable
    return kept, {
        "total_count": total,
        "removed_count": removed,
        "dedup_rate": round(removed / total, 6) if total else 0.0,
    }


def _train_tokenizer(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.tokenizer import train_word_vocab
    from llm_data_pipeline_spark.sources.sinks import write_text_shards

    # Text shards (S6) — the artifact SentencePiece would train on; written
    # for parity/inspection even though both native trainers work directly
    # off the corpus.
    write_text_shards(df_in, f"{base}/tokenizer_text_shards", config.n_text_shards)
    if config.tokenizer == "bpe":
        from llm_data_pipeline_spark.operators.bpe import train_bpe

        _, merges, pieces = train_bpe(
            df_in,
            n_merges=config.bpe_merges,
            min_pair_freq=config.bpe_min_pair_freq,
        )
        local_df(spark, 
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            schema="merge_rank bigint, lhs string, rhs string",
        ).write.mode("overwrite").parquet(f"{base}/bpe_merges_parquet")
        vocab = local_df(spark, 
            pieces, schema="token string, id bigint"
        )
        return vocab, {"tokenizer": "bpe", "n_merges": len(merges)}
    vocab = train_word_vocab(df_in, vocab_size=config.vocab_size)
    return vocab, {"tokenizer": "word"}


def _tokenize(spark, df_in, config, base):
    vocab = spark.read.parquet(step_output_dir(base, "train_tokenizer"))
    if config.tokenizer == "bpe":
        from llm_data_pipeline_spark.operators.bpe import encode_bpe

        merges = [
            (r["lhs"], r["rhs"])
            for r in spark.read.parquet(f"{base}/bpe_merges_parquet")
            .orderBy("merge_rank")
            .collect()
        ]
        pieces = [
            (r["token"], r["id"]) for r in vocab.collect()
        ]
        enc = encode_bpe(df_in, merges, pieces)
    else:
        from llm_data_pipeline_spark.operators.tokenizer import encode_via_join

        enc = encode_via_join(df_in, vocab)
    out = enc.withColumn("length", F.size("input_ids"))
    return out, {}


def _token_packing(spark, df_in, config, base):
    from llm_data_pipeline_spark.operators.packing import pack_chunks

    chunks = pack_chunks(
        df_in,
        seq_len=config.seq_len,
        drop_remainder=config.drop_remainder,
        order_col="doc_id",
    )
    return chunks, {"seq_len": config.seq_len}


def _export(spark, df_in, config, base):
    from llm_data_pipeline_spark.sources.sinks import export_binary

    meta = export_binary(df_in, f"{base}/export", dtype=config.export_dtype)
    return None, meta


# tokenize reads the deduped corpus (clustering output), not the vocab dir —
# the vocab is a side input resolved inside the transform.
ALL_STEPS: list[Stage] = [
    Stage("ingest", None, _ingest),
    Stage("clean", "ingest", _clean),
    Stage("quality", "clean", _quality),
    Stage("pii", "quality", _pii),
    Stage("minhash", "pii", _minhash),
    Stage("clustering", "minhash", _clustering),
    Stage("train_tokenizer", "clustering", _train_tokenizer),
    Stage("tokenize", "clustering", _tokenize),
    Stage("token_packing", "tokenize", _token_packing),
    Stage("export", "token_packing", _export),
]

_STEP_INDEX = {s.name: i for i, s in enumerate(ALL_STEPS)}


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    steps: list[str] | None = None,
    resume_from: str | None = None,
) -> dict:
    """Run the step slice, persisting pipeline_stats.json after every step.

    ``steps``: explicit subset (kept in canonical order). ``resume_from``:
    start at that step, trusting prior outputs on disk (reference
    pipeline.py:113-138). Stats merge across resumes in canonical step
    order (pipeline.py:176-186).
    """
    selected = list(ALL_STEPS)
    if steps:
        unknown = set(steps) - set(_STEP_INDEX)
        if unknown:
            raise ValueError(f"unknown steps: {sorted(unknown)}")
        selected = [s for s in selected if s.name in steps]
    if resume_from:
        if resume_from not in _STEP_INDEX:
            raise ValueError(f"unknown resume step: {resume_from}")
        selected = [
            s for s in selected if _STEP_INDEX[s.name] >= _STEP_INDEX[resume_from]
        ]

    os.makedirs(config.output_base, exist_ok=True)
    stats_path = os.path.join(config.output_base, "pipeline_stats.json")
    all_stats: dict[str, dict] = {}
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            all_stats = json.load(f)

    for stage in selected:
        st = stage.run(spark, config)
        cause = st.pop(EXCEPTION_KEY, None)
        all_stats[stage.name] = st
        ordered = {
            name: all_stats[name]
            for name in (s.name for s in ALL_STEPS)
            if name in all_stats
        }
        # tmp + rename: a crash mid-write never leaves a truncated file
        tmp_path = f"{stats_path}.tmp"
        with open(tmp_path, "w") as f:
            json.dump(ordered, f, indent=2, default=str)
        os.replace(tmp_path, stats_path)
        if st["status"] != "success":
            raise RuntimeError(
                f"step {stage.name} failed: {st.get('error')}"
            ) from cause
    return all_stats
