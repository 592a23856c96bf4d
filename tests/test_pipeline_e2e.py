"""End-to-end pipeline DAG test (SURVEY.md §3): 10 steps over sf0.001.

Mirrors the reference's verify-e2e loop (run_pipeline.sh --limit 1000):
full DAG must run, produce the conventional parquet directories, a
pipeline_stats.json, and a final.bin; resume-from must continue from disk.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from llm_data_pipeline_spark.core import ALL_STEPS, PipelineConfig, run_pipeline
from llm_data_pipeline_spark.core.config import step_output_dir


@pytest.fixture(scope="module")
def pipeline_run(spark, sf_dir, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipe"))
    config = PipelineConfig(
        output_base=base,
        input=f"{sf_dir}/documents.parquet",
        # sf0.001 docs are ~300 chars of lowercase words: loosen clean rules
        # enough that a meaningful fraction survives, keep seq_len small so
        # packing emits many chunks.
        vocab_size=64,
        seq_len=128,
        n_text_shards=3,
        # the synthetic corpus is keyword soup: its stopword-based language
        # confidence is low, so drop the gate to keep the DAG non-degenerate
        lang_threshold=0.0,
    )
    stats = run_pipeline(spark, config)
    return base, config, stats


def test_all_steps_succeeded(pipeline_run):
    base, config, stats = pipeline_run
    assert [s.name for s in ALL_STEPS] == list(stats.keys())
    assert all(st["status"] == "success" for st in stats.values())


def test_conventional_output_dirs(pipeline_run):
    base, config, stats = pipeline_run
    for step in ["ingest", "quality", "pii", "minhash", "tokenize"]:
        assert os.path.isdir(f"{base}/{step}_parquet"), step
    # special names preserved (reference core.py:279-286)
    assert os.path.isdir(f"{base}/cleaned_parquet")
    assert os.path.isdir(f"{base}/deduped_parquet")
    assert os.path.isdir(f"{base}/token_packing_parquet")
    assert os.path.isdir(f"{base}/clean_dropped_parquet")
    assert os.path.isdir(f"{base}/tokenizer_text_shards")


def test_counts_monotone_and_recorded(pipeline_run):
    base, config, stats = pipeline_run
    n_ingest = stats["ingest"]["output_count"]
    n_clean = stats["clean"]["output_count"]
    n_quality = stats["quality"]["output_count"]
    n_dedup = stats["clustering"]["output_count"]
    assert n_ingest > 0
    assert n_clean + stats["clean"]["dropped_count"] == n_ingest
    assert 0 < n_quality <= n_clean  # non-degenerate: data survives the gate
    assert 0 < n_dedup <= stats["minhash"]["output_count"]
    assert stats["clustering"]["removed_count"] >= 0


def test_packed_chunks_shape(pipeline_run, spark):
    base, config, stats = pipeline_run
    chunks = spark.read.parquet(step_output_dir(base, "token_packing"))
    rows = chunks.collect()
    assert len(rows) == stats["token_packing"]["output_count"]
    for r in rows:
        assert len(r["input_ids"]) == config.seq_len
        assert r["offsets"][0] == 0 and r["offsets"][-1] == config.seq_len
        assert len(r["seq_lens"]) == len(r["offsets"]) - 1


def test_export_binary_consistent(pipeline_run):
    base, config, stats = pipeline_run
    meta = stats["export"]
    arr = np.fromfile(meta["path"], dtype=np.uint16)
    assert len(arr) == meta["total_tokens"]
    assert meta["total_tokens"] == stats["token_packing"]["output_count"] * config.seq_len


def test_stats_json_and_resume(pipeline_run, spark):
    base, config, stats = pipeline_run
    with open(os.path.join(base, "pipeline_stats.json")) as f:
        on_disk = json.load(f)
    assert list(on_disk.keys()) == [s.name for s in ALL_STEPS]
    # Resume from token_packing: re-runs only the tail, reusing tokenize
    # output from disk; stats file keeps every step.
    re_stats = run_pipeline(spark, config, resume_from="token_packing")
    assert set(re_stats.keys()) == {s.name for s in ALL_STEPS}
    assert (
        re_stats["token_packing"]["output_count"]
        == stats["token_packing"]["output_count"]
    )


def test_input_count_recorded(pipeline_run):
    base, config, stats = pipeline_run
    assert stats["clean"]["input_count"] == stats["ingest"]["output_count"]
    assert stats["quality"]["input_count"] == stats["clean"]["output_count"]


@pytest.mark.full  # gauntlet-length; default profile skips (pytest.ini)
def test_pipeline_with_bpe_tokenizer(spark, sf_dir, tmp_path):
    """Tail of the DAG with tokenizer='bpe': trained merges drive encoding,
    packing and export run unchanged on the subword ids."""
    base = str(tmp_path / "bpe_pipe")
    config = PipelineConfig(
        output_base=base,
        input=f"{sf_dir}/documents.parquet",
        tokenizer="bpe",
        bpe_merges=60,
        seq_len=128,
        n_text_shards=2,
        lang_threshold=0.0,
    )
    stats = run_pipeline(spark, config)
    assert all(st["status"] == "success" for st in stats.values())
    assert stats["train_tokenizer"]["tokenizer"] == "bpe"
    assert stats["train_tokenizer"]["n_merges"] == 60
    vocab = spark.read.parquet(f"{base}/train_tokenizer_parquet")
    # specials occupy ids 0-3 in piece order
    specials = {r["token"]: r["id"] for r in vocab.filter("id < 4").collect()}
    assert specials == {"<unk>": 0, "<s>": 1, "</s>": 2, "<pad>": 3}
    merges = spark.read.parquet(f"{base}/bpe_merges_parquet")
    assert merges.count() == 60
    enc = spark.read.parquet(f"{base}/tokenize_parquet")
    assert enc.filter("size(input_ids) > 0").count() > 0


def test_failed_step_keeps_traceback_and_cause(spark, tmp_path):
    """A failing step's exception is the RuntimeError's __cause__, and its
    pipeline_stats.json entry carries the traceback, not just the message."""
    base = str(tmp_path / "fail")
    with pytest.raises(RuntimeError) as excinfo:
        run_pipeline(spark, PipelineConfig(output_base=base), steps=["ingest"])
    cause = excinfo.value.__cause__
    assert isinstance(cause, ValueError)
    assert str(cause) == "ingest needs config.wet_glob or config.input"
    with open(os.path.join(base, "pipeline_stats.json")) as f:
        ingest = json.load(f)["ingest"]
    assert ingest["status"] == "failed"
    assert ingest["error"] == f"ValueError: {cause}"
    assert "_ingest" in ingest["traceback"]
    assert "Traceback (most recent call last)" in ingest["traceback"]
