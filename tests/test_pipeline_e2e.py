"""End-to-end pipeline DAG test (SURVEY.md §3): 10 steps over sf0.001.

Mirrors the reference's verify-e2e loop (run_pipeline.sh --limit 1000):
full DAG must run, produce the conventional parquet directories, a
pipeline_stats.json, and a final.bin; resume-from must continue from disk.
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import uuid

import numpy as np
import pytest
from pyspark.sql import DataFrame

from llm_data_pipeline_spark.core import ALL_STEPS, PipelineConfig, run_pipeline
from llm_data_pipeline_spark.core.config import step_output_dir
from llm_data_pipeline_spark.core.stage import Stage


@pytest.fixture(scope="module")
def step_jobs():
    """Filled by pipeline_run: per step, the Spark jobs it launched and
    whether Stage.run itself called count() on its input."""
    return {"jobs": {}, "counted": set()}


@pytest.fixture(scope="module")
def pipeline_run(spark, sf_dir, tmp_path_factory, step_jobs):
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
    sc = spark.sparkContext
    run_id = uuid.uuid4().hex
    real_run, real_count = Stage.run, DataFrame.count

    def run(self, spark_, config_, explicit_input=None):
        # one job group per step, so the status tracker credits each job
        group = f"{run_id}-{self.name}"
        sc.setJobGroup(group, self.name)
        try:
            return real_run(self, spark_, config_, explicit_input)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            step_jobs["jobs"][self.name] = len(
                sc.statusTracker().getJobIdsForGroup(group)
            )

    def count(df):
        caller = sys._getframe(1)
        if caller.f_code is real_run.__code__:
            step_jobs["counted"].add(caller.f_locals["self"].name)
        return real_count(df)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Stage, "run", run)
        mp.setattr(DataFrame, "count", count)
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
    for stage in ALL_STEPS:
        if stage.input_step is not None:
            want = stats[stage.input_step]["output_count"]
            assert stats[stage.name]["input_count"] == want, stage.name


def test_runner_carries_producer_output(pipeline_run, step_jobs):
    """Within one run_pipeline call no step counts an input its producer
    wrote, and clustering's driver path stays a handful of jobs (23 with
    the distributed chain)."""
    base, config, stats = pipeline_run
    jobs = step_jobs["jobs"]
    assert set(jobs) == {s.name for s in ALL_STEPS}
    assert step_jobs["counted"] == set()
    assert jobs["clustering"] <= 6, jobs


def test_limit_and_resume_input_counts(spark, pipeline_run, tmp_path):
    """A resume_from slice counts its first step's input from disk; later
    steps take min(limit, producer's output_count)."""
    base, config, stats = pipeline_run
    limit = 10
    new = str(tmp_path / "resume")
    # a 7-row clustering output on disk (taken from the larger pii output),
    # which no stats file of this output base knows about
    spark.read.parquet(step_output_dir(base, "pii")).orderBy("doc_id").limit(
        7
    ).write.parquet(step_output_dir(new, "clustering"))
    spark.read.parquet(step_output_dir(base, "train_tokenizer")).write.parquet(
        step_output_dir(new, "train_tokenizer")
    )
    cfg = dataclasses.replace(config, output_base=new, limit=limit, seq_len=8)
    st = run_pipeline(spark, cfg, resume_from="tokenize")
    assert stats["pii"]["output_count"] > 7
    assert st["tokenize"]["input_count"] == 7
    assert st["token_packing"]["input_count"] == min(
        limit, st["tokenize"]["output_count"]
    )
    # the limit binds: packing writes more chunks than export may read
    assert st["token_packing"]["output_count"] > limit
    assert st["export"]["input_count"] == limit


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


def test_stats_file_survives_failed_write(spark, sf_dir, tmp_path, monkeypatch):
    """A crash while pipeline_stats.json is rewritten leaves the previous
    version on disk, not a truncated file."""
    base = str(tmp_path / "crash")
    config = PipelineConfig(
        output_base=base, input=f"{sf_dir}/documents.parquet"
    )
    real_dump = json.dump
    calls = []

    def dump_then_crash(obj, f, **kw):
        calls.append(sorted(obj))
        if len(calls) == 2:
            f.write('{"ingest": ')
            raise OSError("disk full")
        real_dump(obj, f, **kw)

    monkeypatch.setattr(json, "dump", dump_then_crash)
    with pytest.raises(OSError, match="disk full"):
        run_pipeline(spark, config, steps=["ingest", "clean"])
    assert calls == [["ingest"], ["clean", "ingest"]]
    with open(os.path.join(base, "pipeline_stats.json")) as f:
        on_disk = json.load(f)
    assert list(on_disk) == ["ingest"]
    assert on_disk["ingest"]["status"] == "success"
