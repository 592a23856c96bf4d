"""Sources/sinks tests: WET ingest (S1/S2), text/packed/binary sinks (S6-S8)."""

from __future__ import annotations

import glob
import gzip
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from llm_data_pipeline_spark.sources.sinks import (
    export_binary,
    write_packed_parquet,
    write_text_shards,
)
from llm_data_pipeline_spark.sources.wet import (
    WetIngestConfig,
    extract_wet_bytes,
    make_wet_gz,
    normalize_text,
    read_wet,
)


@pytest.fixture(scope="module")
def wet_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wet")
    long_text = "line one\r\nline two\n\n\n\nline three " + "x" * 400
    records = [
        ("conversion", "http://a.example/1", "2026-01-02T03:04:05Z", long_text),
        ("conversion", "http://a.example/2", "2026-01-02T03:04:06Z", "too short"),
        ("request", "http://a.example/3", "2026-01-02T03:04:07Z", "y" * 500),
        ("conversion", "http://a.example/4", "2026-01-02T03:04:08Z", "z" * 300),
    ]
    (d / "crawl-00.wet.gz").write_bytes(make_wet_gz(records))
    records2 = [
        ("conversion", "http://b.example/1", "2026-01-03T00:00:00Z", "w" * 250_000),
    ]
    (d / "crawl-01.wet.gz").write_bytes(make_wet_gz(records2))
    return str(d)


def test_extract_wet_bytes_semantics(wet_dir):
    raw = open(os.path.join(wet_dir, "crawl-00.wet.gz"), "rb").read()
    docs = list(extract_wet_bytes("p.wet.gz", raw, WetIngestConfig()))
    # warcinfo + request skipped, short text dropped -> 2 conversion docs kept
    assert [d["url"] for d in docs] == ["http://a.example/1", "http://a.example/4"]
    # newline normalization: CRLF folded, blank runs collapsed
    assert "\r" not in docs[0]["text"]
    assert "\n\n\n" not in docs[0]["text"]
    # sha1 doc ids: 40 hex chars, stable
    assert len(docs[0]["doc_id"]) == 40
    again = list(extract_wet_bytes("p.wet.gz", raw, WetIngestConfig()))
    assert [d["doc_id"] for d in again] == [d["doc_id"] for d in docs]


def test_extract_truncation_and_cap(wet_dir):
    raw = open(os.path.join(wet_dir, "crawl-01.wet.gz"), "rb").read()
    docs = list(extract_wet_bytes("p", raw, WetIngestConfig()))
    assert len(docs[0]["text"]) == 200_000  # truncated, not dropped
    cfgcap = WetIngestConfig(max_docs_per_file=1)
    raw0 = open(os.path.join(wet_dir, "crawl-00.wet.gz"), "rb").read()
    assert len(list(extract_wet_bytes("p", raw0, cfgcap))) == 1


def test_read_wet_distributed(spark, wet_dir):
    df = read_wet(spark, wet_dir + "/*.wet.gz")
    rows = df.orderBy("url").collect()
    assert [r["url"] for r in rows] == [
        "http://a.example/1",
        "http://a.example/4",
        "http://b.example/1",
    ]
    assert df.columns == ["doc_id", "url", "warc_date", "source_path", "text"]
    # max_files cap is deterministic (sorted by path)
    df1 = read_wet(spark, wet_dir + "/*.wet.gz", max_files=1)
    assert {r["source_path"].split("/")[-1] for r in df1.collect()} == {
        "crawl-00.wet.gz"
    }


def test_write_text_shards(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"doc {i}\nsecond line {i}") for i in range(20)],
        "doc_id: long, text: string",
    )
    out = str(tmp_path / "shards")
    write_text_shards(df, out, n_shards=4)
    files = glob.glob(out + "/part-*")
    assert len(files) == 4
    lines = sorted(
        line for f in files for line in open(f).read().splitlines() if line
    )
    assert len(lines) == 20
    assert all("\n" not in line for line in lines)
    assert "doc 3 second line 3" in lines


def test_write_packed_parquet_sharding(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("chunk_id"),
        F.array_repeat(F.lit(7), 4).alias("input_ids"),
    )
    out = str(tmp_path / "packed")
    write_packed_parquet(df.repartition(1), out, shard_chunks=3)
    back = spark.read.parquet(out)
    assert back.count() == 10
    data_files = [f for f in glob.glob(out + "/*.parquet")]
    assert len(data_files) >= 4  # 10 rows / 3-per-file cap


@pytest.mark.parametrize("layout", ["partitions", "one_chunk"])
def test_export_binary(spark, tmp_path, layout):
    # "partitions": 50 chunks arrive reversed and spread over 4 input
    # partitions; "one_chunk": a single chunk, so most export partitions
    # are empty and write no shard
    n = 50 if layout == "partitions" else 1
    chunks = [(i, [i * 4 + j for j in range(4)]) for i in range(n)]
    df = spark.createDataFrame(
        chunks[::-1], "chunk_id: long, input_ids: array<int>"
    ).repartition(4)
    meta = export_binary(df, str(tmp_path / "export"), dtype="uint16")
    arr = np.fromfile(meta["path"], dtype=np.uint16)
    assert meta["total_tokens"] == 4 * n
    assert list(arr) == list(range(4 * n))  # global chunk order restored
    assert meta["n_overflow"] == 0
    assert meta["dtype"] == "uint16"


def test_export_binary_overflow_count(spark, tmp_path):
    # overflowing ids in several chunks, so more than one shard counts some
    chunks = [(i, [1, 70000 + i, 2, 65535]) for i in range(8)]
    chunks.append((8, [65536, 3]))
    df = spark.createDataFrame(chunks, "chunk_id: long, input_ids: array<int>")
    meta = export_binary(df, str(tmp_path / "ovf"), dtype="uint16")
    assert meta["n_overflow"] == 9
    arr = np.fromfile(meta["path"], dtype=np.uint16)
    assert meta["total_tokens"] == len(arr) == 34
    assert list(arr[:4]) == [1, 70000 % 65536, 2, 65535]  # wrapped, in order
    wide = export_binary(df, str(tmp_path / "ovf32"), dtype="int32")
    assert wide["n_overflow"] == 0 and wide["dtype"] == "int32"
    assert list(np.fromfile(wide["path"], dtype=np.int32)[-2:]) == [65536, 3]


@pytest.mark.parametrize("dtype", ["uint32", "unit16"])
def test_export_binary_rejects_unknown_dtype(spark, tmp_path, dtype):
    df = spark.createDataFrame([(0, [1, 2])], "chunk_id: long, input_ids: array<int>")
    out = tmp_path / "bad"
    with pytest.raises(ValueError, match="dtype"):
        export_binary(df, str(out), dtype=dtype)
    assert not out.exists()  # rejected before any file is written


def test_normalize_text_parity():
    assert normalize_text(" a\r\nb\r\rc\n\n\n\nd ") == "a\nb\n\nc\n\nd"
