"""Tokenizer + ConstantLengthDataset packer tests (C15/C16, T1-T3).

The packer is cross-checked against an independent sequential fold written
to the reference semantics (tokenizer/run.py:109-214): concatenate samples
with per-sample EOS, emit fixed chunks with carry-over, derive seq_id /
seq_lens / offsets from per-token sample ids, drop or EOS-pad the tail.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from llm_data_pipeline_spark.operators.packing import (
    add_global_offsets,
    pack_chunks,
    packing_meta,
)
from llm_data_pipeline_spark.operators.tokenizer import (
    EOS_ID,
    N_SPECIAL,
    UNK_ID,
    encode_via_join,
    encode_via_udf,
    train_word_vocab,
)


def _runs(sids: list[int]) -> tuple[list[int], list[int], list[int]]:
    length = len(sids)
    seq_id, seq_lens, offsets = [0] * length, [], [0]
    cur, seg, run = sids[0], 0, 0
    for i, sid in enumerate(sids):
        if sid != cur:
            seq_lens.append(run)
            offsets.append(i)
            seg += 1
            cur = sid
            run = 0
        seq_id[i] = seg
        run += 1
    seq_lens.append(run)
    offsets.append(length)
    return seq_id, seq_lens, offsets


def sequential_pack(
    samples: list[list[int]],
    seq_len: int,
    eos: int = EOS_ID,
    add_eos: bool = True,
    ensure_eos: bool = True,
    drop_remainder: bool = True,
) -> list[tuple[int, list[int], list[int], list[int], list[int]]]:
    """Independent re-implementation of the reference's sequential fold."""
    buf: list[int] = []
    sids: list[int] = []
    ctr = 0
    for ids in samples:
        if not ids:
            continue
        if add_eos and (not ensure_eos or ids[-1] != eos):
            ids = ids + [eos]
        buf += ids
        sids += [ctr] * len(ids)
        ctr += 1
    out = []
    n_full = len(buf) // seq_len
    for c in range(n_full):
        chunk = buf[c * seq_len : (c + 1) * seq_len]
        seq_id, seq_lens, offsets = _runs(sids[c * seq_len : (c + 1) * seq_len])
        out.append((c, chunk, seq_id, seq_lens, offsets))
    rem = buf[n_full * seq_len :]
    if rem and not drop_remainder:
        tail = rem + [eos] * (seq_len - len(rem))
        tsids = sids[n_full * seq_len :] + [ctr] * (seq_len - len(rem))
        seq_id, seq_lens, offsets = _runs(tsids)
        out.append((n_full, tail, seq_id, seq_lens, offsets))
    return out


@pytest.fixture(scope="module")
def token_df(spark):
    random.seed(7)
    samples = []
    for _ in range(200):
        n = random.choice([0, 1, 3, 17, 40, 130])
        samples.append([random.randrange(4, 500) for _ in range(n)])
    samples[5] = samples[5][:10] + [EOS_ID]  # ensure_eos: already-terminated
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)],
        "doc_id: long, input_ids: array<int>",
    )
    return samples, df


@pytest.mark.parametrize("strategy", ["partitioned", "window"])
@pytest.mark.parametrize("drop_remainder", [True, False])
def test_pack_matches_sequential_fold(token_df, strategy, drop_remainder):
    samples, df = token_df
    got = {
        r["chunk_id"]: r
        for r in pack_chunks(
            df,
            seq_len=64,
            drop_remainder=drop_remainder,
            prefix_strategy=strategy,
        ).collect()
    }
    want = sequential_pack(samples, 64, drop_remainder=drop_remainder)
    assert len(got) == len(want)
    for c, chunk, seq_id, seq_lens, offsets in want:
        row = got[c]
        assert list(row["input_ids"]) == chunk
        assert list(row["seq_id"]) == seq_id
        assert list(row["seq_lens"]) == seq_lens
        assert list(row["offsets"]) == offsets


def test_pack_no_eos(token_df, spark):
    samples, df = token_df
    got = {
        r["chunk_id"]: list(r["input_ids"])
        for r in pack_chunks(df, seq_len=64, add_eos=False).collect()
    }
    want = sequential_pack(samples, 64, add_eos=False)
    assert got == {c: chunk for c, chunk, *_ in want}


def test_pack_meta(token_df):
    _, df = token_df
    chunks = pack_chunks(df, seq_len=64)
    meta = packing_meta(chunks, seq_len=64)
    assert meta["total_tokens_out"] == meta["total_chunks"] * 64
    assert meta["eos_id"] == EOS_ID


def test_prefix_sum_strategies_agree(spark):
    df = spark.createDataFrame(
        [(i, (i * 37) % 11 + 1) for i in range(1000)], "k: long, n: long"
    )
    a = {
        r["k"]: (r["start"], r["ord"])
        for r in add_global_offsets(
            df, "n", ["k"], strategy="partitioned", ordinal_col="ord"
        ).collect()
    }
    b = {
        r["k"]: (r["start"], r["ord"])
        for r in add_global_offsets(
            df, "n", ["k"], strategy="window", ordinal_col="ord"
        ).collect()
    }
    assert a == b
    assert a[0] == (0, 0)


def test_global_offsets_driver_matches_range(spark, monkeypatch):
    """add_global_offsets' driver path (one bounded collect, driver cumsum,
    broadcast join) gives the range path's rows and totals, NULL key
    first; a duplicate key falls back to the range path."""
    from llm_data_pipeline_spark.operators import packing

    df = spark.createDataFrame(
        [(None if i == 7 else i, (i * 37) % 11 + 1, f"p{i}") for i in range(300)],
        "k: long, n: long, payload: string",
    )
    dup = df.unionByName(df.where("k = 3"))
    assert packing._driver_offsets(df, "n", ["k"], "ord") is not None
    assert packing._driver_offsets(dup, "n", ["k"], "ord") is None

    def run(frame):
        out, totals = add_global_offsets(
            frame, "n", ["k"], ordinal_col="ord", return_totals=True
        )
        return out.columns, sorted(map(tuple, out.collect()), key=repr), totals

    driver = [run(df), run(dup)]
    monkeypatch.setattr(packing, "OFFSETS_DRIVER_MAX_ROWS", 0)
    assert packing._driver_offsets(df, "n", ["k"], "ord") is None
    assert driver == [run(df), run(dup)]
    rows = {r[0]: r for r in driver[0][1]}
    assert rows[None][3:] == (0, 0)  # NULL sorts first, as in Spark
    assert rows[0][3:] == (rows[None][1], 1)


def test_encode_join_and_udf_agree(spark):
    texts = [
        (0, "the cat sat on the mat, the mat!"),
        (1, "dogs and cats; CATS_and_dogs 42 42 42"),
        (2, ""),
        (3, "zzz unseen words here"),
    ]
    df = spark.createDataFrame(texts, "doc_id: long, text: string")
    vocab = train_word_vocab(df, vocab_size=N_SPECIAL + 6)
    a = {r["doc_id"]: list(r["input_ids"]) for r in encode_via_join(df, vocab).collect()}
    b = {r["doc_id"]: list(r["input_ids"]) for r in encode_via_udf(df, vocab).collect()}
    assert a == b
    assert a[2] == []
    # OOV tokens map to UNK
    assert UNK_ID in a[3]


def test_vocab_ids_deterministic_and_ranked(spark):
    df = spark.createDataFrame(
        [(0, "b b b a a c"), (1, "a d")], "doc_id: long, text: string"
    )
    vocab = {r["token"]: (r["id"], r["freq"]) for r in train_word_vocab(df).collect()}
    # freq: a=3, b=3, c=1, d=1 -> ties broken by token asc
    assert vocab["a"][0] == N_SPECIAL
    assert vocab["b"][0] == N_SPECIAL + 1
    assert vocab["c"][0] == N_SPECIAL + 2
    assert vocab["d"][0] == N_SPECIAL + 3


# --- whole-document next-fit bin packing ------------------------------------


def _brute_next_fit(items, capacity):
    """Reference fold: items = [(key, tlen)] sorted by key."""
    out, bin_idx, fill = {}, 0, 0
    for k, t in sorted(items):
        t = min(t, capacity)
        if fill + t > capacity:
            bin_idx, fill = bin_idx + 1, 0
        out[k] = (bin_idx, fill)
        fill += t
    return out


def test_pack_bins_matches_brute_force_any_partitioning(spark):
    from llm_data_pipeline_spark.operators.packing import pack_bins_next_fit

    rows = [(i, 7 + (i * 13) % 90) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int").repartition(7)
    got = {
        r.doc_id: (r.bucket, r.bin_idx, r.bin_offset, r.tlen)
        for r in pack_bins_next_fit(df, capacity=64, n_buckets=4).collect()
    }
    assert len(got) == 200
    for b in range(4):
        ref = _brute_next_fit(
            [(k, t) for k, t in rows if k % 4 == b], capacity=64
        )
        for k, (bin_idx, off) in ref.items():
            assert got[k] == (b, bin_idx, off, min(dict(rows)[k], 64))


def test_pack_bins_invariants_and_truncation(spark):
    from llm_data_pipeline_spark.operators.packing import pack_bins_next_fit

    rows = [(0, 500), (4, 30), (8, 40), (12, 40), (16, 0), (20, 64)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = pack_bins_next_fit(df, capacity=64, n_buckets=4).collect()
    by_key = {r.doc_id: r for r in out}
    assert by_key[0].tlen == 64  # truncated to capacity
    # every doc whole in exactly one bin; fills never exceed capacity
    fills = {}
    for r in out:
        assert r.bin_offset + r.tlen <= 64
        fills[(r.bucket, r.bin_idx)] = fills.get((r.bucket, r.bin_idx), 0) + r.tlen
    assert all(v <= 64 for v in fills.values())
    # zero-length doc is placed deterministically, not dropped
    assert 16 in by_key
