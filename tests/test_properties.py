"""Property-based tests (hypothesis) over the pure-Python kernels.

These target the components whose correctness is positional/byte-level —
the WARC reader, text normalization, sequential packing — where
example-based tests miss edge shapes. No SparkSession involved, so the
search space can be explored cheaply.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from llm_data_pipeline_spark.sources.wet import (
    WetIngestConfig,
    extract_wet_bytes,
    iter_warc_records,
    make_wet_gz,
    normalize_text,
)

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@settings(max_examples=60, deadline=None)
@given(st.lists(text_strategy, max_size=8))
def test_warc_roundtrip_preserves_records(texts):
    records = [
        ("conversion", f"http://e/{i}", "2026-01-01T00:00:00Z", t)
        for i, t in enumerate(texts)
    ]
    raw = make_wet_gz(records)
    # parse at the record level: warcinfo + all conversion records come back
    import gzip

    parsed = list(iter_warc_records(gzip.decompress(raw)))
    assert len(parsed) == len(records) + 1  # + warcinfo
    for (headers, payload), (_, url, _, t) in zip(parsed[1:], records):
        assert headers["warc-target-uri"] == url
        assert payload.decode("utf-8") == t


@settings(max_examples=60, deadline=None)
@given(st.lists(text_strategy, max_size=6))
def test_extract_wet_bytes_never_violates_length_gates(texts):
    records = [
        ("conversion", f"http://e/{i}", "2026-01-01T00:00:00Z", t)
        for i, t in enumerate(texts)
    ]
    cfg = WetIngestConfig(min_text_chars=10, max_text_chars=100)
    docs = list(extract_wet_bytes("p", make_wet_gz(records), cfg))
    for d in docs:
        assert 10 <= len(d["text"]) <= 100
        assert "\r" not in d["text"]
        assert "\n\n\n" not in d["text"]
        assert len(d["doc_id"]) == 40


@settings(max_examples=100, deadline=None)
@given(text_strategy)
def test_normalize_text_idempotent(t):
    once = normalize_text(t)
    assert normalize_text(once) == once


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=4, max_value=1000), max_size=30),
        max_size=30,
    ),
    st.sampled_from([8, 16, 64]),
)
def test_sequential_pack_conserves_tokens(samples, seq_len):
    from tests.test_packing import sequential_pack

    chunks = sequential_pack(samples, seq_len, drop_remainder=False)
    emitted = sum(len(c[1]) for c in chunks)
    with_eos = sum(len(s) + (1 if s and s[-1] != 2 else 0) for s in samples if s)
    # padded final chunk rounds up to a seq_len multiple (or nothing at all)
    assert emitted % seq_len == 0
    assert emitted >= with_eos
    assert emitted - with_eos < seq_len
    for _, chunk, seq_id, seq_lens, offsets in chunks:
        assert len(chunk) == seq_len
        assert sum(seq_lens) == seq_len
        assert offsets[-1] == seq_len
        assert len(seq_id) == seq_len