"""Unigram-LM tokenizer (Kudo 2018 — the SentencePiece algorithm) run
natively in the engine: Viterbi segmentation under committed integer
micro-nat piece costs.

The reference's core tokenizer is SentencePiece
(/root/reference/src/llm_data_pipeline/tokenizer/train.py:90-264); the
sentencepiece wheel cannot be installed in this container, so the
ALGORITHM is implemented here instead of wrapped: a trained unigram piece
vocabulary (scripts/gen_unigram_vocab.py — seed n-grams, hard-EM
reweighting, prune; costs = round(1e6*ln(total/count)) committed as
literals in data/unigram_vocab.py) and exact Viterbi decoding. All
query-time arithmetic is integer compares and adds — ln evaluated once at
generation time, never per engine — so the segmentation is bit-replayable
by a DuckDB DP oracle.

The encode runs as ONE Arrow-batched pandas UDF (the tokenizer is the
canonical legitimate-Python stage — same verdict as the reference, whose
tokenize stage is also a Python worker over batches); everything around
it stays JVM-side. DP cost is O(len * MAX_PIECE) per doc with a dict
probe per step — no quadratic anything, no state beyond the broadcast
vocab dict (a few KB here; a few MB at vocab 32k, still broadcast-sized).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from llm_data_pipeline_spark.data.unigram_vocab import (
    DEFAULT_COST,
    MAX_PIECE,
    PIECES,
    PREFIX,
)


def viterbi_segment(
    t: str,
    cost: dict[str, int] | None = None,
    default: int | None = None,
    max_piece: int = MAX_PIECE,
) -> tuple[list[str], int]:
    """Exact Viterbi segmentation of ``t``: (pieces, total_cost_micro).

    Tie-break: minimize (cost, piece_len) — the same total order the SQL
    oracle uses (ORDER BY nc, l), so both engines pick identical paths.
    Unknown single chars cost ``default`` (coverage never breaks).
    """
    cost = PIECES if cost is None else cost
    default = DEFAULT_COST if default is None else default
    n = len(t)
    dp: list[int] = [0] * (n + 1)
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        best = None
        bl = 1
        for l in range(1, min(max_piece, i) + 1):
            c = cost.get(t[i - l : i])
            if c is None:
                if l != 1:
                    continue
                c = default
            cand = (dp[i - l] + c, l)
            if best is None or cand < best:
                best, bl = cand, l
        dp[i] = best[0]
        back[i] = bl
    pieces, i = [], n
    while i > 0:
        pieces.append(t[i - back[i] : i])
        i -= back[i]
    return pieces[::-1], dp[n]


def unigram_encode_expr(text: Column) -> Column:
    """struct(pieces: '|'-joined string, n_pieces, total_cost_micro) for
    one text column, via one Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "pieces string, n_pieces int, total_cost_micro bigint"
    )
    def _encode(s: pd.Series) -> pd.DataFrame:
        out = []
        for t in s:
            if t is None:
                out.append(("", 0, 0))
                continue
            pieces, c = viterbi_segment(t)
            out.append(("|".join(pieces), len(pieces), c))
        return pd.DataFrame(
            out, columns=["pieces", "n_pieces", "total_cost_micro"]
        )

    return _encode(text)


def graded_prefix(text: Column) -> Column:
    """The graded-fixture text: norm_ws prefix padded to exactly PREFIX
    chars so every doc's DP has the same depth — which is what lets the
    oracle unroll it. The '_' pad char is deliberately NOT a corpus char
    (tests pin this): it rides the DEFAULT_COST length-1 fallback, which
    both engines apply identically, so the pad also exercises the
    unknown-char path on every document."""
    from llm_data_pipeline_spark.functions.text import norm_ws

    return F.rpad(F.substring(norm_ws(text), 1, PREFIX), PREFIX, "_")


def unigram_oracle_sql() -> str:
    """Unrolled exact-Viterbi DP over the committed unigram vocab: one
    MATERIALIZED CTE per text position (PREFIX steps — materialization is
    load-bearing: inlined, the dp chain re-expands exponentially since
    step i references steps i-1..i-4), candidates = trained pieces ending
    at that position (length-1 falls back to DEFAULT_COST so coverage
    never breaks), argmin by (cost, piece_len) — the identical total
    order the Python operator minimizes, so paths match bit-for-bit.

    Lives in this LEAF module (not a queries_* module) because two graded
    queries share it — unigram_lm_encode and streaming_unigram_encode —
    and wiring it across query modules by mutating REGISTRY at import
    time made the oracle silently import-order-dependent."""
    norm = "trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
    vals = ", ".join(
        f"('{p.replace(chr(39), chr(39) * 2)}', {c})"
        for p, c in sorted(PIECES.items())
    )
    ctes = [
        f"pieces(piece, cost) AS MATERIALIZED (VALUES {vals})",
        f"""t AS MATERIALIZED (
      SELECT doc_id, rpad(substr({norm}, 1, {PREFIX}), {PREFIX}, '_') AS t
      FROM documents WHERE length({norm}) > 0
    )""",
        "dp0 AS MATERIALIZED (SELECT doc_id, CAST(0 AS BIGINT) AS c,"
        " '' AS p, CAST(0 AS INT) AS n FROM t)",
    ]
    for i in range(1, PREFIX + 1):
        unions = []
        for l in range(1, min(MAX_PIECE, i) + 1):
            start = i - l + 1
            if l == 1:
                unions.append(
                    f"""
      SELECT dp.doc_id, 1 AS l,
             dp.c + coalesce(v.cost, {DEFAULT_COST}) AS nc,
             dp.p || '|' || substr(t.t, {start}, 1) AS np,
             dp.n + 1 AS nn
      FROM dp{i - 1} dp JOIN t USING (doc_id)
      LEFT JOIN pieces v ON v.piece = substr(t.t, {start}, 1)"""
                )
            else:
                unions.append(
                    f"""
      SELECT dp.doc_id, {l} AS l, dp.c + v.cost AS nc,
             dp.p || '|' || substr(t.t, {start}, {l}) AS np,
             dp.n + 1 AS nn
      FROM dp{i - l} dp JOIN t USING (doc_id)
      JOIN pieces v ON v.piece = substr(t.t, {start}, {l})"""
                )
        ctes.append(
            f"""dp{i} AS MATERIALIZED (
      SELECT doc_id, nc AS c, np AS p, nn AS n FROM (
        SELECT doc_id, nc, np, nn,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY nc, l) AS rn
        FROM ({" UNION ALL ".join(unions)})
      ) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, c AS total_cost_micro,
           -- n is carried through the DP, NOT re-derived by splitting the
           -- '|'-joined path: a piece that IS '|' would miscount there
           CAST(n AS INT) AS n_pieces,
           md5(substr(p, 2)) AS pieces_md5
    FROM dp{PREFIX} ORDER BY doc_id"""
    )


def train_unigram(
    texts: list[str],
    vocab_size: int = 300,
    em_iters: int = 3,
    max_piece: int = MAX_PIECE,
    seed_size: int = 2000,
    min_count: int = 5,
) -> tuple[dict[str, int], int]:
    """Hard-EM unigram-LM trainer (Kudo 2018 — the SentencePiece training
    algorithm's hard-EM variant): seed vocab from frequent char n-grams,
    then E-step = Viterbi-segment the corpus under current costs (THE
    engine decoder above, so counts can never drift from engine
    semantics), M-step = recount piece usage, prune to the top
    ``vocab_size`` used pieces + all single chars (coverage never
    breaks), re-cost as integer micro-nat self-information. Returns
    (cost_dict, default_cost) — default covers chars unseen in training.

    Driver-side by design: the reference's SPM training is likewise a
    single-process step over a bounded sample
    (/root/reference/src/llm_data_pipeline/tokenizer/train.py:111-134 —
    input_sentence_size caps the corpus the trainer sees), and the cost
    model here matches: wall time is dominated by the E-step Viterbi
    sweep, O(sum_len * max_piece) per iteration with O(1) dict probes —
    INDEPENDENT of vocab size, so the training curve vs vocab size is
    flat/sublinear. At
    100 TB the corpus sample is a bounded driver artifact (same as BPE's
    word-freq dict); the trained vocab broadcasts to the encode UDF."""
    import math
    from collections import Counter

    cnt: Counter[str] = Counter()
    for t in texts:
        for l in range(1, max_piece + 1):
            for i in range(len(t) - l + 1):
                cnt[t[i : i + l]] += 1
    chars = {p for p in cnt if len(p) == 1}
    seed = dict(
        sorted(
            ((p, c) for p, c in cnt.items() if c >= min_count),
            key=lambda kv: (-kv[1], kv[0]),
        )[:seed_size]
    )
    for ch in chars:
        seed.setdefault(ch, cnt[ch])
    total = sum(seed.values())
    cost = {p: round(1e6 * math.log(total / c)) for p, c in seed.items()}
    default = round(1e6 * math.log(total / 0.5))
    for _ in range(em_iters):
        uses: Counter[str] = Counter()
        for t in texts:
            uses.update(
                viterbi_segment(t, cost, default, max_piece=max_piece)[0]
            )
        keep = dict(
            sorted(uses.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
        )
        for ch in chars:
            keep.setdefault(ch, uses.get(ch, 0))
        tot = sum(keep.values()) or 1
        cost = {
            p: round(1e6 * math.log(tot / c))
            if c > 0
            else round(1e6 * math.log(tot / 0.5))
            for p, c in keep.items()
        }
        default = round(1e6 * math.log(tot / 0.5))
    return cost, default
