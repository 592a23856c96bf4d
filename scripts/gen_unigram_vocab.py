"""Train the in-engine unigram-LM tokenizer vocab (Kudo 2018, hard-EM
variant) and emit committed integer-cost literals.

Recipe (deterministic, documented so the artifact is reproducible):
- corpus: sf0.01 documents, norm_ws-normalized (lowercase, ws-collapse);
- seed vocab: every char n-gram of length 1..MAX_PIECE with count >= 5,
  top 2000 by (count desc, piece), plus every single char (coverage);
- costs: self-information in integer micro-nats,
  cost = round(1e6 * ln(total/count)) — ln evaluates HERE once, at
  generation time; query time on both engines is pure integer compare;
- hard EM x3: Viterbi-segment the corpus under current costs (tie-break
  min (cost, piece_len)), recount piece usage, re-cost; prune to the top
  300 used pieces + all single chars (unused chars get the 0.5-smoothed
  max cost so coverage never breaks);
- DEFAULT_COST covers characters unseen at training time (larger SFs).

Run: python scripts/gen_unigram_vocab.py  (rewrites data/unigram_vocab.py)
"""
from __future__ import annotations

import math
import re
from collections import Counter

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MAX_PIECE = 4
PREFIX = 32  # graded-fixture prefix length (oracle DP unrolls this many steps)
SF_DIR = "/root/testdata/sf0.01"
OUT = "llm_data_pipeline_spark/data/unigram_vocab.py"


def viterbi(t: str, cost: dict[str, int], default: int) -> list[str]:
    """THE engine's decoder, not a re-implementation: training segments
    with the identical DP + (cost, piece_len) tie-break the committed
    costs will later be decoded with, so hard-EM counts can never drift
    from engine semantics."""
    from llm_data_pipeline_spark.operators.unigram_lm import viterbi_segment

    return viterbi_segment(t, cost, default, max_piece=MAX_PIECE)[0]


def main() -> None:
    # the trainer itself lives in the engine (operators/unigram_lm.py:
    # train_unigram); this script is just the corpus reader + literal
    # emitter.
    # Equivalence to the committed artifact was verified bit-for-bit when
    # the training loop moved there.
    from llm_data_pipeline_spark.operators.unigram_lm import train_unigram

    con = duckdb.connect()
    rows = con.execute(
        "SELECT trim(regexp_replace(lower(coalesce(text,'')), '\\s+', ' ', 'g'))"
        f" FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    texts = [t for (t,) in rows if t]
    cost, default = train_unigram(
        texts, vocab_size=300, em_iters=3, max_piece=MAX_PIECE
    )

    body = ",\n".join(
        f"    {p!r}: {c}" for p, c in sorted(cost.items())
    )
    with open(OUT, "w") as f:
        f.write(
            '"""Committed unigram-LM tokenizer vocab — GENERATED by\n'
            "scripts/gen_unigram_vocab.py (see its docstring for the exact\n"
            "training recipe). Integer micro-nat costs; ln never evaluates\n"
            "at query time on either engine.\"\"\"\n\n"
            f"MAX_PIECE = {MAX_PIECE}\n"
            f"PREFIX = {PREFIX}\n"
            f"DEFAULT_COST = {default}\n\n"
            "PIECES = {\n" + body + ",\n}\n"
        )
    print(f"wrote {OUT}: {len(cost)} pieces, default {default}")


if __name__ == "__main__":
    main()
