"""Materialized WordPiece merge-table store: likelihood-scored
vocabulary induction (Schuster & Nakajima 2012, the BERT tokenizer's
training objective) — the third tokenizer family beside BPE
(frequency-scored merges, functions/bpe_store.py) and the unigram LM
(EM-trained, functions/unigram_store.py).

WordPiece training is the SAME loop shape as BPE — count adjacent
symbol pairs, pick one, merge corpus-wide — but the argmax is the
pair that maximizes the language-model likelihood gain
    score(a, b) = count(ab) / (count(a) * count(b))
rather than the raw pair count: a pair of rare symbols that almost
always co-occur beats a pair of ubiquitous symbols that merely meet
often. Scores are integer-quantized exactly like the unigram store
(round((ln n_ab - ln n_a - ln n_b) * 1e9) AS BIGINT), so the
cross-engine argmax is exact integer algebra with a pair-string
tie-break, never a float comparison.

The corpus-state machinery (delimiter-wrapped symbol strings, greedy
leftmost non-overlapping replace as the merge step) is shared with
bpe_store — only the scoring differs — and the store discipline is
identical: content-addressed by the documents file + a spec version,
landed by the shared publish step (io/store_key.py), trained once per
corpus version while the ORACLES
re-derive the loop from spec (unrolled CTE rounds), keeping grading
store-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.bpe_store import (
    apply_merges,
    corpus_state,
    split_symbols,
)
from github_miner_spark.io.store_key import content_key, publish, read_store

STORE_ROOT = os.environ.get(
    "SPARK_GRAFT_WORDPIECE_STORE", "/tmp/spark-graft-wordpiece"
)

# Bump when the training algebra changes (round count, score formula,
# quantization scale, tiebreak): participates in the content address.
WP_SPEC_VERSION = "wordpiece6-lnq1e9-min5-v1"

WP_MERGE_ROUNDS = 6
# Same quantization scale as functions/unigram_store.py: 1e-9 absorbs
# any last-ulp ln() divergence between the JVM and DuckDB.
WP_SCORE_SCALE = 1_000_000_000
# Minimum pair frequency eligible to merge — the standard WordPiece
# min-count floor. Without it the likelihood score degenerates: a
# count-1 pair of two hapax symbols scores ln(1)-2ln(1)=0, beating
# every genuinely frequent pair, and training builds one useless chain
# of singleton merges (observed on this corpus: 'dup dup'+'dup'+...).
WP_MIN_PAIR_COUNT = 5


def _store_dir(sf_dir: str) -> str:
    key = content_key(
        sf_dir,
        [("documents", "documents.parquet")],
        extra=(WP_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def build_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full WordPiece training loop: WP_MERGE_ROUNDS rounds of
    corpus-wide pair + symbol counts -> quantized-likelihood argmax
    (score desc, 'left|right' asc) -> greedy merge. Each round is two
    vocab-bounded map-side-combining counts joined on the pair's
    endpoint symbols + a 1-row argmax collect (scalar aggregate, the
    blessed training-loop driver state) + one narrow replace. Returns
    (step, left_sym, right_sym, n_pair, score_q)."""
    st = corpus_state(spark, sf_dir)
    out: list[tuple[int, str, str, int, int]] = []
    for k in range(1, WP_MERGE_ROUNDS + 1):
        tk = split_symbols()
        syms = (
            st.select(F.explode(tk).alias("sym"))
            .groupBy("sym")
            .agg(F.count("*").alias("ns"))
        )
        pairs = (
            st.select(tk.alias("tk"))
            .filter(F.size("tk") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), i -> "
                        "struct(element_at(tk, i) AS l, element_at(tk, i + 1) AS r))"
                    )
                ).alias("p")
            )
            .select("p.l", "p.r")
            .groupBy("l", "r")
            .agg(F.count("*").alias("n_pair"))
        )
        # likelihood gain, integer-quantized: both count frames are
        # vocab-bounded, so the two joins broadcast at any corpus size
        sl = syms.select(F.col("sym").alias("l"), F.col("ns").alias("nl"))
        sr = syms.select(F.col("sym").alias("r"), F.col("ns").alias("nr"))
        scored = (
            pairs.filter(F.col("n_pair") >= WP_MIN_PAIR_COUNT)
            .join(F.broadcast(sl), "l")
            .join(F.broadcast(sr), "r")
            .select(
                "l",
                "r",
                "n_pair",
                F.round(
                    (
                        F.log(F.col("n_pair").cast("double"))
                        - F.log(F.col("nl").cast("double"))
                        - F.log(F.col("nr").cast("double"))
                    )
                    * WP_SCORE_SCALE,
                    0,
                )
                .cast("bigint")
                .alias("score_q"),
                F.concat_ws("|", "l", "r").alias("pair"),
            )
        )
        top = (
            scored.orderBy(F.col("score_q").desc(), "pair").limit(1).collect()
        )
        if not top:
            break
        a, b = top[0]["l"], top[0]["r"]
        out.append((k, a, b, int(top[0]["n_pair"]), int(top[0]["score_q"])))
        st = apply_merges(st, [(a, b)])
    return spark.createDataFrame(
        out,
        "step int, left_sym string, right_sym string, "
        "n_pair bigint, score_q bigint",
    )


def materialize_wordpiece_merges(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the merge table for ``sf_dir`` exists on disk; return
    the store path."""

    def write(stage: str) -> None:
        build_wordpiece_merges(spark, sf_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "merges.parquet"))

    return publish(STORE_ROOT, _store_dir(sf_dir), ("merges.parquet",), write)


def load_wordpiece_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, left_sym, right_sym, n_pair, score_q) from the store."""
    base = materialize_wordpiece_merges(spark, sf_dir)
    return read_store(spark, os.path.join(base, "merges.parquet"))


def max_munch_piece_count(pieces: list[str], toks_col: str = "toks"):
    """Column: the number of greedy longest-match-first (max-munch)
    pieces covering the token-array column — the WordPiece inference
    walk as ONE aggregate() fold: at each position i that the walk
    reaches, jump by the length of the longest piece matching there
    (single tokens are the implicit fallback alphabet). Pure narrow
    expression — no joins, no shuffles, no UDF — so segmentation
    stays a scan at any corpus size.

    ``pieces`` are space-joined token n-grams (multi-token entries
    only matter; singles are the fallback). Tokens must be
    [a-z0-9]+ — the literals are inlined into the expression."""
    import re as _re

    multi = sorted(
        {p for p in pieces if " " in p},
        key=lambda p: (-len(p.split(" ")), p),
    )
    for p in multi:
        if not _re.fullmatch(r"[a-z0-9]+( [a-z0-9]+)+", p):
            raise ValueError(f"piece not inlinable as a literal: {p!r}")
    branches = " ".join(
        f"WHEN i + {len(p.split(' ')) - 1} <= size({toks_col}) "
        f"AND array_join(slice({toks_col}, i, {len(p.split(' '))}), ' ') "
        f"= '{p}' THEN {len(p.split(' '))}"
        for p in multi
    )
    jump = f"CASE {branches} ELSE 1 END" if branches else "1"
    return F.expr(
        f"aggregate(sequence(1, size({toks_col})), "
        "named_struct('nxt', 1, 'cnt', 0), "
        f"(acc, i) -> IF(i = acc.nxt, "
        f"named_struct('nxt', i + {jump}, 'cnt', acc.cnt + 1), acc), "
        "acc -> acc.cnt)"
    )


def vocab_pieces(spark: SparkSession, sf_dir: str) -> list[str]:
    """The learned multi-token pieces as space-joined token n-grams —
    each merge product 'left right' flattens to a contiguous token
    sequence, the lexicon greedy longest-match segmentation walks.
    Deduplicated and sorted by (token length desc, piece) so callers
    probe longest-first deterministically. Driver-side by design: the
    vocabulary is WP_MERGE_ROUNDS rows."""
    rows = load_wordpiece_merges(spark, sf_dir).collect()
    pieces = sorted(
        {f"{r['left_sym']} {r['right_sym']}" for r in rows},
        key=lambda p: (-len(p.split(" ")), p),
    )
    return pieces
