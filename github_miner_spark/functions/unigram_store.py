"""Materialized unigram-LM tokenizer store (SentencePiece-style, Kudo
2018): the EM training loop runs once per source dir and its learned
piece vocabulary + per-word Viterbi segmentations are served to the
tokenizer queries.

The EM complement to functions/bpe_store.py (VERDICT r8 item 7): BPE
trains by greedy pair MERGING; the unigram LM trains by EM over a
seeded piece vocabulary — seed counts from all substrings (length <=
PIECE_MAX_LEN) of the word dictionary, then EM_ROUNDS hard-EM rounds
of (E) best segmentation per distinct word under the current piece
log-probabilities and (M) usage re-counting, with an add-one floor on
single characters so the vocabulary always covers the alphabet.

Cross-engine determinism is by construction, not luck: piece scores
are QUANTIZED to integers — round((ln(c) - ln(T)) * 1e9) AS BIGINT —
so every segmentation score is an exact integer sum and the per-word
argmax (min over struct(-score, n_pieces, seg)) is identical algebra
in Spark, DuckDB, and the pure-Python replay test. A 1-ulp ln()
divergence between engines can only flip a score if the scaled value
sits within ~2e-7 of a rounding boundary (probability ~1e-4 over the
whole vocabulary, and pinned by the oracle-parity sweep on the fixed
corpus).

Scale shape: EVERYTHING vocabulary/dictionary-sized. The corpus
appears exactly twice — once to build the word dictionary with
frequencies (one groupBy), once at application time (a dictionary
broadcast join in unigram_lm_segmentation_stats). Segmentations are
enumerated per DISTINCT word as cut-position bitmasks (2^(len-1),
bounded by WORD_MAX_LEN=16, raise-don't-cap beyond), never per corpus
token. The ORACLES re-derive the full loop from spec (unrolled CTEs),
so grading stays store-independent — a stale store hash-mismatches
instead of grading itself.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin, pin_observed
from github_miner_spark.io.store_key import content_key, publish, read_store

STORE_ROOT = os.environ.get(
    "SPARK_GRAFT_UNIGRAM_STORE", "/tmp/spark-graft-unigram"
)

# Bump when the training algebra changes (seed, rounds, score
# quantization, tie-break): participates in the content address.
UNIGRAM_SPEC_VERSION = "em2-sub4-q1e9-v1"

PIECE_MAX_LEN = 4
EM_ROUNDS = 2
WORD_MAX_LEN = 16
SCORE_SCALE = 1_000_000_000  # 1e9: integer log-prob quantization


def _store_dir(sf_dir: str) -> str:
    key = content_key(
        sf_dir,
        [("documents", "documents.parquet")],
        extra=(UNIGRAM_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, f) — the distinct-word dictionary with corpus
    frequencies; the ONLY corpus-sized pass in training."""
    from github_miner_spark.functions.text import tokenize
    from github_miner_spark.io.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("f"))
    )


def candidate_segmentations(words: DataFrame) -> DataFrame:
    """All segmentations of each distinct word into pieces of length
    <= PIECE_MAX_LEN, as (word, m, n_pieces, pieces array<string>).
    A segmentation is a subset of the len-1 cut positions, enumerated
    as bitmask m; validity = no piece longer than PIECE_MAX_LEN.
    Raises (via the CASE) if a word exceeds WORD_MAX_LEN — the
    enumeration budget is 2^(WORD_MAX_LEN-1) per DICTIONARY entry,
    never per corpus token."""
    n = F.length("word")
    guarded = words.select(
        "word",
        F.when(n <= WORD_MAX_LEN, n)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"unigram trainer: word longer than {WORD_MAX_LEN}"
                        " chars: "
                    ),
                    F.col("word"),
                )
            )
        )
        .alias("n"),
    )
    masks = guarded.select(
        "word",
        "n",
        F.explode(
            F.expr(
                "sequence(CAST(0 AS BIGINT),"
                " shiftleft(CAST(1 AS BIGINT), n - 1) - 1)"
            )
        ).alias("m"),
    )
    # cut bounds = [0] ++ set-bit positions of m ++ [n]; piece j spans
    # (bounds[j], bounds[j+1]] — projected as its own column so the
    # piece lambda references ONE materialized array, not four
    # re-inlined filter() copies (the lambda-CSE boundary discipline)
    bounded = masks.select(
        "word",
        "n",
        "m",
        F.expr(
            "concat(array(CAST(0 AS INT)),"
            " filter(sequence(1, n - 1),"
            "        i -> shiftright(m, i - 1) % 2 = 1),"
            " array(n))"
        ).alias("bounds"),
    )
    pieces = bounded.select(
        "word",
        "m",
        F.expr(
            "transform(sequence(1, size(bounds) - 1),"
            " j -> substring(word, element_at(bounds, j) + 1,"
            "  element_at(bounds, j + 1) - element_at(bounds, j)))"
        ).alias("pieces"),
    )
    return pieces.filter(
        F.expr(f"forall(pieces, p -> length(p) <= {PIECE_MAX_LEN})")
    ).select("word", "m", F.size("pieces").alias("n_pieces"), "pieces")


def quantized_scores(counts: DataFrame, total: int) -> DataFrame:
    """(piece, q): q = round((ln(c) - ln(T)) * 1e9) AS BIGINT — the
    integer log-prob quantization shared verbatim by the oracle."""
    return counts.select(
        "piece",
        F.expr(
            f"CAST(round((ln(CAST(cnt AS DOUBLE))"
            f" - ln(CAST({total} AS DOUBLE))) * {SCORE_SCALE}, 0) AS BIGINT)"
        ).alias("q"),
    )


def best_segmentations(
    cands: DataFrame, counts: DataFrame, total: int
) -> DataFrame:
    """E-step: per word, the segmentation maximizing the (integer)
    quantized log-likelihood; ties break to fewer pieces then the
    lexicographically smallest '|'-joined segmentation. Segmentations
    containing any out-of-vocabulary piece are infeasible (inner join
    + piece-count check). Returns (word, seg, n_pieces, pieces)."""
    q = quantized_scores(counts, total)
    scored = (
        cands.select(
            "word", "m", "n_pieces", F.explode("pieces").alias("piece")
        )
        .join(q, "piece")
        .groupBy("word", "m", "n_pieces")
        .agg(F.sum("q").alias("score"), F.count("*").alias("n_in"))
        .filter(F.col("n_in") == F.col("n_pieces"))
    )
    keyed = scored.join(
        cands.select("word", "m", F.array_join("pieces", "|").alias("seg")),
        ["word", "m"],
    )
    best = (
        keyed.groupBy("word")
        .agg(
            F.min(
                F.struct(
                    (-F.col("score")).alias("ns"),
                    F.col("n_pieces").cast("bigint").alias("np"),
                    F.col("seg").alias("seg"),
                )
            ).alias("b")
        )
        .select(
            "word",
            F.col("b.seg").alias("seg"),
            F.col("b.np").alias("n_pieces"),
        )
    )
    return best.withColumn("pieces", F.split("seg", "[|]"))


def _seed_counts(words: DataFrame) -> DataFrame:
    """(piece, cnt): every substring of length 1..PIECE_MAX_LEN of
    every dictionary word, weighted by word frequency and occurrence
    multiplicity — the SentencePiece-style seed vocabulary."""
    subs = words.select(
        "f",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)),"
                f" i -> transform(sequence(1, least({PIECE_MAX_LEN},"
                " length(word) - i + 1)),"
                " l -> substring(word, i, l))))"
            )
        ).alias("piece"),
    )
    return subs.groupBy("piece").agg(F.sum("f").cast("bigint").alias("cnt"))


def build_unigram_model(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Run the full training loop; returns (vocab, word_segs):
    vocab = (piece, cnt) after EM_ROUNDS M-steps, word_segs = the
    final-vocabulary Viterbi segmentation of every dictionary word
    (word, f, seg, n_pieces)."""
    words = pin(word_freqs(spark, sf_dir), eager=True)
    cands = pin(candidate_segmentations(words), eager=True)
    chars = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word)),"
                   " i -> substring(word, i, 1))")
        ).alias("piece")
    ).distinct()
    # every counts pin also observes its total: the E-step's
    # normalizer costs no job of its own
    counts, seen = pin_observed(_seed_counts(words), total=F.sum("cnt"))
    for _ in range(EM_ROUNDS):
        best = best_segmentations(cands, counts, int(seen["total"]))
        usage = (
            best.select("word", F.explode("pieces").alias("piece"))
            .join(words, "word")
            .groupBy("piece")
            .agg(F.sum("f").cast("bigint").alias("cnt"))
        )
        # add-one floor on every alphabet character: the vocabulary
        # must always cover single chars or the next E-step could
        # strand a word with no feasible segmentation
        counts, seen = pin_observed(
            usage.unionByName(
                chars.select("piece", F.lit(1).cast("bigint").alias("cnt"))
            )
            .groupBy("piece")
            .agg(F.sum("cnt").cast("bigint").alias("cnt")),
            total=F.sum("cnt"),
        )
    segs = (
        best_segmentations(cands, counts, int(seen["total"]))
        .join(words, "word")
        .select("word", "f", "seg", "n_pieces")
    )
    return counts, segs


def materialize_unigram_model(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the trained model for ``sf_dir`` exists on disk; return
    the store path."""

    def write(stage: str) -> None:
        vocab, segs = build_unigram_model(spark, sf_dir)
        vocab.write.mode("overwrite").parquet(os.path.join(stage, "vocab.parquet"))
        segs.write.mode("overwrite").parquet(
            os.path.join(stage, "word_segs.parquet")
        )

    return publish(
        STORE_ROOT, _store_dir(sf_dir), ("vocab.parquet", "word_segs.parquet"), write
    )


def load_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(piece, cnt) from the materialized store."""
    base = materialize_unigram_model(spark, sf_dir)
    return read_store(spark, os.path.join(base, "vocab.parquet"))


def load_word_segs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, f, seg, n_pieces) from the materialized store."""
    base = materialize_unigram_model(spark, sf_dir)
    return read_store(spark, os.path.join(base, "word_segs.parquet"))
