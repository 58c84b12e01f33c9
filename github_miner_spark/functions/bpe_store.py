"""Materialized BPE merge-table store: the vocabulary-induction
training loop runs once per source dir and its learned merge table is
served to every tokenizer query.

Same architecture and reasoning as functions/walk_store.py: the merge
table is a pure function of (corpus, rounds, pair algebra) — training
it is ETL, a driver loop of vocab-bounded counts — and two queries
consume it (bpe_vocab_induction returns the table itself;
bpe_segmentation_stats applies the merges back to the corpus), so no
query should re-run the training loop per call. A real tokenizer
pipeline trains once and ships the merge file for exactly this
reason. Content-addressed by the documents file + a spec version;
landed by the shared publish step (io/store_key.py). The ORACLES
keep re-deriving the loop from spec (unrolled CTE triples), so
grading stays store-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.io.store_key import content_key, publish, read_store

STORE_ROOT = os.environ.get("SPARK_GRAFT_BPE_STORE", "/tmp/spark-graft-bpe")

# Bump when the training algebra changes (round count, tokenizer,
# tiebreak, pair-key format): participates in the content address.
BPE_SPEC_VERSION = "bpe6-wordtok-md5free-v1"

BPE_MERGE_ROUNDS = 6


def _store_dir(sf_dir: str) -> str:
    key = content_key(
        sf_dir,
        [("documents", "documents.parquet")],
        extra=(BPE_SPEC_VERSION,),
    )
    return os.path.join(STORE_ROOT, key)


def corpus_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delimiter-wrapped symbol string per document ('<a><b>…'),
    with doc_id and source carried — the state frame both the
    training loop and the merge-application query iterate on.
    Materialized once at session width (the single-row-group bench
    fixture would otherwise serialize every round into one task)."""
    from github_miner_spark.functions.skew import spread_to_session_width
    from github_miner_spark.functions.text import tokenize
    from github_miner_spark.io.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize(F.col("text"))
    return pin(
        spread_to_session_width(docs)
        .select("doc_id", "source", toks.alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            "source",
            F.concat(
                F.lit("<"), F.concat_ws("><", F.col("toks")), F.lit(">")
            ).alias("s"),
        ),
        eager=True,
    )


def apply_merges(state: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Chain the learned merges onto a corpus state frame: each merge
    (a, b) is one narrow greedy-leftmost string replace of '<a><b>'
    with '<a b>' — replace semantics ARE the BPE merge step, shared
    bit-for-bit by Spark and DuckDB. NO per-round checkpoint: replaces
    are single-reference narrow ops, so the lazy chain is linear (the
    measured 3.0s-vs-3.5s trade from the training loop)."""
    for a, b in merges:
        state = state.withColumn(
            "s", F.replace("s", F.lit(f"<{a}><{b}>"), F.lit(f"<{a} {b}>"))
        )
    return state


def split_symbols(col: str = "s"):
    """Symbol array from a state string: strip the outer delimiters,
    split on '><' (tokens are [a-z0-9 ]* after merges, so the
    delimiters never occur inside a symbol)."""
    return F.split(F.expr(f"substring({col}, 2, length({col}) - 2)"), "><")


def build_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full training loop (Sennrich et al. 2016):
    BPE_MERGE_ROUNDS rounds of corpus-wide adjacent-pair count ->
    deterministic argmax (count desc, 'left|right' asc) -> greedy
    merge. Each round is one vocab-bounded map-side-combining count +
    a 1-row argmax collect (scalar aggregate, the blessed
    training-loop driver state) + one narrow replace. Returns the
    merge table (step, left_sym, right_sym, n_occurrences)."""
    st = corpus_state(spark, sf_dir)
    out: list[tuple[int, str, str, int]] = []
    for k in range(1, BPE_MERGE_ROUNDS + 1):
        tk = split_symbols()
        pairs = (
            st.select(tk.alias("tk"))
            .filter(F.size("tk") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), i -> "
                        "concat(element_at(tk, i), '|', element_at(tk, i + 1)))"
                    )
                ).alias("pair")
            )
        )
        # pair keys join halves with '|' (never inside a symbol —
        # symbols are [a-z0-9 ]* after merges) to stay collision-free
        top = (
            pairs.groupBy("pair")
            .agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["pair"].split("|", 1)
        out.append((k, a, b, int(top[0]["n"])))
        st = apply_merges(st, [(a, b)])
    return spark.createDataFrame(
        out, "step int, left_sym string, right_sym string, n_occurrences bigint"
    )


def materialize_bpe_merges(spark: SparkSession, sf_dir: str) -> str:
    """Ensure the merge table for ``sf_dir`` exists on disk; return
    the store path."""

    def write(stage: str) -> None:
        build_bpe_merges(spark, sf_dir).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "merges.parquet"))

    return publish(STORE_ROOT, _store_dir(sf_dir), ("merges.parquet",), write)


def load_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(step, left_sym, right_sym, n_occurrences) from the store."""
    base = materialize_bpe_merges(spark, sf_dir)
    return read_store(spark, os.path.join(base, "merges.parquet"))
