"""BPE merge-table store content (the store contract is in
test_store_contract.py; the from-spec training replay lives in
test_pipeline.py::test_bpe_vocab_induction_matches_python_reference,
which also witnesses the store content since bpe_vocab_induction
serves from it)."""

from __future__ import annotations

from github_miner_spark.functions import bpe_store

SF = "/root/testdata/sf0.001"


def test_merge_table_has_one_row_per_round(spark):
    rows = bpe_store.load_bpe_merges(spark, SF).collect()
    assert len(rows) == bpe_store.BPE_MERGE_ROUNDS
    assert sorted(r["step"] for r in rows) == list(
        range(1, bpe_store.BPE_MERGE_ROUNDS + 1)
    )


def test_apply_merges_is_greedy_leftmost(spark):
    """The replace-based merge must implement greedy LEFTMOST
    non-overlapping semantics: 'a a a a' under merge (a, a) becomes
    ('a a', 'a a') — positions 1-2 and 3-4 — never the overlapping or
    rightmost readings."""
    df = spark.createDataFrame([(1, "x", "<a><a><a><a>")], "doc_id long, source string, s string")
    out = bpe_store.apply_merges(df, [("a", "a")]).collect()[0]["s"]
    assert out == "<a a><a a>"
