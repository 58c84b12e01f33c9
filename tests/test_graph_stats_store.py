"""Anchored-reachability rollup store: bit-parity with a fresh
derivation for the rollup serving anf_neighborhood_function's
exact-grading side (the store contract is in
test_store_contract.py)."""

from __future__ import annotations


from github_miner_spark.functions import graph_stats_store as G

SF = "/root/testdata/sf0.001"


def test_rollup_serves_bit_identical_counts(spark):
    served = sorted(map(tuple, G.load_anchor_reach(spark, SF).collect()))
    fresh = sorted(map(tuple, G.build_anchor_reach(spark, SF).collect()))
    assert served == fresh
    assert served, "rollup must not be empty at sf0.001"

