"""Clustered-ladder exact-truth rollup store (VERDICT r12 item 6):
bit-parity with a fresh inline derivation for the truth leg serving
all six clustered_*_recall_at_k graders (the store contract is in
test_store_contract.py)."""

from __future__ import annotations


from github_miner_spark.functions import clustered_store as C

SF = "/root/testdata/sf0.001"


def test_rollup_serves_bit_identical_truth(spark):
    served = sorted(map(tuple, C.load_clu_truth(spark, SF).collect()))
    fresh = sorted(map(tuple, C.build_clu_truth(spark, SF).collect()))
    assert served == fresh
    assert served, "truth rollup must not be empty at sf0.001"

