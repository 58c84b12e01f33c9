"""Walk-corpus store: bit-parity with a fresh derivation and the
shared per-scheme layout (the store contract is in
test_store_contract.py)."""

from __future__ import annotations

import os

from github_miner_spark.functions import walk_store

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(
        (r["start"], r["seed"], r["cur"], r["path"], r["depth"])
        for r in df.select("start", "seed", "cur", "path", "depth").collect()
    )


def test_store_serves_bit_identical_walks(spark):
    """The store must serve EXACTLY what a fresh derivation produces —
    a stale or corrupted store would otherwise silently feed three
    queries wrong walks (their oracles re-derive from spec, so the
    driver would catch it; this test catches it locally and names the
    store as the culprit)."""
    for scheme, builder in (
        ("det", walk_store.build_det_walks),
        ("n2v", walk_store.build_node2vec_walks),
    ):
        served = walk_store.load_walks(spark, SF, scheme)
        fresh = builder(spark, SF)
        assert _sorted_rows(served) == _sorted_rows(fresh), scheme


def test_both_schemes_share_one_store_dir(spark):
    """Each scheme publishes its own walks_<scheme>.parquet into one
    content-addressed store dir."""
    p_det = walk_store.materialize_walks(spark, SF, "det")
    p_n2v = walk_store.materialize_walks(spark, SF, "n2v")
    assert p_det == p_n2v
    assert {"walks_det.parquet", "walks_n2v.parquet"} <= set(os.listdir(p_det))


def test_unknown_scheme_raises(spark):
    import pytest

    with pytest.raises(ValueError, match="unknown walk scheme"):
        walk_store.materialize_walks(spark, SF, "nope")
