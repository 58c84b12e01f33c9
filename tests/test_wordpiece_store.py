"""WordPiece store contracts: the merge table's shape and min-count
floor, the likelihood-argmax training step against an independent
Python reference, and greedy longest-match (max-munch) segmentation
against a Python reference walk (the store contract is in
test_store_contract.py)."""

from __future__ import annotations

import math
import re
from collections import Counter

from github_miner_spark.functions import wordpiece_store
from github_miner_spark.io.tables import load_table

SF = "/root/testdata/sf0.001"


def _tokenized_docs(spark):
    rows = load_table(spark, "documents", SF).select("source", "text").collect()
    out = []
    for r in rows:
        toks = [t for t in re.sub(r"[^a-z0-9]+", " ", r["text"].lower()).split(" ") if t]
        if toks:
            out.append((r["source"], toks))
    return out


def test_merge_table_rows_and_min_count(spark):
    rows = wordpiece_store.load_wordpiece_merges(spark, SF).collect()
    assert len(rows) == wordpiece_store.WP_MERGE_ROUNDS
    assert sorted(r["step"] for r in rows) == list(
        range(1, wordpiece_store.WP_MERGE_ROUNDS + 1)
    )
    # the min-count floor is the spec: no hapax-chain degeneracy
    assert all(r["n_pair"] >= wordpiece_store.WP_MIN_PAIR_COUNT for r in rows)


def test_first_merge_is_true_likelihood_argmax(spark):
    """Step 1 of the trained table must be the exact quantized
    likelihood argmax over the raw token corpus, recomputed
    independently in Python."""
    docs = _tokenized_docs(spark)
    syms = Counter(t for _, toks in docs for t in toks)
    pairs = Counter(
        (toks[i], toks[i + 1])
        for _, toks in docs
        for i in range(len(toks) - 1)
    )
    best = None
    for (a, b), n in pairs.items():
        if n < wordpiece_store.WP_MIN_PAIR_COUNT:
            continue
        q = round(
            (math.log(n) - math.log(syms[a]) - math.log(syms[b]))
            * wordpiece_store.WP_SCORE_SCALE
        )
        key = (-q, f"{a}|{b}")
        if best is None or key < best[0]:
            best = (key, (a, b, n, q))
    step1 = wordpiece_store.load_wordpiece_merges(spark, SF).orderBy("step").collect()[0]
    a, b, n, q = best[1]
    assert (step1["left_sym"], step1["right_sym"]) == (a, b)
    assert step1["n_pair"] == n
    assert step1["score_q"] == q


def test_segmentation_matches_python_max_munch(spark):
    """The registered segmentation query's per-source piece totals must
    equal an independent Python greedy longest-match walk over the
    same vocabulary."""
    from github_miner_spark.queries.text_queries import (
        wordpiece_segmentation_stats,
    )

    pieces = wordpiece_store.vocab_pieces(spark, SF)
    assert pieces, "training produced no multi-token pieces"
    vocab = {tuple(p.split(" ")) for p in pieces}
    max_len = max(len(v) for v in vocab)

    want_tokens: Counter = Counter()
    want_pieces: Counter = Counter()
    want_docs: Counter = Counter()
    for source, toks in _tokenized_docs(spark):
        i, cnt = 0, 0
        while i < len(toks):
            step = 1
            for L in range(min(max_len, len(toks) - i), 1, -1):
                if tuple(toks[i : i + L]) in vocab:
                    step = L
                    break
            i += step
            cnt += 1
        want_docs[source] += 1
        want_tokens[source] += len(toks)
        want_pieces[source] += cnt

    got = {
        r["source"]: r
        for r in wordpiece_segmentation_stats(spark, SF).collect()
    }
    assert set(got) == set(want_docs)
    for src, row in got.items():
        assert row["docs"] == want_docs[src]
        assert row["tokens_before"] == want_tokens[src]
        assert row["pieces_after"] == want_pieces[src], src
