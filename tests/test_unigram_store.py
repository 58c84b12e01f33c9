"""Unigram-LM tokenizer store: FULL from-spec Python replay (the
third independent implementation — catches bugs mirrored into the
oracle, which parity cannot), the broadcast plan shape of the
application join, and the raise-don't-cap word-length guard (the
store contract is in test_store_contract.py)."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from github_miner_spark.functions import unigram_store as U

SF = "/root/testdata/sf0.001"


def _py_tokenize(text: str) -> list[str]:
    return [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]


def _py_segmentations(word: str):
    """All (pieces) with piece length <= PIECE_MAX_LEN, enumerated by
    cut-position bitmask — the exact spec the engine and oracle run."""
    n = len(word)
    for m in range(1 << (n - 1)) if n > 1 else [0]:
        bounds = [0] + [i for i in range(1, n) if (m >> (i - 1)) & 1] + [n]
        pieces = [
            word[bounds[j] : bounds[j + 1]] for j in range(len(bounds) - 1)
        ]
        if all(len(p) <= U.PIECE_MAX_LEN for p in pieces):
            yield pieces


def _py_train(docs: list[str]):
    """Pure-Python replay of build_unigram_model: seed substring
    counts, EM_ROUNDS hard-EM rounds with quantized integer scores and
    the (fewer-pieces, lexicographic seg) tie-break, single-char
    add-one floor, final segmentation under the trained vocab."""
    words = Counter(w for d in docs for w in _py_tokenize(d))
    chars = {c for w in words for c in w}

    def seed():
        c = Counter()
        for w, f in words.items():
            for i in range(len(w)):
                for l in range(1, min(U.PIECE_MAX_LEN, len(w) - i) + 1):
                    c[w[i : i + l]] += f
        return dict(c)

    def q_of(counts):
        total = sum(counts.values())
        return {
            p: int(round((math.log(c) - math.log(total)) * U.SCORE_SCALE))
            for p, c in counts.items()
        }

    def e_step(counts):
        q = q_of(counts)
        best = {}
        for w in words:
            options = []
            for pieces in _py_segmentations(w):
                if any(p not in q for p in pieces):
                    continue
                score = sum(q[p] for p in pieces)
                options.append((-score, len(pieces), "|".join(pieces)))
            ns, np_, seg = min(options)
            best[w] = (seg, np_)
        return best

    counts = seed()
    for _ in range(U.EM_ROUNDS):
        best = e_step(counts)
        usage = Counter()
        for w, (seg, _np) in best.items():
            for p in seg.split("|"):
                usage[p] += words[w]
        counts = dict(usage)
        for ch in chars:
            counts[ch] = counts.get(ch, 0) + 1
    return counts, e_step(counts), dict(words)


def test_from_spec_python_replay(spark):
    from github_miner_spark.io.tables import load_table

    docs = [
        r["text"] for r in load_table(spark, "documents", SF).collect()
    ]
    py_vocab, py_segs, py_words = _py_train(docs)

    vocab = {
        r["piece"]: r["cnt"]
        for r in U.load_unigram_vocab(spark, SF).collect()
    }
    assert vocab == py_vocab

    segs = {
        r["word"]: (r["seg"], r["n_pieces"], r["f"])
        for r in U.load_word_segs(spark, SF).collect()
    }
    assert {w: (s, n) for w, (s, n, _f) in segs.items()} == py_segs
    assert {w: f for w, (_s, _n, f) in segs.items()} == py_words


def test_application_join_broadcasts(spark):
    """The corpus-side tokenizer application must broadcast the
    dictionary, never shuffle the corpus by word."""
    from github_miner_spark.queries.text_queries import (
        unigram_lm_segmentation_stats,
    )

    plan = (
        unigram_lm_segmentation_stats(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_word_max_len_raises(spark):
    words = spark.createDataFrame(
        [("a" * (U.WORD_MAX_LEN + 1), 1)], "word string, f bigint"
    )
    with pytest.raises(Exception, match="word longer than"):
        U.candidate_segmentations(words).collect()
