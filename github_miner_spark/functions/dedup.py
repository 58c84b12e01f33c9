"""Deduplication operators for LLM-data pipelines (first-class engine
components, per BASELINE.json north star): exact dedup, n-gram Jaccard,
MinHash+LSH, SimHash.

All pure Catalyst expressions + joins (no Python UDFs). The candidate
generation is always index-shaped — explode to an inverted index and
self-join on the index key — never an all-pairs crossJoin, so the same
plans survive 100 TB:

- exact: one groupBy on md5(text).
- n-gram Jaccard: inverted index on shingle hash; candidate pairs are
  bounded by shingle co-occurrence, not n^2.
- MinHash LSH: band signature -> bucket join; only same-bucket pairs
  are verified. Band/row counts tune the recall/cost curve.
- SimHash: byte-banded candidates (a pair within hamming distance d of
  a 32-bit simhash shares a byte when d < 4 bands differ) verified with
  bit_count(xor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.functions.text import (
    MINHASH_PRIME,
    token_hash,
    tokenize,
    word_shingles,
)


def exact_dup_groups(docs: DataFrame, text_col: str = "text", normalize: bool = False) -> DataFrame:
    """Hash-groupBy exact dedup: (text_hash, n_docs, keep_id) for every
    duplicate group; keep_id = min doc_id (first-writer-wins, the
    reference's membership-gate semantics set-at-a-time)."""
    t = F.col(text_col)
    if normalize:
        t = F.trim(F.regexp_replace(F.lower(t), "\\s+", " "))
    return (
        docs.select(F.md5(t).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def shingle_index(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Inverted index (doc_id, shingle) over distinct hashed word
    n-grams.

    The token array is materialized (``pin``) before shingling:
    higher-order array expressions are interpreted, and Catalyst's
    projection collapse would otherwise inline ``tokenize`` into every
    ``element_at`` — O(tokens^2) regex evaluations per document. With
    the barrier, tokenize runs once per doc and shingling reads the
    stored array."""
    toks = pin(docs.select("doc_id", tokenize(F.col(text_col)).alias("toks")))
    shingles = F.array_distinct(F.transform(word_shingles(F.col("toks"), n), token_hash))
    return toks.select("doc_id", F.explode(shingles).alias("shingle"))


def _jaccard_of(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, inter) + per-doc sizes -> thresholded Jaccard."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.

    Candidates come from the inverted shingle index (pairs sharing at
    least one shingle); |A ∩ B| falls out of the index join, |A ∪ B|
    from the per-doc shingle counts. Returns (doc_a, doc_b, jaccard)
    with doc_a < doc_b, jaccard rounded to 6dp for cross-engine
    stability.

    ``index``: a pre-materialized (doc_id, shingle) index (see
    functions/text_store.py) — skips the per-query tokenize+shingle
    pass, the dominant cost on a large corpus."""
    idx = (
        index
        if index is not None
        else pin(shingle_index(docs, text_col, n))
    )
    sizes = idx.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = idx.alias("a")
    b = idx.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_of(inter, sizes, threshold)


def minhash_signatures(
    docs: DataFrame, idx: DataFrame, k: int = 16
) -> DataFrame:
    """k-perm MinHash signatures (doc_id, sig0..sig{k-1}) from a
    (doc_id, shingle) index — k vectorized min-aggregates over the
    exploded index, ONE pass inside whole-stage codegen. (The
    array-lambda formulation re-inlines the whole tokenize -> shingle
    -> hash pipeline into every perm and every band projection,
    interpreted: ~80x slower at sf0.1.) Docs with no shingles get the
    sentinel all-PRIME signature."""
    sig_aggs = [
        F.min(
            (F.lit(2 * i + 1) * F.col("shingle") + F.lit(7919 * i)) % F.lit(MINHASH_PRIME)
        ).alias(f"sig{i}")
        for i in range(k)
    ]
    sig = idx.groupBy("doc_id").agg(*sig_aggs)
    return docs.select("doc_id").join(sig, "doc_id", "left_outer").select(
        "doc_id",
        *[F.coalesce(F.col(f"sig{i}"), F.lit(MINHASH_PRIME)).alias(f"sig{i}") for i in range(k)],
    )


def minhash_band_buckets(sig: DataFrame, k: int = 16, bands: int = 4) -> DataFrame:
    """LSH band buckets (doc_id, band, bucket) from a signature frame:
    ``bands`` buckets of k/bands signature rows each, hashed with md5 —
    all bands emitted in one explode pass, not a bands-way union of
    scans."""
    rows_per_band = k // bands
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"sig{bi * rows_per_band + j}").cast("string") for j in range(rows_per_band)],
                )
            ).alias("bucket"),
        )
        for bi in range(bands)
    ]
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    index: DataFrame | None = None,
    delta_min_doc_id: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup detection: k-perm signatures, banded into
    ``bands`` buckets of k/bands rows; same-bucket pairs are verified
    with exact Jaccard >= threshold. Returns (doc_a, doc_b, jaccard).

    This is the scale path for n-gram dedup: candidate count is driven
    by bucket collisions (tunable via bands), not shingle co-occurrence.
    ``index``: pre-materialized shingle index (functions/text_store.py).

    ``delta_min_doc_id``: incremental mode — restrict the NEWER side of
    every candidate pair to doc_id >= this cutoff, so only the delta's
    buckets probe the full bucket index and verification is bounded by
    the delta's candidates (the nightly-ingest shape). Pair semantics,
    rounding, and thresholding are otherwise identical to the full
    run — the result equals the full pair set restricted to pairs
    whose newer side is in the delta."""
    idx = (
        index
        if index is not None
        else pin(shingle_index(docs, text_col))
    )
    sig = minhash_signatures(docs, idx, k)
    buckets = pin(minhash_band_buckets(sig, k, bands))
    newer = (
        buckets
        if delta_min_doc_id is None
        else buckets.filter(F.col("doc_id") >= F.lit(int(delta_min_doc_id)))
    )
    a = buckets.alias("a")
    b = newer.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify ONLY the candidate pairs: intersect the two shingle sets
    # through the candidate list — never the full index self-join (that
    # would be the quadratic co-occurrence join LSH exists to avoid)
    sizes = idx.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    ia = idx.select(F.col("doc_id").alias("doc_a"), "shingle")
    ib = idx.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        candidates.join(ia, "doc_a")
        .join(ib, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_of(inter, sizes, threshold)


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """32-bit SimHash over token hashes (with multiplicity): bit b is
    set when sum over tokens of ±1 (by bit b of the token hash) is
    positive. Returns (doc_id, simhash).

    Computed as ``bits`` vectorized sum-aggregates over the exploded
    token-hash rows (one pass, codegen) rather than per-bit array
    lambdas, which would re-inline tokenization into all 32 folds."""
    from github_miner_spark.functions.skew import spread_to_session_width

    th = spread_to_session_width(docs).select(
        "doc_id", F.explode(F.transform(tokenize(F.col(text_col)), token_hash)).alias("h")
    )
    bit_aggs = [
        F.sum((F.shiftright(F.col("h"), b) % 2) * 2 - 1).alias(f"b{b}") for b in range(bits)
    ]
    agg = th.groupBy("doc_id").agg(*bit_aggs)
    sh = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh + term
    # zero-token docs vanish in the explode; left join restores them
    # with simhash 0 (every WHEN sees NULL), matching the oracle
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left_outer")
        .select("doc_id", sh.alias("simhash"))
    )


def simhash_near_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs: byte-banded candidates (4 bands of 8
    bits; hamming <= 7 guarantees >= 1 identical band... pigeonhole at
    max_hamming <= 3 bands' worth) verified by bit_count(xor) <=
    max_hamming. Returns (doc_a, doc_b, hamming)."""
    sh = pin(simhash(docs, text_col))
    band_structs = [
        F.struct(
            F.lit(k).alias("band"),
            (F.shiftright(F.col("simhash"), 8 * k) % 256).alias("bucket"),
        )
        for k in range(4)
    ]
    idx = sh.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    # spread the probe side of the band self-join: the band index is
    # tiny (4 rows per doc) so AQE coalesces it to one partition and
    # broadcasts the other side — which would run the whole
    # candidate-pair expansion (~1M pairs on the bench corpus) in a
    # single task. Hashing (band, bucket, doc_id) spreads bucket
    # populations across the width.
    from github_miner_spark.functions.skew import spread_width

    a = idx.repartition(
        spread_width(idx.sparkSession), "band", "bucket", "doc_id"
    ).alias("a")
    b = idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def apply_span_removal(toks_df: DataFrame, spans_df: DataFrame) -> DataFrame:
    """EXECUTE a removal cut list (Lee et al. 2022 ExactSubstr apply
    step): given per-doc token arrays (``doc_id``, ``toks``) and the
    removal plan's extents (``doc_id``, ``span_start``, ``span_end``
    — 1-based inclusive, disjoint per doc by the run-merge
    construction), return (doc_id, toks, kt, has_cuts) where ``kt``
    is the surviving token array with every covered position cut.

    100 TB shape: the cut list is tiny relative to the corpus (docs
    with duplicated spans only) and collapses to one row per doc
    before the join; the reassembly itself is a per-row array filter
    — scan-shaped, no shuffle beyond the doc_id join."""
    sp = spans_df.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    pos_toks = F.transform(
        F.col("toks"), lambda t, i: F.struct(t.alias("t"), (i + 1).alias("p"))
    )
    kept_expr = F.transform(
        F.filter(
            pos_toks,
            lambda s: ~F.exists(
                F.col("spans"),
                lambda b: (s["p"] >= b["span_start"]) & (s["p"] <= b["span_end"]),
            ),
        ),
        lambda s: s["t"],
    )
    return toks_df.join(sp, "doc_id", "left").select(
        "doc_id",
        *[c for c in toks_df.columns if c not in ("doc_id", "toks")],
        "toks",
        F.when(F.col("spans").isNull(), F.col("toks"))
        .otherwise(kept_expr)
        .alias("kt"),
        F.col("spans").isNotNull().alias("has_cuts"),
    )
