"""Training-data curation operators beyond the dedup/similarity set:
benchmark decontamination, sequence packing, and stratified sampling —
the remaining first-class passes of a large-scale LLM data pipeline
(after filtering + dedup, a corpus is decontaminated against eval
benchmarks, down/up-sampled per stratum to a target mixture, then
packed into fixed-length training sequences).

All three are pure DataFrame plans with exact DuckDB oracles built
from the same portable primitives as the dedup family (md5-prefix
hashes, the shared tokenizer). Scale notes per query:

- decontamination: the eval side of the shingle join is benchmark-sized
  (thousands of docs, not billions) -> broadcast; the training side is
  one scan of the materialized shingle index (functions/text_store.py),
  so the whole pass is a broadcast-hash semi-aggregation, no big
  shuffle.
- packing: a single global ordered cumsum would serialize onto one
  task; instead documents are sharded deterministically (doc_id mod
  N_SHARDS) and each shard packs independently with a window — state
  per task is one running sum, the standard practice of packing within
  workers. Shard count scales with the cluster, not the data.
- sampling: hash-gated Bernoulli per stratum (keep iff
  md5(doc_id) mod 100 < rate[lang]) — embarrassingly parallel, no
  shuffle before the final per-language rollup, deterministic across
  engines and retries (the property that makes the sample reproducible
  at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin
from github_miner_spark.functions.text import token_count, token_hash
from github_miner_spark.io.tables import load_table
from github_miner_spark.registry import register

# Deterministic eval-set split: every 17th doc_id plays the role of a
# held-out benchmark; the rest is the training corpus.
EVAL_MOD = 17

# A training doc is contaminated when >= 30% of its distinct 3-gram
# shingles appear anywhere in the eval set (n-gram-overlap
# decontamination as practiced for LLM training corpora).
CONTAMINATION_THRESHOLD = 0.3

# Sequence packing: context window of 512 "tokens" (whitespace tokens
# stand in for BPE pieces; doc_bpe_token_counts has the BPE-ish twin),
# packed within doc_id-sharded streams.
PACK_CAPACITY = 512
PACK_SHARDS = 8

# Per-language keep-rates (percent) for the stratified sample: the
# over-represented stratum is downsampled hard, the rest lightly —
# a fixed target mixture like any real pretraining data recipe.
SAMPLE_RATES = {"en": 40, "de": 80, "es": 80, "fr": 80, "zh": 80}
_DEFAULT_RATE = 100


@register(
    "benchmark_decontamination",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                 list_filter(str_split(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
               FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> ('0x' || substr(md5(concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])), 1, 8))::BIGINT))
                  ELSE [] END AS shingles
      FROM t
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    eval_sh AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {EVAL_MOD} = 0),
    train AS (SELECT doc_id, len(shingles) AS n_shingles FROM sh
              WHERE doc_id % {EVAL_MOD} <> 0 AND len(shingles) > 0),
    hits AS (
      SELECT ex.doc_id, count(*) AS n_overlap
      FROM ex JOIN eval_sh USING (shingle)
      WHERE ex.doc_id % {EVAL_MOD} <> 0
      GROUP BY ex.doc_id
    )
    SELECT train.doc_id,
           train.n_shingles,
           coalesce(hits.n_overlap, 0) AS n_overlap,
           round(coalesce(hits.n_overlap, 0) * 1.0 / train.n_shingles, 6)
             AS contamination,
           coalesce(hits.n_overlap, 0) * 1.0 / train.n_shingles
             >= {CONTAMINATION_THRESHOLD} AS is_contaminated
    FROM train LEFT JOIN hits ON train.doc_id = hits.doc_id
    ORDER BY train.doc_id
    """,
    description="Benchmark decontamination: per-training-doc 3-gram "
    "overlap against a held-out eval split (doc_id % 17 == 0), with a "
    "contamination fraction and a >= 30% flag. Eval side is "
    "benchmark-sized -> broadcast semi-join against the materialized "
    "shingle index; one corpus scan, no large shuffle.",
    tags=("curation", "decontamination", "text"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text_store import load_shingle_index

    idx = load_shingle_index(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    # Benchmarks are small by nature; the distinct eval vocabulary is
    # broadcast so the contamination probe is a map-side hash lookup.
    eval_shingles = F.broadcast(
        idx.filter(is_eval).select("shingle").distinct()
    )
    train_sizes = (
        idx.filter(~is_eval)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
    )
    hits = (
        idx.filter(~is_eval)
        .join(eval_shingles, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    frac = F.coalesce(F.col("n_overlap"), F.lit(0)) / F.col("n_shingles")
    return (
        train_sizes.join(hits, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            F.round(frac, 6).alias("contamination"),
            (frac >= CONTAMINATION_THRESHOLD).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "sequence_packing_plan",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {PACK_SHARDS} AS shard,
             len(list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    ),
    b AS (SELECT shard, (cum_before // {PACK_CAPACITY})::BIGINT AS bin,
                 doc_id, n_tokens
          FROM c)
    SELECT shard, bin,
           count(*) AS n_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM b
    GROUP BY shard, bin
    ORDER BY shard, bin
    """,
    description="Sequence packing plan (concatenate-then-chunk): docs "
    "sharded by doc_id % 8, each shard's stream packed into 512-token "
    "windows by a per-shard running sum (a doc belongs to the window "
    "its first token falls in). Per-(shard, bin) occupancy stats. "
    "Sharding bounds window state per task; shard count scales with "
    "the cluster, not the data.",
    tags=("curation", "packing", "text"),
)
def sequence_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = t.select(
        "shard",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_CAPACITY)
        .cast("bigint")
        .alias("bin"),
        "doc_id",
        "n_tokens",
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("shard", "bin")
    )


def _duck_rate_case() -> str:
    arms = " ".join(
        f"WHEN lang = '{lang}' THEN {rate}" for lang, rate in sorted(SAMPLE_RATES.items())
    )
    return f"CASE {arms} ELSE {_DEFAULT_RATE} END"


@register(
    "stratified_sample_counts",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
               AS bucket,
             {_duck_rate_case()} AS rate
      FROM documents
    )
    SELECT lang,
           any_value(rate) AS sample_rate,
           count(*) AS n_before,
           count(*) FILTER (WHERE bucket < rate) AS n_after
    FROM t
    GROUP BY lang
    ORDER BY lang
    """,
    description="Stratified corpus sampling to a target language "
    "mixture: keep a doc iff md5(doc_id) mod 100 < rate[lang] "
    "(hash-gated Bernoulli — deterministic across engines, retries, "
    "and cluster layouts, unlike rand()-based sampleBy). Reports "
    "per-language before/after counts.",
    tags=("curation", "sampling"),
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    bucket = token_hash(F.col("doc_id").cast("string")) % 100
    t = docs.select("lang", bucket.alias("bucket"), rate.alias("rate"))
    return (
        t.groupBy("lang")
        .agg(
            F.first("rate").alias("sample_rate"),
            F.count("*").alias("n_before"),
            F.count(F.when(F.col("bucket") < F.col("rate"), True)).alias(
                "n_after"
            ),
        )
        .orderBy("lang")
    )


# Gopher-style repetition filter thresholds (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", table A1 uses 0.20 / 0.18 for the top
# 2-gram / 3-gram fraction; the type-token-ratio floor is this repo's
# addition for the no-newline synthetic corpus).
TOP_BIGRAM_MAX = 0.20
TOP_TRIGRAM_MAX = 0.18
TTR_MIN = 0.20


@register(
    "doc_repetition_signals",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    base AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct
      FROM t
    ),
    grams AS (
      SELECT doc_id, 2 AS n, toks[i] || ' ' || toks[i + 1] AS gram
      FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
      UNION ALL
      SELECT doc_id, 3 AS n,
             toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
      FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)
    ),
    counts AS (
      SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY doc_id, n, gram
    ),
    top AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN c END) AS top2,
             max(CASE WHEN n = 3 THEN c END) AS top3
      FROM counts GROUP BY doc_id
    ),
    sig AS (
      SELECT b.doc_id, b.n_tokens,
             round(b.n_distinct / b.n_tokens, 6) AS ttr,
             round(coalesce(top.top2 * 2.0 / b.n_tokens, 0), 6)
               AS top_bigram_frac,
             round(coalesce(top.top3 * 3.0 / b.n_tokens, 0), 6)
               AS top_trigram_frac
      FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
      WHERE b.n_tokens > 0
    )
    SELECT doc_id, n_tokens, ttr, top_bigram_frac, top_trigram_frac,
           (ttr >= {TTR_MIN} AND top_bigram_frac <= {TOP_BIGRAM_MAX}
            AND top_trigram_frac <= {TOP_TRIGRAM_MAX}) AS keep
    FROM sig
    ORDER BY doc_id
    """,
    description="Gopher-style repetition filter signals per document: "
    "type-token ratio and the token fraction covered by the most "
    "frequent word 2-gram / 3-gram, with the keep decision at the "
    "published thresholds (0.20 / 0.18). One explode + two keyed "
    "aggregations (doc_id, gram) -> (doc_id) — shuffle volume is "
    "O(corpus tokens), the same scale shape as TF-IDF; no windows, no "
    "driver state, embarrassingly shardable at 100 TB.",
    tags=("curation", "text", "quality"),
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import tokenize, word_shingles

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    base = toked.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    ).filter(F.col("n_tokens") > 0)
    # one scan emits both gram sizes tagged, so the corpus is exploded
    # once and counted in a single keyed aggregation
    grams = toked.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    word_shingles(F.col("toks"), 2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
                ),
                F.transform(
                    word_shingles(F.col("toks"), 3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram")),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    top = (
        grams.groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top2"),
            F.max(F.when(F.col("n") == 3, F.col("c"))).alias("top3"),
        )
    )
    ttr = F.round(F.col("n_distinct") / F.col("n_tokens"), 6)
    bi = F.round(
        F.coalesce(F.col("top2") * 2.0 / F.col("n_tokens"), F.lit(0.0)), 6
    )
    tri = F.round(
        F.coalesce(F.col("top3") * 3.0 / F.col("n_tokens"), F.lit(0.0)), 6
    )
    return (
        base.join(top, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_tokens",
            ttr.alias("ttr"),
            bi.alias("top_bigram_frac"),
            tri.alias("top_trigram_frac"),
            (
                (ttr >= TTR_MIN)
                & (bi <= TOP_BIGRAM_MAX)
                & (tri <= TOP_TRIGRAM_MAX)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _minhash_decon_oracle() -> str:
    from github_miner_spark.functions.dedup import MINHASH_PRIME
    from github_miner_spark.queries.dedup_queries import DUCK_SHINGLES_CTE

    perms = (
        "list_transform(generate_series(0, 15), i -> "
        "coalesce(list_min(list_transform(shingles, "
        f"h -> ((2*i+1)*h + 7919*i) % {MINHASH_PRIME})), {MINHASH_PRIME}))"
    )
    band_selects = []
    for bi in range(4):
        elems = ", ".join(f"sig[{bi * 4 + j + 1}]::VARCHAR" for j in range(4))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, md5(concat_ws(',', {elems})) AS bucket FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    agree = (
        "list_sum(list_transform(generate_series(1, 16), "
        "i -> CASE WHEN e.sig[i] = t.sig[i] THEN 1 ELSE 0 END)) / 16.0"
    )
    return (
        DUCK_SHINGLES_CTE
        + f"""
    , sigs AS (SELECT doc_id, {perms} AS sig FROM sh),
    buckets AS ({bands_sql}),
    cand AS (
      SELECT DISTINCT e.doc_id AS eval_doc, t.doc_id AS train_doc
      FROM buckets e JOIN buckets t
        ON e.band = t.band AND e.bucket = t.bucket
      WHERE e.doc_id % {EVAL_MOD} = 0 AND t.doc_id % {EVAL_MOD} <> 0
    ),
    scored AS (
      SELECT c.eval_doc, c.train_doc,
             round({agree}, 6) AS sig_agreement
      FROM cand c
      JOIN sigs e ON e.doc_id = c.eval_doc
      JOIN sigs t ON t.doc_id = c.train_doc
    )
    SELECT eval_doc, train_doc, sig_agreement
    FROM scored WHERE sig_agreement >= 0.5
    ORDER BY eval_doc, train_doc
    """
    )


@register(
    "minhash_decontamination",
    oracle=_minhash_decon_oracle(),
    description="Cross-corpus MinHash decontamination: eval docs "
    "(doc_id % 17 == 0) LSH-banded against the training corpus; "
    "candidate (eval, train) pairs sharing a band bucket are scored by "
    "signature-agreement fraction (an unbiased Jaccard estimate) and "
    "flagged at >= 0.5. The near-dup complement of the exact n-gram "
    "overlap pass (benchmark_decontamination): catches paraphrased / "
    "partially-overlapping eval leakage that exact n-grams miss. Eval "
    "side is benchmark-sized -> its buckets and signatures broadcast; "
    "the train side is one scan of the materialized shingle index.",
    tags=("curation", "dedup", "minhash", "decontamination"),
)
def minhash_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.dedup import (
        minhash_band_buckets,
        minhash_signatures,
    )
    from github_miner_spark.functions.text_store import load_shingle_index

    docs = load_table(spark, "documents", sf_dir)
    idx = load_shingle_index(spark, sf_dir)
    sig = pin(minhash_signatures(docs, idx, k=16))
    buckets = minhash_band_buckets(sig, k=16, bands=4)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eb = buckets.filter(is_eval).select(
        F.col("doc_id").alias("eval_doc"), "band", "bucket"
    )
    tb = buckets.filter(~is_eval).select(
        F.col("doc_id").alias("train_doc"), "band", "bucket"
    )
    cand = (
        tb.join(F.broadcast(eb), ["band", "bucket"])
        .select("eval_doc", "train_doc")
        .distinct()
    )
    es = sig.select(
        F.col("doc_id").alias("eval_doc"),
        *[F.col(f"sig{i}").alias(f"e{i}") for i in range(16)],
    )
    ts = sig.select(
        F.col("doc_id").alias("train_doc"),
        *[F.col(f"sig{i}").alias(f"t{i}") for i in range(16)],
    )
    agree = None
    for i in range(16):
        term = F.when(F.col(f"e{i}") == F.col(f"t{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        cand.join(F.broadcast(es), "eval_doc")
        .join(ts, "train_doc")
        .withColumn("sig_agreement", F.round(agree / 16.0, 6))
        .filter(F.col("sig_agreement") >= 0.5)
        .select("eval_doc", "train_doc", "sig_agreement")
        .orderBy("eval_doc", "train_doc")
    )


@register(
    "corpus_mixture_report",
    oracle=f"""
    WITH t AS (
      SELECT lang, len({{toks}}) AS n_tokens
      FROM documents
    ),
    per AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM t GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
           round(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per), 6) AS token_share,
           round((1.0 / (SELECT count(*) FROM per))
                 / (n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per)), 6) AS uniform_multiplier
    FROM per ORDER BY lang
    """.replace("{toks}", "list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')"),
    description="Training-mixture report: per-language document and "
    "TOKEN counts, each stratum's token share of the corpus, and the "
    "up/down-sampling multiplier that would equalize token shares — "
    "data recipes weight strata by tokens, not documents "
    "(stratified_sample_counts is the doc-count gate; this is the "
    "token-weighted planning view feeding it). One tokenizing scan "
    "into a language-bounded aggregate; the share denominators are "
    "scalar subqueries over the per-stratum rollup, never a second "
    "corpus pass.",
    tags=("curation", "mixture", "tokens"),
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    per = (
        docs.select("lang", F.size(tokenize(F.col("text"))).alias("n_tokens"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )
    totals = per.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.count("*").alias("n_strata")
    )
    share = F.col("n_tokens") * 1.0 / F.col("tot_tokens")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(share, 6).alias("token_share"),
            F.round((1.0 / F.col("n_strata")) / share, 6).alias("uniform_multiplier"),
        )
        .orderBy("lang")
    )


@register(
    "pii_redaction_stats",
    oracle="""
    WITH c AS (
      SELECT source,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(text,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ips
      FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_emails + n_ips > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(sum(n_emails) AS BIGINT) AS n_emails,
           CAST(sum(n_ips) AS BIGINT) AS n_ips
    FROM c GROUP BY source ORDER BY source
    """,
    description="PII scrub accounting — the privacy pass every "
    "pre-training pipeline runs before export (C4/FineWeb-style): "
    "per-source counts of email / IPv4 matches under the same patterns "
    "functions/text.py redact_pii rewrites with. One scan, "
    "source-keyed agg; the patterns live in the RE2/Java common subset "
    "so both engines match identical spans (redaction itself is "
    "unit-tested on crafted fixtures — this synthetic corpus is "
    "PII-free, and the all-zero counts prove it on both engines).",
    tags=("curation", "pii", "text"),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import pii_counts

    docs = load_table(spark, "documents", sf_dir)
    n_emails, n_ips = pii_counts(F.col("text"))
    c = docs.select(
        "source", n_emails.alias("n_emails"), n_ips.alias("n_ips")
    )
    return (
        c.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(((F.col("n_emails") + F.col("n_ips")) > 0).cast("int"))
            .cast("bigint")
            .alias("docs_with_pii"),
            F.sum("n_emails").cast("bigint").alias("n_emails"),
            F.sum("n_ips").cast("bigint").alias("n_ips"),
        )
        .orderBy("source")
    )


@register(
    "doc_chunk_plan",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, n_tokens, CAST(i AS INTEGER) AS chunk_id,
             CAST(1 + i * 24 AS BIGINT) AS start_token,
             CAST(least(1 + i * 24 + 31, n_tokens) AS BIGINT) AS end_token
      FROM t, unnest(range(0, CAST(CASE WHEN n_tokens <= 32 THEN 1
                       ELSE ceil((n_tokens - 8) / 24.0) END AS BIGINT))) AS u(i)
      WHERE n_tokens > 0
    )
    SELECT doc_id, chunk_id, start_token, end_token,
           end_token - start_token + 1 AS chunk_tokens
    FROM chunks ORDER BY doc_id, chunk_id
    """,
    description="Embedding-pipeline chunk plan: split every document "
    "into 32-token chunks with 8-token overlap (stride 24) — the "
    "windowing an embedding/RAG export runs before encoding. Pure "
    "arithmetic on per-doc token counts (no window content shuffles): "
    "n_chunks = ceil((n - overlap) / stride), one explode, no joins. "
    "The last chunk clamps to the doc end; docs at or under one chunk "
    "produce exactly one.",
    tags=("curation", "chunking", "export"),
)
def doc_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunk, overlap = 32, 8
    stride = chunk - overlap
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    n_chunks = F.when(F.col("n_tokens") <= chunk, F.lit(1)).otherwise(
        F.ceil((F.col("n_tokens") - F.lit(overlap)) / F.lit(float(stride)))
    )
    return (
        t.withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.lit(1) + F.col("chunk_id") * stride).cast("bigint").alias("start_token"),
            F.least(
                F.lit(1) + F.col("chunk_id") * stride + F.lit(chunk - 1),
                F.col("n_tokens"),
            )
            .cast("bigint")
            .alias("end_token"),
        )
        .withColumn("chunk_tokens", F.col("end_token") - F.col("start_token") + 1)
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "shuffled_export_order",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5('seed42|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS order_key
      FROM documents
    )
    SELECT doc_id, order_key,
           CAST(row_number() OVER (ORDER BY order_key, doc_id) AS BIGINT) AS pos
    FROM h ORDER BY pos LIMIT 50
    """,
    description="Deterministic training-order shuffle: order_key = "
    "md5-prefix of (seed, doc_id) — the reproducible pseudo-random "
    "permutation a training export writes shards in, identical across "
    "engines, retries and partitionings (same portable hash the dedup "
    "family uses). At scale the global row_number becomes "
    "repartitionByRange(order_key) + per-shard local positions (the "
    "write_training_shards path); the windowed form here is the "
    "cross-engine contract.",
    tags=("curation", "export", "shuffle"),
)
def shuffled_export_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, "documents", sf_dir)
    h = docs.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("seed42|"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("order_key"),
    )
    w = Window.orderBy("order_key", "doc_id")
    return (
        h.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .orderBy("pos")
        .limit(50)
    )


def _logreg_oracle_sql(iterations: int = 3) -> str:
    """Unrolled full-batch GD logistic regression as chained CTEs —
    the SQL twin of functions/ml.py logistic_regression_gd for a fixed
    schedule (zero init, lr=1, 6dp weight rounding per update), the
    same mechanically-generated-oracle trick as PageRank and Lloyd."""
    toks = (
        "list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),"
        " ' '), x -> x <> '')"
    )
    parts = [
        f"""
    WITH f AS MATERIALIZED (
      SELECT len({toks}) / 100.0 AS x1,
             n_chars / 500.0 AS x2,
             CASE WHEN len({toks}) BETWEEN 30 AND 100
                  THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ),
    nn AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM f),
    w0 AS MATERIALIZED (SELECT 0.0::DOUBLE AS wb, 0.0::DOUBLE AS w1, 0.0::DOUBLE AS w2)
    """
    ]
    for i in range(1, iterations + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""
    , p{i} AS MATERIALIZED (
        SELECT f.*, 1.0 / (1.0 + exp(-((SELECT wb FROM {prev})
               + (SELECT w1 FROM {prev}) * x1
               + (SELECT w2 FROM {prev}) * x2))) AS p
        FROM f
    ),
    w{i} AS MATERIALIZED (
        SELECT round((SELECT wb FROM {prev})
                     - (SELECT sum(p - y) FROM p{i}) / (SELECT n FROM nn), 6) AS wb,
               round((SELECT w1 FROM {prev})
                     - (SELECT sum((p - y) * x1) FROM p{i}) / (SELECT n FROM nn), 6) AS w1,
               round((SELECT w2 FROM {prev})
                     - (SELECT sum((p - y) * x2) FROM p{i}) / (SELECT n FROM nn), 6) AS w2
    )
    """
        )
    last = f"w{iterations}"
    parts.append(
        f"""
    , scored AS MATERIALIZED (
        SELECT f.y, 1.0 / (1.0 + exp(-((SELECT wb FROM {last})
               + (SELECT w1 FROM {last}) * x1
               + (SELECT w2 FROM {last}) * x2))) AS p
        FROM f
    )
    SELECT (SELECT wb FROM {last}) AS w_bias,
           (SELECT w1 FROM {last}) AS w_ntokens,
           (SELECT w2 FROM {last}) AS w_nchars,
           CAST((SELECT n FROM nn) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END)
                 / (SELECT n FROM nn), 6) AS accuracy
    FROM scored
    """
    )
    return "".join(parts)


@register(
    "quality_logreg_weights",
    oracle=_logreg_oracle_sql(iterations=3),
    description="Distributed TRAINING of a quality classifier — "
    "full-batch gradient-descent logistic regression as DataFrame "
    "aggregation (functions/ml.py): each step is one scan + one "
    "partial-agg shuffle of k+1 gradient doubles (MLlib's "
    "treeAggregate shape); the corpus never moves, the weight vector "
    "lives on the driver. Weak labels = token-band rule; features = "
    "scaled token and char counts. Weights round to 6dp per update so "
    "the unrolled SQL schedule reproduces them exactly — TRAINING "
    "itself is hash-checked, like the unrolled PageRank/Lloyd oracles. "
    "Returns the learned weights + training accuracy.",
    tags=("curation", "ml", "training", "iterative"),
)
def quality_logreg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.ml import (
        logistic_regression_gd,
        score_logistic,
    )
    from github_miner_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    f = docs.select(
        (F.size(tokenize(F.col("text"))) / F.lit(100.0)).alias("x1"),
        (F.col("n_chars") / F.lit(500.0)).alias("x2"),
        F.when(
            F.size(tokenize(F.col("text"))).between(30, 100), F.lit(1.0)
        )
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    w = logistic_regression_gd(f, ["x1", "x2"], "y", iterations=3, lr=1.0)
    p = score_logistic(f, ["x1", "x2"], w)
    correct = F.when((p >= 0.5) == (F.col("y") == 1.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    n = f.count()
    return f.agg(
        F.lit(w[0]).alias("w_bias"),
        F.lit(w[1]).alias("w_ntokens"),
        F.lit(w[2]).alias("w_nchars"),
        F.lit(n).cast("bigint").alias("n_rows"),
        F.round(F.sum(correct) / F.lit(float(n)), 6).alias("accuracy"),
    )


def _logreg_scores_oracle_sql(iterations: int = 3) -> str:
    """Train (the unrolled schedule) then SCORE every document —
    per-doc inference under the exact trained weights."""
    base = _logreg_oracle_sql(iterations)
    head, _, _tail = base.rpartition(", scored AS MATERIALIZED")
    toks = (
        "list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),"
        " ' '), x -> x <> '')"
    )
    last = f"w{iterations}"
    return (
        head
        + f"""
    , fd AS (
      SELECT doc_id,
             len({toks}) / 100.0 AS x1,
             n_chars / 500.0 AS x2
      FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-((SELECT wb FROM {last})
                 + (SELECT w1 FROM {last}) * x1
                 + (SELECT w2 FROM {last}) * x2))), 6) AS quality_prob
    FROM fd
    ORDER BY doc_id
    """
    )


@register(
    "doc_classifier_scores",
    oracle=_logreg_scores_oracle_sql(iterations=3),
    description="Train-then-score: the GD-trained quality classifier "
    "(quality_logreg_weights) applied to every document — inference is "
    "a pure expression over the scan (sigmoid of the dot product with "
    "the driver-held weight vector), the downstream filter a pipeline "
    "would actually gate exports on. Scores reproduce exactly in SQL "
    "from the unrolled training schedule.",
    tags=("curation", "ml", "scoring"),
)
def doc_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.ml import (
        logistic_regression_gd,
        score_logistic,
    )
    from github_miner_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    f = docs.select(
        "doc_id",
        (F.size(tokenize(F.col("text"))) / F.lit(100.0)).alias("x1"),
        (F.col("n_chars") / F.lit(500.0)).alias("x2"),
        F.when(
            F.size(tokenize(F.col("text"))).between(30, 100), F.lit(1.0)
        )
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    w = logistic_regression_gd(f, ["x1", "x2"], "y", iterations=3, lr=1.0)
    return f.select(
        "doc_id", F.round(score_logistic(f, ["x1", "x2"], w), 6).alias("quality_prob")
    ).orderBy("doc_id")


@register(
    "mixture_temperature_resample",
    oracle="""
    WITH t AS (
      SELECT source, len({toks}) AS n_tokens FROM documents
    ),
    per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM t GROUP BY source
    ),
    p AS (
      SELECT source, n_docs, n_tokens,
             n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per) AS share,
             pow(n_tokens * 1.0 / (SELECT sum(n_tokens) FROM per), 0.7) AS w
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           round(share, 6) AS token_share,
           round(w / (SELECT sum(w) FROM p), 6) AS temp_share,
           round((w / (SELECT sum(w) FROM p)) / share, 6) AS sample_multiplier
    FROM p ORDER BY source
    """.replace(
        "{toks}",
        "list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '')",
    ),
    description="Temperature-based mixture resampling (the tau=0.7 "
    "multinomial reweighting of XLM-R / Pile-style data recipes): each "
    "source's token share is raised to tau and renormalized; the "
    "sample_multiplier is the up/down-sampling factor per source. One "
    "tokenizing scan into a 20-row rollup; the tau-power and both "
    "normalizers are scalar aggregates over that rollup, broadcast "
    "back — no second corpus pass at any scale.",
    tags=("curation", "mixture", "sampling"),
)
def mixture_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    # pin the per-source rollup: its three consumers (tot, z, the final
    # projection) each re-ran the tokenizing corpus pass otherwise — the
    # HOF-lambda tokenizer defeats ReuseExchange canonicalization, so the
    # description's "one tokenizing scan" was only true per consumer
    # (4 documents scans in the r12 audit -> 1 + pinned re-reads of a
    # <= |sources|-row relation). Exact bigint sums: bit-identical.
    per = pin(
        docs.select("source", F.size(tokenize(F.col("text"))).alias("n_tokens"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    p = per.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("n_tokens") * 1.0 / F.col("tot_tokens")
    ).withColumn("w", F.pow(F.col("share"), F.lit(0.7)))
    z = p.agg(F.sum("w").alias("z"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("share"), 6).alias("token_share"),
            F.round(F.col("w") / F.col("z"), 6).alias("temp_share"),
            F.round((F.col("w") / F.col("z")) / F.col("share"), 6).alias(
                "sample_multiplier"
            ),
        )
        .orderBy("source")
    )


@register(
    "span_corruption_plan",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    plan AS (
      SELECT doc_id, source, len(toks) AS n,
             list_filter(generate_series(1, len(toks)),
               i -> ('0x' || substr(md5(doc_id || ':' || i), 1, 8))::BIGINT % 20 = 0
             ) AS starts
      FROM t WHERE len(toks) > 0
    ),
    masked AS (
      SELECT doc_id, source, n, len(starts) AS n_spans,
             len(list_distinct(flatten(list_transform(starts,
               s -> generate_series(s, least(s + 1 + ('0x' || substr(md5(doc_id || ':' || s), 1, 8))::BIGINT % 3, n))
             )))) AS n_masked
      FROM plan
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_spans) AS BIGINT) AS total_spans,
           round(avg(n_masked * 1.0 / n), 6) AS avg_masked_frac
    FROM masked GROUP BY source ORDER BY source
    """,
    description="T5-style span-corruption planning (the denoising-"
    "objective data-prep pass): per document, deterministic mask spans "
    "— a span starts at position i when the md5-derived hash of "
    "(doc_id, i) gates at 5%, runs 2-4 tokens (mean 3, i.e. ~15% of "
    "tokens masked), overlaps union via distinct — and per source the "
    "span count and average masked fraction. Pure higher-order array "
    "expressions over the PROJECTED token array (the lambda-CSE "
    "discipline): one corpus scan, one rollup, no shuffle beyond the "
    "per-source aggregate; the identical hash arithmetic runs in the "
    "oracle, so the plan is bit-reproducible across engines and runs "
    "— the property a resumable 100 TB masking job needs.",
    tags=("curation", "tokens", "masking", "training"),
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import tokenize

    docs = load_table(spark, "documents", sf_dir)
    # the shared engine-portable hash primitive over the (doc, pos) key
    pos_hash = lambda i: token_hash(  # noqa: E731
        F.concat_ws(":", F.col("doc_id"), i.cast("string"))
    )
    t = docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    plan = t.select(
        "doc_id",
        "source",
        F.size("toks").alias("n"),
        F.filter(
            F.sequence(F.lit(1), F.size("toks")),
            lambda i: pos_hash(i) % 20 == 0,
        ).alias("starts"),
    )
    span = lambda s: F.sequence(  # noqa: E731
        s, F.least(s + F.lit(1) + (pos_hash(s) % 3).cast("int"), F.col("n"))
    )
    masked = plan.select(
        "source",
        F.size("starts").alias("n_spans"),
        F.size(F.array_distinct(F.flatten(F.transform(F.col("starts"), span)))).alias(
            "n_masked"
        ),
        "n",
    )
    return (
        masked.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_spans").cast("bigint").alias("total_spans"),
            F.round(F.avg(F.col("n_masked") / F.col("n")), 6).alias("avg_masked_frac"),
        )
        .orderBy("source")
    )

def _bloom_prefilter_oracle() -> str:
    from github_miner_spark.queries.dedup_queries import DUCK_SHINGLES_CTE

    return (
        DUCK_SHINGLES_CTE
        + f"""
    , eval_sh AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {EVAL_MOD} = 0),
    train_sh AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {EVAL_MOD} <> 0),
    ks AS (SELECT unnest([0, 1, 2, 3]) AS j),
    bits AS (
      SELECT DISTINCT
             ('0x' || substr(md5(concat_ws('|', j, shingle)), 1, 15))::BIGINT
               & 16383 AS bit
      FROM eval_sh, ks
    ),
    probes AS (
      SELECT t.shingle, k.j,
             ('0x' || substr(md5(concat_ws('|', k.j, t.shingle)), 1, 15))::BIGINT
               & 16383 AS bit
      FROM train_sh t, ks k
    ),
    hits AS (
      SELECT p.shingle,
             CASE WHEN count(b.bit) = 4 THEN 1 ELSE 0 END AS pass
      FROM probes p LEFT JOIN bits b ON b.bit = p.bit
      GROUP BY p.shingle
    ),
    truth AS (
      SELECT h.shingle, h.pass,
             CASE WHEN e.shingle IS NULL THEN 0 ELSE 1 END AS member
      FROM hits h LEFT JOIN eval_sh e ON e.shingle = h.shingle
    )
    SELECT CAST(count(*) AS BIGINT) AS n_train_shingles,
           CAST(sum(pass) AS BIGINT) AS n_bloom_pass,
           CAST(sum(member) AS BIGINT) AS n_true_members,
           CAST(sum(pass) - sum(member) AS BIGINT) AS n_false_positives,
           round((sum(pass) - sum(member))
                 / CAST(count(*) - sum(member) AS DOUBLE), 6)
             AS false_positive_rate,
           round(sum(pass) / CAST(count(*) AS DOUBLE), 6) AS pass_rate
    FROM truth
    """
    )


@register(
    "bloom_decontamination_prefilter",
    oracle=_bloom_prefilter_oracle(),
    description="Bloom-filter decontamination pre-filter, graded "
    "against exact membership: the eval split's distinct 3-gram "
    "shingles set k=4 md5-derived bits in an m=16384-bit filter "
    "(2 KB), and every distinct training shingle probes it -- pass "
    "iff all four bits are set. Reports the pass/true-member/"
    "false-positive breakdown and rates. This is the cheap first "
    "stage the exact decontamination join (benchmark_decontamination) "
    "runs behind at 100 TB: the filter is a BROADCAST 2 KB bitmap, "
    "the probe is four map-side hashes per shingle, and everything "
    "that fails is dropped before any shuffle -- with zero false "
    "negatives by construction (a member's bits are all set), so the "
    "exact join on survivors loses nothing. All counts are integer, "
    "so both engines agree bit-for-bit.",
    tags=("curation", "decontamination", "sketch", "approx"),
)
def bloom_decontamination_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import token_hash60
    from github_miner_spark.functions.text_store import load_shingle_index

    idx = load_shingle_index(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    # eval_sh feeds BOTH the bit table and the membership-grading
    # join; the lazy checkpoint materializes the distinct shuffle once
    eval_sh = (
        pin(idx.filter(is_eval).select("shingle").distinct())
    )
    train_sh = idx.filter(~is_eval).select("shingle").distinct()
    ks = F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j")
    bit = token_hash60(
        F.concat_ws("|", F.col("j"), F.col("shingle"))
    ).bitwiseAND(F.lit(16383))
    bits = (
        eval_sh.select("shingle", ks)
        .select(bit.alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    probes = train_sh.select("shingle", ks).select("shingle", bit.alias("bit"))
    hits = (
        probes.join(F.broadcast(bits), "bit", "left")
        .groupBy("shingle")
        .agg(
            F.when(F.count("present") == 4, F.lit(1))
            .otherwise(F.lit(0))
            .alias("pass")
        )
    )
    truth = hits.join(
        F.broadcast(eval_sh.withColumn("member_flag", F.lit(1))),
        "shingle",
        "left",
    ).select(
        "pass",
        F.when(F.col("member_flag").isNull(), F.lit(0))
        .otherwise(F.lit(1))
        .alias("member"),
    )
    return truth.agg(
        F.count("*").cast("bigint").alias("n_train_shingles"),
        F.sum("pass").cast("bigint").alias("n_bloom_pass"),
        F.sum("member").cast("bigint").alias("n_true_members"),
        (F.sum("pass") - F.sum("member")).cast("bigint").alias("n_false_positives"),
        F.round(
            (F.sum("pass") - F.sum("member"))
            / (F.count("*") - F.sum("member")).cast("double"),
            6,
        ).alias("false_positive_rate"),
        F.round(F.sum("pass") / F.count("*").cast("double"), 6).alias("pass_rate"),
    )

@register(
    "priority_sample_summary",
    oracle="""
    WITH pr AS (
      SELECT doc_id, n_chars,
             n_chars / (('0x' || substr(md5(concat_ws('|', 'ps', doc_id)),
                          1, 15))::BIGINT / power(2.0, 60)) AS priority
      FROM documents
    ),
    top21 AS (
      SELECT doc_id, n_chars, priority FROM pr
      ORDER BY priority DESC, doc_id LIMIT 21
    ),
    tau_row AS (
      SELECT priority AS tau, doc_id AS tau_doc FROM top21
      ORDER BY priority ASC, doc_id DESC LIMIT 1
    ),
    selected AS (
      SELECT t.* FROM top21 t, tau_row
      WHERE NOT (t.priority = tau_row.tau AND t.doc_id = tau_row.tau_doc)
    ),
    tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS true_total FROM documents),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(sum(s.doc_id) AS BIGINT) AS sum_sampled_ids,
             CAST(coalesce(sum(CASE WHEN s.n_chars >= tau_row.tau
                                    THEN s.n_chars END), 0) AS DOUBLE)
               + count(CASE WHEN s.n_chars < tau_row.tau THEN 1 END)
                 * tau_row.tau AS est_total
      FROM selected s, tau_row GROUP BY tau_row.tau
    )
    SELECT 20 AS k,
           round((SELECT tau FROM tau_row), 6) AS tau,
           e.n_sampled, e.sum_sampled_ids,
           round(e.est_total, 6) AS est_total_chars,
           t.true_total AS true_total_chars,
           round(abs(e.est_total - t.true_total) / t.true_total, 6) AS rel_error
    FROM est e, tot t
    """,
    description="Priority sampling (Duffield, Lund & Thorup 2007) of "
    "documents weighted by size: priority = weight / uniform with the "
    "uniform drawn from the portable 60-bit md5 hash, keep the top "
    "k=20, threshold tau = the (k+1)-th priority, and the unbiased "
    "subset-sum estimate sum(max(w_i, tau)) over the sample -- the "
    "weighted-sampling primitive behind token-budget mixture "
    "construction (sample few large docs OR many small ones, estimate "
    "total tokens either way). Deterministic across engines, runs and "
    "retries: the priority is one float division per row (no "
    "accumulation), selection is a TakeOrderedAndProject top-(k+1) "
    "with a doc_id tiebreak, and the estimator is decomposed into an "
    "exact integer sum (weights above tau) plus count-below-tau times "
    "tau, so no order-dependent float summation exists anywhere. The "
    "sample's membership is pinned by the sum-of-ids digest. At "
    "100 TB the SAMPLING is one scan + a k+1-row per-partition heap "
    "(checkpointed so tau and the selection reuse it) -- no sort, no "
    "shuffle beyond the top-k combine; the second, aggregate-only "
    "scan computes the exact total purely as grading.",
    tags=("curation", "sampling", "sketch", "approx"),
)
def priority_sample_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import token_hash60

    docs = load_table(spark, "documents", sf_dir)
    pr = docs.select(
        "doc_id",
        "n_chars",
        (
            F.col("n_chars")
            / (
                token_hash60(F.concat_ws("|", F.lit("ps"), F.col("doc_id")))
                / F.pow(F.lit(2.0), F.lit(60))
            )
        ).alias("priority"),
    )
    # top21 feeds both the tau derivation and the selected branch;
    # the lazy checkpoint runs the scan + heap once, not twice
    top21 = pin(pr.orderBy(F.desc("priority"), "doc_id").limit(21))
    # the (k+1)-th row under (priority DESC, doc_id ASC) is the MIN of
    # struct(priority, -doc_id): min priority, and among priority ties
    # the largest doc_id (= the last-ordered row)
    tau_row = top21.agg(
        F.min(F.struct(F.col("priority"), (-F.col("doc_id")).alias("neg_id"))).alias(
            "m"
        )
    ).select(
        F.col("m.priority").alias("tau"), (-F.col("m.neg_id")).alias("tau_doc")
    )
    selected = top21.crossJoin(F.broadcast(tau_row)).filter(
        ~((F.col("priority") == F.col("tau")) & (F.col("doc_id") == F.col("tau_doc")))
    )
    tot = docs.agg(F.sum("n_chars").cast("bigint").alias("true_total"))
    est = selected.groupBy("tau").agg(
        F.count("*").cast("bigint").alias("n_sampled"),
        F.sum("doc_id").cast("bigint").alias("sum_sampled_ids"),
        (
            F.coalesce(
                F.sum(F.when(F.col("n_chars") >= F.col("tau"), F.col("n_chars"))),
                F.lit(0),
            ).cast("double")
            + F.count(F.when(F.col("n_chars") < F.col("tau"), 1)) * F.col("tau")
        ).alias("est_total"),
    )
    return est.crossJoin(F.broadcast(tot)).select(
        F.lit(20).alias("k"),
        F.round(F.col("tau"), 6).alias("tau"),
        "n_sampled",
        "sum_sampled_ids",
        F.round(F.col("est_total"), 6).alias("est_total_chars"),
        F.col("true_total").alias("true_total_chars"),
        F.round(
            F.abs(F.col("est_total") - F.col("true_total")) / F.col("true_total"), 6
        ).alias("rel_error"),
    )


# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Hashed n-gram features (unigrams + bigrams into
# DSIR_BUCKETS buckets via the md5-prefix hash) fit two smoothed
# bag-of-buckets models — the TARGET domain (a fixed source subset
# standing in for the high-quality corpus) and the RAW corpus — and
# every document scores the sum of per-feature log importance ratios
# ln(p_target(b)/p_raw(b)). Selection is Gumbel top-k on the scores
# (sampling without replacement from the importance distribution, the
# paper's resampling step) with md5-derived uniforms as the shared
# randomness. Per-bucket log-ratios and per-doc Gumbel noise are
# quantized to micro-nats (BIGINT) before any order-sensitive sum or
# ranking — the unigram-LM store's ln-quantization recipe — so both
# engines rank identical integers.
DSIR_BUCKETS = 64
DSIR_TARGET_SOURCES = ("src0", "src1")
DSIR_KEEP_K = 100
DSIR_SCALE = 1_000_000

_DSIR_DUCK_TOKENS = (
    "list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),"
    " ' '), x -> x <> '')"
)
_DSIR_TGT = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

_DSIR_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source, {_DSIR_DUCK_TOKENS} AS toks FROM documents
    ),
    occ AS MATERIALIZED (
      SELECT doc_id, source,
             ('0x' || substr(md5(f), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, source, unnest(list_concat(
          toks,
          CASE WHEN len(toks) >= 2
               THEN list_transform(generate_series(1, len(toks) - 1),
                                   i -> concat(toks[i], ' ', toks[i+1]))
               ELSE [] END)) AS f
        FROM t)
    ),
    cr AS (SELECT b, count(*) AS cr FROM occ GROUP BY b),
    ct AS (SELECT b, count(*) AS ct FROM occ
           WHERE source IN ({_DSIR_TGT}) GROUP BY b),
    tots AS (
      SELECT (SELECT count(*) FROM occ) AS r_tot,
             (SELECT count(*) FROM occ WHERE source IN ({_DSIR_TGT})) AS t_tot
    ),
    lam AS (
      SELECT cr.b,
             CAST(round((ln((coalesce(ct.ct, 0) + 1.0)
                            / (tots.t_tot + {DSIR_BUCKETS}.0))
                         - ln((cr.cr + 1.0)
                              / (tots.r_tot + {DSIR_BUCKETS}.0)))
                        * {DSIR_SCALE}, 0) AS BIGINT) AS lq
      FROM cr LEFT JOIN ct USING (b), tots
    ),
    w AS (
      SELECT o.doc_id, o.source, CAST(sum(l.lq) AS BIGINT) AS w
      FROM occ o JOIN lam l USING (b) GROUP BY o.doc_id, o.source
    ),
    sc AS (
      SELECT doc_id, source, w,
             w + CAST(round(-ln(-ln(
                   (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)),
                      1, 8))::BIGINT + 1) / 4294967297.0))
                 * {DSIR_SCALE}, 0) AS BIGINT) AS s
      FROM w
    ),
    k AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
      FROM sc
    )
    SELECT source, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN k.rn <= {DSIR_KEEP_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS kept,
           round(sum(w) / ({DSIR_SCALE}.0 * count(*)), 6) AS avg_weight_nats,
           round(max(w) / {DSIR_SCALE}.0, 6) AS max_weight_nats
    FROM sc JOIN k USING (doc_id)
    GROUP BY source ORDER BY source
    """


@register(
    "dsir_importance_weights",
    oracle=_DSIR_ORACLE,
    description="DSIR data selection (Xie et al. 2023): hashed "
    "unigram+bigram bag-of-buckets importance weights "
    "ln(p_target/p_raw) per document against a fixed target-domain "
    "source subset, Gumbel-top-k resampling with md5-derived "
    "uniforms, reported per source (docs, kept-in-top-k, avg/max "
    "weight in nats). The feature model is DSIR_BUCKETS rows — "
    "broadcast; the corpus side is one explode + one bucket join + "
    "one (doc_id)-keyed rollup, O(corpus tokens). The top-k is "
    "TakeOrderedAndProject (k rows, never a global sort) and its "
    "membership broadcast-joins back. Per-bucket log-ratios and "
    "Gumbel noise are micro-nat-quantized BIGINTs, so ranking and "
    "sums are exact integer algebra on both engines.",
    tags=("curation", "mixture", "sampling", "dsir"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import (
        md5_prefix_hash,
        token_hash60,
        tokenize,
    )

    docs = load_table(spark, "documents", sf_dir)
    # unigram + bigram features as a per-n union over the checkpointed
    # token relation — the form the gopher/distinct-n/PMI measurements
    # settled on: concat() of the token array with the transformed
    # bigram array physically copies both families into a fresh array
    # per row before the explode (r12 clean-window interleaved
    # count-protocol medians at sf0.1: 1.514s union-over-checkpoint
    # vs 1.921s concat, untouched controls at par)
    tdocs = pin(docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks")))
    uni = tdocs.select("doc_id", "source", F.explode(F.col("toks")).alias("f"))
    bi = tdocs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN transform("
                "sequence(1, size(toks) - 1), "
                "i -> array_join(slice(toks, i, 2), ' ')) "
                "ELSE array() END"
            )
        ).alias("f"),
    )
    # the explode output feeds three aggregations (raw counts,
    # target counts, per-doc weights) — pin it once
    occ = pin(
        uni.unionByName(bi).select(
            "doc_id",
            "source",
            (token_hash60(F.col("f")) % DSIR_BUCKETS).alias("b"),
        )
    )
    tgt = F.col("source").isin(*DSIR_TARGET_SOURCES)
    counts = occ.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(tgt, 1).otherwise(0)).alias("ct"),
    )
    # totals fold over the DSIR_BUCKETS-row rollup, not a second
    # corpus-scale pass over occ (the buckets partition occ exactly)
    tots = counts.agg(
        F.sum("cr").alias("r_tot"),
        F.sum("ct").alias("t_tot"),
    )
    lam = counts.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("ct") + 1.0) / (F.col("t_tot") + float(DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("cr") + 1.0) / (F.col("r_tot") + float(DSIR_BUCKETS))
                )
            )
            * DSIR_SCALE,
            0,
        )
        .cast("bigint")
        .alias("lq"),
    )
    w = (
        occ.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("lq").cast("bigint").alias("w"))
    )
    u = (
        md5_prefix_hash(
            F.concat(F.lit("dsir:"), F.col("doc_id").cast("string")), 8
        )
        + 1
    ) / 4294967297.0
    sc = w.withColumn(
        "s",
        F.col("w")
        + F.round(-F.log(-F.log(u)) * DSIR_SCALE, 0).cast("bigint"),
    )
    # Gumbel top-k: TakeOrderedAndProject bounds the kept set to K rows
    # before it broadcast-joins back — no global sort, no rank window
    kept = (
        sc.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(DSIR_KEEP_K)
        .select("doc_id", F.lit(1).alias("is_kept"))
    )
    return (
        sc.join(F.broadcast(kept), "doc_id", "left_outer")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum(F.coalesce(F.col("is_kept"), F.lit(0)))
            .cast("bigint")
            .alias("kept"),
            F.round(
                F.sum("w") / (float(DSIR_SCALE) * F.count("*")), 6
            ).alias("avg_weight_nats"),
            F.round(F.max("w") / float(DSIR_SCALE), 6).alias(
                "max_weight_nats"
            ),
        )
        .orderBy("source")
    )
