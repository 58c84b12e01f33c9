"""Text-analysis queries over the documents table (LLM-pipeline
operators: token stats, quality scoring, language ID, fingerprints) —
all pure column expressions with exact DuckDB oracles.

The shared SQL fragments below mirror functions/text.py primitive for
primitive (same regex, same md5-prefix hash, same fold) — the oracle
equality at sf0.01 is what proves the two implementations agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from github_miner_spark.functions.pin import pin, pin_observed
from github_miner_spark.functions.text import (
    FINGERPRINT_MOD,
    STOPWORDS,
    fingerprint,
    language_id,
    mean_token_length,
    quality_score,
    shingle_hashes_of_tokens,
    token_count,
    tokenize,
)
from github_miner_spark.gate import choose_path
from github_miner_spark.io.tables import load_table
from github_miner_spark.registry import register

# DuckDB twins of the functions/text.py primitives
DUCK_TOKENS = (
    "list_filter(str_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),"
    " x -> x <> '')"
)
DUCK_HASH = "('0x' || substr(md5({v}), 1, 8))::BIGINT"


def _duck_stop_hits(lang: str, toks: str = "toks") -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"


@register(
    "doc_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks), 6)
             AS mean_token_len
    FROM t WHERE len(toks) > 0
    ORDER BY doc_id
    """,
    description="Per-document token statistics (token counting for LLM data "
    "pipelines): counts, distinct counts, mean token length",
    tags=("text", "tokens"),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            F.round(mean_token_length(toks), 6).alias("mean_token_len"),
        )
        .filter(F.col("n_tokens") > 0)
        .orderBy("doc_id")
    )


@register(
    "doc_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {DUCK_TOKENS} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
        CASE WHEN len(toks) > 0
             THEN {_duck_stop_hits('en')} * 1.0 / len(toks) ELSE 0.0 END AS sw,
        CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
             ELSE 0.0 END AS mtl,
        CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text,
                    '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) * 1.0 / length(text)
             ELSE 0.0 END AS punct,
        CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                  * 1.0 / length(text)
             ELSE 0.0 END AS dig
      FROM t
    )
    SELECT doc_id,
           round(0.4 * least(sw * 4.0, 1.0)
                 + 0.3 * (1.0 - least(abs(mtl - 5.0) / 5.0, 1.0))
                 + 0.3 * (1.0 - least((punct + dig) * 3.0, 1.0)), 6) AS quality
    FROM m ORDER BY doc_id
    """,
    description="Heuristic quality score per document: stopword density, "
    "token-length profile, punctuation/digit noise",
    tags=("text", "quality"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality")).orderBy("doc_id")


@register(
    "language_id_confusion",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents
    ), hits AS (
      SELECT doc_id, lang,
             {_duck_stop_hits('de')} AS h_de,
             {_duck_stop_hits('en')} AS h_en,
             {_duck_stop_hits('es')} AS h_es,
             {_duck_stop_hits('fr')} AS h_fr
      FROM t
    ), pred AS (
      SELECT doc_id, lang,
        CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM hits
    )
    SELECT lang AS lang_label, lang_pred, count(*) AS n
    FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """,
    description="Language-ID heuristic (stopword voting, ties -> "
    "lexicographically first language) cross-tabulated against the lang label",
    tags=("text", "lang-id"),
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.col("lang").alias("lang_label"), language_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_label", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang_label", "lang_pred")
    )


@register(
    "doc_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(toks, t -> {DUCK_HASH.format(v='t')})),
             (acc, h) -> (acc * 31 + h) % {FINGERPRINT_MOD}
           ) AS fp
    FROM t WHERE len(toks) > 0
    ORDER BY doc_id
    """,
    description="Order-sensitive rolling-hash document fingerprint "
    "(fold of md5-prefix token hashes)",
    tags=("text", "fingerprint"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", fingerprint(F.col("text")).alias("fp"), token_count(F.col("text")).alias("_n"))
        .filter(F.col("_n") > 0)
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


@register(
    "doc_shingle_profile",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> {DUCK_HASH.format(v="concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")}))
                  ELSE [] END AS shingles
      FROM t
    )
    SELECT doc_id, len(shingles) AS n_shingles FROM sh ORDER BY doc_id
    """,
    description="Distinct hashed word-3-gram shingles per document — the "
    "input relation for MinHash/Jaccard dedup",
    tags=("text", "shingles"),
)
def doc_shingle_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.size(shingle_hashes_of_tokens(F.col("toks"))).alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


# GPT-2-style pre-tokenizer approximation (contractions, letter runs,
# digit runs, punctuation runs, whitespace runs) — RE2-compatible so
# Spark (Java regex) and DuckDB (RE2) agree; applied to lowered text
BPE_ISH_PATTERN = r"'([sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"


@register(
    "doc_bpe_token_counts",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {DUCK_TOKENS} AS toks,
             regexp_extract_all(lower(text),
               '''([sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s'']+|\\s+') AS bpe
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS ws_tokens,
           len(bpe) AS bpe_tokens,
           round(len(bpe) * 1.0 / len(toks), 6) AS bpe_per_ws
    FROM t WHERE len(toks) > 0
    ORDER BY doc_id
    """,
    description="Token counting both ways (LLM-pipeline budgeting): "
    "whitespace tokens vs a BPE-ish pre-tokenizer regex (contraction / "
    "letter-run / digit-run / punct-run / space-run), plus their ratio",
    tags=("text", "tokens", "bpe"),
)
def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize(F.col("text"))
    bpe = F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_ISH_PATTERN), 0)
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("ws_tokens"),
            F.size(bpe).alias("bpe_tokens"),
            F.round(F.size(bpe) / F.size(toks), 6).alias("bpe_per_ws"),
        )
        .filter(F.col("ws_tokens") > 0)
        .orderBy("doc_id")
    )


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {DUCK_TOKENS} AS toks FROM documents
    ), hits AS (
      SELECT doc_id, text, toks,
             {_duck_stop_hits('de')} AS h_de,
             {_duck_stop_hits('en')} AS h_en,
             {_duck_stop_hits('es')} AS h_es,
             {_duck_stop_hits('fr')} AS h_fr
      FROM t
    ), m AS (
      SELECT doc_id, text, len(toks) AS nt,
        CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
             WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
             WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
             WHEN h_es >= h_fr THEN 'es'
             ELSE 'fr' END AS lang_pred,
        CASE WHEN len(toks) > 0
             THEN {_duck_stop_hits('en')} * 1.0 / len(toks) ELSE 0.0 END AS sw,
        CASE WHEN len(toks) > 0
             THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
             ELSE 0.0 END AS mtl,
        CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text,
                    '[.,;:!?''"()\\[\\]{{}}-]', '', 'g'))) * 1.0 / length(text)
             ELSE 0.0 END AS punct,
        CASE WHEN length(text) > 0
             THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                  * 1.0 / length(text)
             ELSE 0.0 END AS dig
      FROM hits
    ), q AS (
      SELECT doc_id, text, nt, lang_pred,
             round(0.4 * least(sw * 4.0, 1.0)
                   + 0.3 * (1.0 - least(abs(mtl - 5.0) / 5.0, 1.0))
                   + 0.3 * (1.0 - least((punct + dig) * 3.0, 1.0)), 6) AS quality
      FROM m
    ), keep AS (
      SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY 1
    )
    SELECT count(*) AS n_total,
           count(*) FILTER (lang_pred = 'en') AS n_lang,
           count(*) FILTER (lang_pred = 'en' AND quality >= 0.65) AS n_quality,
           count(*) FILTER (lang_pred = 'en' AND quality >= 0.65
                            AND nt BETWEEN 30 AND 70) AS n_tokens,
           count(*) FILTER (lang_pred = 'en' AND quality >= 0.65
                            AND nt BETWEEN 30 AND 70
                            AND doc_id = k.keep_id) AS n_kept
    FROM q JOIN keep k ON md5(q.text) = k.h
    """,
    description="The LLM-data curation funnel in one pass: language-ID -> "
    "quality threshold -> token-count band -> exact-dedup keep, with "
    "cumulative survivor counts per stage. Composes the text operators "
    "into the pipeline shape they exist for; one scan + one dedup shuffle.",
    tags=("text", "pipeline", "dedup"),
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        language_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("nt"),
        F.md5("text").alias("h"),
    )
    keep = scored.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    j = scored.join(keep, "h")
    lang_ok = F.col("lang_pred") == "en"
    q_ok = lang_ok & (F.col("quality") >= 0.65)
    t_ok = q_ok & F.col("nt").between(30, 70)
    kept = t_ok & (F.col("doc_id") == F.col("keep_id"))
    return j.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(lang_ok, 1)).alias("n_lang"),
        F.count(F.when(q_ok, 1)).alias("n_quality"),
        F.count(F.when(t_ok, 1)).alias("n_tokens"),
        F.count(F.when(kept, 1)).alias("n_kept"),
    )


@register(
    "doc_tfidf_top_terms",
    oracle=f"""
    WITH t AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    x AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM x GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST((SELECT n FROM tot) AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term)
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, CAST(rank AS INT) AS rank, tfidf
    FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    description="Top-3 tf-idf terms per document (raw tf x ln(N/df), no "
    "smoothing): the classic salient-term extraction over the corpus — "
    "explode -> two hash aggregations -> broadcast idf join -> per-doc "
    "window top-k; every step JVM-side, df table is term-vocabulary-sized.",
    tags=("text", "tfidf", "topk"),
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    # pin the (doc, term) frequency rollup: its two consumers (the df
    # rollup and the score join) each re-derived the whole
    # scan+tokenize+explode+aggregate chain (3 parquet scans in the
    # r12 audit — the HOF-lambda tokenizer defeats ReuseExchange).
    # One corpus pass; everything downstream reads the doc-term-sized
    # pin.
    tf = pin(
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "rank", "tfidf")
        .orderBy("doc_id", "rank")
    )


@register(
    "doc_unigram_surprisal",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
    freq AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    total AS (SELECT sum(c) AS n FROM freq),
    scored AS (
      SELECT tok.doc_id,
             -ln(freq.c / (SELECT n FROM total)) AS surprisal
      FROM tok JOIN freq ON tok.term = freq.term
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(surprisal), 6) AS mean_surprisal,
           round(max(surprisal), 6) AS max_surprisal
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    description="Unigram surprisal scoring — the perplexity-proxy quality "
    "filter (KenLM stand-in): corpus unigram distribution in one keyed "
    "aggregation, then each token scored -ln(p(term)) and averaged per "
    "doc. Two shuffles total (term stats, then the term-keyed score "
    "join + doc rollup); the distribution is JOINED, not broadcast or "
    "collected, so an open-vocabulary corpus at 100 TB works "
    "unchanged. High mean surprisal = gibberish/rare-token documents, "
    "low = boilerplate.",
    tags=("text", "quality", "scoring"),
)
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # pin the exploded token relation: the HOF-lambda tokenizer defeats
    # plan canonicalization, so without the checkpoint the corpus was
    # scanned+tokenized THREE times (freq for the join, freq again for
    # the total, tok for scoring — 3 parquet scans in the r12 audit).
    # One corpus pass now feeds all consumers (the same
    # one-write-for-N-rescans call _kn_scored makes); a second pin on
    # the freq rollup measured WORSE (0.84 vs 0.64 end-to-end at
    # sf0.1) — the re-agg over the pinned tokens is cheaper than a
    # second checkpoint round-trip.
    tok = pin(docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term")))
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("c") / F.col("n"))).alias("surprisal"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("surprisal"), 6).alias("mean_surprisal"),
            F.round(F.max("surprisal"), 6).alias("max_surprisal"),
        )
        .orderBy("doc_id")
    )


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH t AS (SELECT {DUCK_TOKENS} AS toks FROM documents),
    pairs AS (
      SELECT unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> concat(toks[i], ' ', toks[i+1]))) AS pair
      FROM t WHERE len(toks) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    description="Vocabulary-induction merge statistics: the most "
    "frequent adjacent token pairs across the corpus — one round of "
    "the count-merge step BPE/WordPiece training runs at scale "
    "(tokens stand in for the byte-level alphabet, as in "
    "doc_bpe_token_counts). Pure higher-order array expressions into "
    "one count aggregate + TakeOrdered: pair cardinality is "
    "vocabulary-bounded, not corpus-bounded, so the shuffle stays "
    "small at any corpus size and the map side combines locally.",
    tags=("text", "tokens", "bpe"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = tokenize(F.col("text"))
    pairs = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


_BPE_MERGE_ROUNDS = 6


def _bpe_training_ctes(rounds: int = _BPE_MERGE_ROUNDS) -> str:
    """Unrolled BPE-training CTE chain: one (pairs, argmax,
    re-tokenized state) triple per merge round — the pagerank-style
    unrolled fixpoint, so DuckDB replays the exact same training loop
    from spec (the engine serves the merge table from the store;
    grading stays store-independent). Shared by the merge-table
    oracle and the segmentation oracle; st{rounds} carries
    (doc_id, source, s) for downstream rollups."""
    ctes = [
        f"""
    WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    st0 AS (
      SELECT doc_id, source,
             '<' || array_to_string(toks, '><') || '>' AS s
      FROM t WHERE len(toks) >= 1
    )"""
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""
    , tk{k} AS (
      SELECT str_split(s[2:length(s) - 1], '><') AS tk FROM st{k - 1}
    ),
    p{k} AS (
      SELECT tk[i] || '|' || tk[i + 1] AS pair
      FROM tk{k},
           unnest(CASE WHEN len(tk) >= 2 THEN range(1, len(tk))
                       ELSE [] END) AS u(i)
    ),
    c{k} AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS n
      FROM p{k} GROUP BY pair ORDER BY n DESC, pair LIMIT 1
    ),
    st{k} AS (
      SELECT doc_id, source,
             replace(s,
                     '<' || str_split(pair, '|')[1] || '><'
                         || str_split(pair, '|')[2] || '>',
                     '<' || str_split(pair, '|')[1] || ' '
                         || str_split(pair, '|')[2] || '>') AS s
      FROM st{k - 1}, c{k}
    )""")
    return "".join(ctes)


def _bpe_vocab_oracle_sql(rounds: int = _BPE_MERGE_ROUNDS) -> str:
    picks = " UNION ALL ".join(
        f"SELECT {k} AS step, str_split(pair, '|')[1] AS left_sym, "
        f"str_split(pair, '|')[2] AS right_sym, n AS n_occurrences FROM c{k}"
        for k in range(1, rounds + 1)
    )
    return _bpe_training_ctes(rounds) + f" SELECT * FROM ({picks}) ORDER BY step"


@register(
    "bpe_vocab_induction",
    oracle=_bpe_vocab_oracle_sql(),
    description="Full BPE vocabulary-induction training loop (Sennrich "
    "et al. 2016, the tokenizer-training pass) — the iterated form of "
    f"bpe_merge_candidates: {_BPE_MERGE_ROUNDS} merge rounds, each "
    "counting adjacent symbol pairs across the whole corpus, picking "
    "the most frequent pair (count desc, pair asc tiebreak — "
    "deterministic), and merging every non-overlapping occurrence "
    "corpus-wide before the next round; word tokens stand in for the "
    "byte alphabet as in doc_bpe_token_counts. Returns the learned "
    "merge table (step, left, right, count) — the artifact a real "
    "tokenizer trainer ships, served from the materialized BPE store "
    "(functions/bpe_store.py — trained once per source dir, like the "
    "walk store; bpe_segmentation_stats consumes the same table). "
    "Training shape (the store builder): corpus state is a "
    "delimiter-wrapped symbol string per doc ('<a><b>...'), "
    "materialized ONCE; each round is one vocabulary-bounded "
    "map-side-combining pair count + a 1-row argmax collect (scalar "
    "aggregate, the blessed driver-state class for training loops) + "
    "one narrow string replace — greedy leftmost non-overlapping "
    "replace IS the BPE merge step, and Spark and DuckDB share that "
    "replace semantic, so the oracle unrolls the identical loop as "
    "CTE triples and re-trains from spec (grading stays "
    "store-independent). At 100 TB: no corpus-sized shuffle ever "
    "(pair counts are vocab-bounded, merges are narrow maps over the "
    "one checkpointed state), driver state is one (pair, count) row "
    "per round.",
    tags=("text", "tokens", "bpe", "iterative"),
)
def bpe_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.bpe_store import load_bpe_merges

    return load_bpe_merges(spark, sf_dir).orderBy("step")


@register(
    "bpe_segmentation_stats",
    oracle=_bpe_training_ctes()
    + f"""
    , seg AS (
      SELECT source,
             len(str_split(s[2:length(s) - 1], '><')) AS n_after
      FROM st{_BPE_MERGE_ROUNDS}
    ),
    pre AS (
      SELECT source, len(toks) AS n_before
      FROM t WHERE len(toks) >= 1
    ),
    pa AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
                  CAST(sum(n_before) AS BIGINT) AS tokens_before
           FROM pre GROUP BY source),
    sa AS (SELECT source, CAST(sum(n_after) AS BIGINT) AS tokens_after
           FROM seg GROUP BY source)
    SELECT pa.source, pa.docs, pa.tokens_before, sa.tokens_after,
           round(pa.tokens_before * 1.0 / sa.tokens_after, 6)
             AS compression
    FROM pa JOIN sa ON sa.source = pa.source
    ORDER BY pa.source
    """,
    description="Tokenizer APPLICATION — the consumer step of "
    "bpe_vocab_induction: segment the corpus with the learned merge "
    "table and report per-source token counts before/after plus the "
    "compression ratio (the number a tokenizer-training pipeline "
    "actually tracks round over round: how much the learned vocab "
    "shrinks the corpus, per data source). Engine shape: the 6-row "
    "merge table reads from the materialized BPE store "
    "(functions/bpe_store.py — trained once per source dir, the "
    "walk-store pattern) and collects as driver scalars; applying it "
    "is six narrow greedy-leftmost string replaces over the one "
    "corpus checkpoint, then a per-source rollup — no shuffle beyond "
    "the source-keyed aggregation at any scale. The oracle re-trains "
    "from spec via the unrolled CTE chain, so a corrupted or stale "
    "merge store hash-mismatches instead of grading itself.",
    tags=("text", "tokens", "bpe"),
)
def bpe_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.bpe_store import (
        apply_merges,
        corpus_state,
        load_bpe_merges,
        split_symbols,
    )

    merges = [
        (r["left_sym"], r["right_sym"])
        for r in load_bpe_merges(spark, sf_dir).orderBy("step").collect()
    ]
    # ONE corpus materialization for both sides (corpus_state is an
    # eager checkpoint — calling it twice would tokenize and
    # materialize the corpus twice for no reason)
    base = corpus_state(spark, sf_dir)
    st = apply_merges(base, merges)
    seg = st.select("source", F.size(split_symbols()).alias("n_after"))
    pre = base.select("source", F.size(split_symbols()).alias("n_before"))
    pa = pre.groupBy("source").agg(
        F.count("*").cast("bigint").alias("docs"),
        F.sum("n_before").cast("bigint").alias("tokens_before"),
    )
    sa = seg.groupBy("source").agg(
        F.sum("n_after").cast("bigint").alias("tokens_after")
    )
    return (
        pa.join(sa, "source")
        .select(
            "source",
            "docs",
            "tokens_before",
            "tokens_after",
            F.round(
                F.col("tokens_before") / F.col("tokens_after"), 6
            ).alias("compression"),
        )
        .orderBy("source")
    )


def _unigram_training_ctes() -> str:
    """The unigram-LM training loop (functions/unigram_store.py)
    unrolled as chained DuckDB CTEs — seed substring counts, then
    EM_ROUNDS hard-EM rounds of quantized-score Viterbi segmentation
    (E) and usage re-counting with the single-char add-one floor (M),
    then the final-vocabulary segmentation ube_fin. Scores are
    integer-quantized (round((ln(c)-ln(T))*1e9) AS BIGINT) in BOTH
    engines, so every argmax is exact integer algebra; min(struct) is
    the portable tie-break (fewer pieces, then smallest '|'-joined
    segmentation)."""
    from github_miner_spark.functions.unigram_store import (
        EM_ROUNDS,
        PIECE_MAX_LEN,
        SCORE_SCALE,
    )

    parts = [f"""
    WITH ut AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    uw AS MATERIALIZED (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS f
      FROM (SELECT unnest(toks) AS w FROM ut) GROUP BY w
    ),
    uch AS (
      SELECT DISTINCT unnest(list_transform(
        generate_series(1, length(word)),
        i -> substring(word, i, 1))) AS piece
      FROM uw
    ),
    ucand AS MATERIALIZED (
      SELECT word, m, CAST(len(pieces) AS BIGINT) AS n_pieces, pieces,
             array_to_string(pieces, '|') AS seg
      FROM (
        SELECT word, m,
               list_transform(
                 generate_series(1, len(bounds) - 1),
                 j -> substring(word, bounds[j] + 1,
                                bounds[j + 1] - bounds[j])) AS pieces
        FROM (
          SELECT word, n, m,
                 list_concat(list_concat(
                   [0],
                   list_filter(generate_series(1, n - 1),
                               i -> (m >> (i - 1)) % 2 = 1)),
                   [n]) AS bounds
          FROM (
            SELECT word, length(word) AS n,
                   unnest(generate_series(
                     0::BIGINT,
                     (1::BIGINT << (length(word) - 1)) - 1)) AS m
            FROM uw
          )
        )
      )
      WHERE len(list_filter(pieces, p -> length(p) > {PIECE_MAX_LEN})) = 0
    ),
    uc0 AS MATERIALIZED (
      SELECT piece, CAST(sum(f) AS BIGINT) AS cnt FROM (
        SELECT f, unnest(flatten(list_transform(
          generate_series(1, length(word)),
          i -> list_transform(
            generate_series(1, least({PIECE_MAX_LEN},
                                     length(word) - i + 1)),
            l -> substring(word, i, l))))) AS piece
        FROM uw
      ) GROUP BY piece
    )"""]
    for r in range(EM_ROUNDS + 1):
        fin = r == EM_ROUNDS
        tag = "fin" if fin else str(r)
        parts.append(f""",
    uq{tag} AS (
      SELECT piece,
             CAST(round((ln(CAST(cnt AS DOUBLE))
               - ln(CAST((SELECT sum(cnt) FROM uc{r}) AS DOUBLE)))
               * {SCORE_SCALE}, 0) AS BIGINT) AS q
      FROM uc{r}
    ),
    ube{tag} AS MATERIALIZED (
      SELECT word, b.seg AS seg, b.np AS n_pieces FROM (
        SELECT s.word,
               min(struct_pack(ns := -s.score, np := s.n_pieces,
                               seg := s.seg)) AS b
        FROM (
          SELECT c.word, c.m, c.n_pieces, c.seg,
                 CAST(sum(q.q) AS BIGINT) AS score, count(*) AS n_in
          FROM (SELECT word, m, n_pieces, seg, unnest(pieces) AS piece
                FROM ucand) c
          JOIN uq{tag} q USING (piece)
          GROUP BY c.word, c.m, c.n_pieces, c.seg
          HAVING count(*) = c.n_pieces
        ) s
        GROUP BY s.word
      )
    )""")
        if not fin:
            parts.append(f""",
    uc{r + 1} AS MATERIALIZED (
      SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
        SELECT e.piece, CAST(sum(w.f) AS BIGINT) AS cnt FROM (
          SELECT word, unnest(str_split(seg, '|')) AS piece FROM ube{r}
        ) e JOIN uw w USING (word) GROUP BY e.piece
        UNION ALL
        SELECT piece, 1::BIGINT AS cnt FROM uch
      ) GROUP BY piece
    )""")
    return "".join(parts)


from github_miner_spark.functions.unigram_store import (  # noqa: E402
    EM_ROUNDS as _UNIGRAM_EM_ROUNDS,
)

_UC_FIN = f"uc{_UNIGRAM_EM_ROUNDS}"


@register(
    "unigram_lm_vocab_induction",
    oracle=_unigram_training_ctes()
    + f"""
    SELECT piece, cnt AS usage_count,
           round(ln(CAST(cnt AS DOUBLE))
             - ln(CAST((SELECT sum(cnt) FROM {_UC_FIN}) AS DOUBLE)), 6)
             AS logprob
    FROM {_UC_FIN}
    ORDER BY usage_count DESC, piece
    """,
    description="Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer "
    "vocabulary induction — the EM complement to bpe_vocab_induction's "
    "merge-based training: seed piece counts from every substring "
    "(length <= 4) of the word dictionary, then 2 hard-EM rounds of "
    "Viterbi-best segmentation (E) and usage re-counting with an "
    "add-one floor on single characters (M). Served from the "
    "materialized unigram store (functions/unigram_store.py — trained "
    "once per source dir, the walk/BPE-store pattern); the oracle "
    "re-trains the whole loop from spec as unrolled CTEs, so grading "
    "is store-independent. Cross-engine determinism by construction: "
    "piece scores are integer-quantized (round((ln c - ln T) * 1e9) "
    "AS BIGINT), so segmentation argmaxes are exact integer algebra "
    "with a (fewer-pieces, lexicographic) tie-break, not float "
    "comparisons. Scale shape: everything is dictionary/vocab-sized — "
    "the corpus is touched once for word frequencies; segmentations "
    "enumerate per DISTINCT word as cut-position bitmasks bounded by "
    "WORD_MAX_LEN=16 (raise-don't-cap beyond).",
    tags=("text", "tokens", "unigram", "iterative"),
)
def unigram_lm_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from github_miner_spark.functions.unigram_store import load_unigram_vocab

    vocab = load_unigram_vocab(spark, sf_dir)
    total = F.sum("cnt").over(Window.partitionBy())
    return vocab.select(
        "piece",
        F.col("cnt").alias("usage_count"),
        F.round(
            F.log(F.col("cnt").cast("double")) - F.log(total.cast("double")),
            6,
        ).alias("logprob"),
    ).orderBy(F.desc("usage_count"), "piece")


@register(
    "unigram_lm_segmentation_stats",
    oracle=_unigram_training_ctes()
    + """
    , utok AS (SELECT source, unnest(toks) AS word FROM ut),
    uj AS (
      SELECT t.source, e.seg, e.n_pieces
      FROM utok t JOIN ubefin e USING (word)
    ),
    upc AS (
      SELECT source, CAST(count(*) AS BIGINT) AS tokens,
             CAST(sum(n_pieces) AS BIGINT) AS pieces_total
      FROM uj GROUP BY source
    ),
    upd AS (
      SELECT source, CAST(count(DISTINCT piece) AS BIGINT)
               AS distinct_pieces
      FROM (SELECT source, unnest(str_split(seg, '|')) AS piece FROM uj)
      GROUP BY source
    )
    SELECT c.source, c.tokens, c.pieces_total,
           round(c.pieces_total / CAST(c.tokens AS DOUBLE), 6)
             AS pieces_per_token,
           d.distinct_pieces
    FROM upc c JOIN upd d USING (source)
    ORDER BY c.source
    """,
    description="Tokenizer APPLICATION for the unigram LM — the "
    "consumer step of unigram_lm_vocab_induction, mirroring "
    "bpe_segmentation_stats: segment the corpus with the trained "
    "model and report per-source token counts, total pieces, pieces "
    "per token, and the distinct pieces actually used. Engine shape: "
    "the per-word Viterbi segmentations are dictionary constants "
    "served from the unigram store and BROADCAST onto the exploded "
    "corpus tokens (the vocabulary-bounded join a 100 TB tokenizer "
    "application runs), then two source-keyed rollups. The oracle "
    "re-trains and re-segments everything from spec, so a stale "
    "store hash-mismatches instead of grading itself.",
    tags=("text", "tokens", "unigram"),
)
def unigram_lm_segmentation_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from github_miner_spark.functions.text import tokenize
    from github_miner_spark.functions.unigram_store import load_word_segs

    segs = load_word_segs(spark, sf_dir).select("word", "seg", "n_pieces")
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("word")
    )
    # ONE corpus pass into a pinned (source, word, c) rollup, then
    # everything downstream is vocabulary-sized: the old shape joined
    # the exploded corpus tokens to the broadcast dictionary and
    # consumed that corpus-scale join twice (the per-source rollup and
    # the distinct-pieces explode — 2 documents + 2 word_segs scans in
    # the r12 audit). Equivalences are exact: tokens = sum(c) over
    # surviving words (inner-join semantics unchanged), pieces_total
    # = sum(c * n_pieces), and distinct pieces never depended on word
    # multiplicity — the piece explode now runs per distinct
    # (source, word), not per token occurrence.
    wr = pin(
        toks.groupBy("source", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    j = wr.join(F.broadcast(segs), "word")
    per_source = j.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tokens"),
        F.sum(F.col("c") * F.col("n_pieces")).cast("bigint").alias(
            "pieces_total"
        ),
    )
    distinct_pieces = (
        j.select("source", F.explode(F.split("seg", "[|]")).alias("piece"))
        .groupBy("source")
        .agg(F.countDistinct("piece").cast("bigint").alias("distinct_pieces"))
    )
    return (
        per_source.join(distinct_pieces, "source")
        .select(
            "source",
            "tokens",
            "pieces_total",
            F.round(
                F.col("pieces_total") / F.col("tokens").cast("double"), 6
            ).alias("pieces_per_token"),
            "distinct_pieces",
        )
        .orderBy("source")
    )


@register(
    "doc_bigram_surprisal",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
      FROM t, unnest(CASE WHEN len(toks) >= 2
                          THEN range(1, len(toks))
                          ELSE [] END) AS u(i)
    ),
    bfreq AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
    pfreq AS (
      SELECT str_split(bigram, ' ')[1] AS prefix, sum(c) AS pc
      FROM bfreq GROUP BY prefix
    ),
    scored AS (
      SELECT bg.doc_id,
             -ln(bf.c / pf.pc::DOUBLE) AS surprisal
      FROM bg
      JOIN bfreq bf ON bf.bigram = bg.bigram
      JOIN pfreq pf ON pf.prefix = str_split(bg.bigram, ' ')[1]
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(surprisal), 6) AS mean_surprisal
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    description="Bigram-conditional surprisal — the next rung of the "
    "perplexity-proxy ladder above doc_unigram_surprisal: each bigram "
    "scored -ln(c(w1 w2) / c(w1-as-prefix)), averaged per doc. Same "
    "join-the-distribution shape (bigram stats and prefix stats are "
    "keyed aggregations over the exploded windows, then one keyed "
    "score join + doc rollup — never a collected vocabulary), so an "
    "open bigram vocabulary at 100 TB works unchanged. Repetitive "
    "docs score near zero (their bigrams are self-predicting); "
    "shuffled/gibberish text scores high even when its unigrams are "
    "common — the signal unigram surprisal cannot see.",
    tags=("text", "quality", "scoring", "ngram"),
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import token_windows

    docs = load_table(spark, "documents", sf_dir)
    # tokens are PROJECTED before windowing: token_windows references
    # its argument once per window position, and Catalyst re-inlines a
    # nested tokenize() into every reference (measured 11x slower at
    # sf0.1); the projection boundary evaluates the regex once per doc
    # pin the exploded bigram relation and the bigram-type rollup: the
    # tokenizer's HOF lambdas defeat canonicalization, so the un-pinned
    # form scanned+tokenized the corpus three times (bfreq for pfreq,
    # bfreq again for the score join, bg for scoring — 3 parquet scans
    # in the r12 audit). One corpus pass + one vocabulary-sized pin.
    bg = pin(
        docs.select("doc_id", tokenize(F.col("text")).alias("toks")).select(
            "doc_id",
            F.explode(token_windows(F.col("toks"), 2)).alias("bigram"),
        )
    )
    bfreq = pin(bg.groupBy("bigram").agg(F.count("*").alias("c")))
    pfreq = (
        bfreq.groupBy(F.split(F.col("bigram"), " ")[0].alias("prefix"))
        .agg(F.sum("c").alias("pc"))
    )
    scored = (
        bg.join(bfreq, "bigram")
        .join(pfreq, F.split(F.col("bigram"), " ")[0] == F.col("prefix"))
        .select(
            "doc_id",
            (-F.log(F.col("c") / F.col("pc").cast("double"))).alias("surprisal"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("surprisal"), 6).alias("mean_surprisal"),
        )
        .orderBy("doc_id")
    )


ZIPF_SCALE = 1_000_000  # per-item quantization for the five OLS sums


def _parquet_num_rows(path: str) -> int:
    """Row count straight from parquet footers (driver-side metadata
    read, ~1ms — no Spark job): the dispatch gate must not cost a
    corpus pass. Handles both a single parquet file and a directory
    of part files."""
    import os as _os

    import pyarrow.parquet as _pq

    if _os.path.isdir(path):
        return sum(
            _pq.ParquetFile(_os.path.join(path, f)).metadata.num_rows
            for f in _os.listdir(path)
            if f.endswith(".parquet")
        )
    return _pq.ParquetFile(path).metadata.num_rows


@register(
    "corpus_zipf_fit",
    oracle=f"""
    WITH t AS (
      SELECT list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT unnest(toks) AS term FROM t),
    freq AS (SELECT term, count(*) AS c FROM tok GROUP BY term),
    ranked AS (
      SELECT ln(row_number() OVER (ORDER BY c DESC, term)) AS lx,
             ln(c::DOUBLE) AS ly
      FROM freq
    ),
    q AS (
      SELECT CAST(round(lx * {ZIPF_SCALE}, 0) AS BIGINT) AS qx,
             CAST(round(ly * {ZIPF_SCALE}, 0) AS BIGINT) AS qy,
             CAST(round(lx * ly * {ZIPF_SCALE}, 0) AS BIGINT) AS qxy,
             CAST(round(lx * lx * {ZIPF_SCALE}, 0) AS BIGINT) AS qxx,
             CAST(round(ly * ly * {ZIPF_SCALE}, 0) AS BIGINT) AS qyy
      FROM ranked
    ),
    m AS (
      SELECT count(*)::DOUBLE AS n,
             CAST(sum(qx) AS DOUBLE) / ({ZIPF_SCALE} * count(*)) AS mx,
             CAST(sum(qy) AS DOUBLE) / ({ZIPF_SCALE} * count(*)) AS my,
             CAST(sum(qxy) AS DOUBLE) / {ZIPF_SCALE} AS sxy,
             CAST(sum(qxx) AS DOUBLE) / {ZIPF_SCALE} AS sxx,
             CAST(sum(qyy) AS DOUBLE) / {ZIPF_SCALE} AS syy
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((sxy - n * mx * my) / (sxx - n * mx * mx), 6) AS zipf_slope,
           round(my - (sxy - n * mx * my) / (sxx - n * mx * mx) * mx, 6)
             AS intercept,
           round(pow(sxy - n * mx * my, 2)
                 / ((sxx - n * mx * mx) * (syy - n * my * my)), 6) AS r2
    FROM m
    """,
    description="Zipf-law fit of the corpus term distribution — the "
    "classic corpus-health diagnostic (natural text fits log-freq ~ "
    "-1 * log-rank with high r2; template/generated corpora deviate). "
    "Closed-form OLS as ONE aggregation over the ranked frequency "
    "table: slope = cov/var from five sums — no iterative fitting, no "
    "collect. The global frequency rank runs a HYBRID DISPATCH "
    "(VERDICT r11 item 4, priced by the r12 A/B): corpora under the "
    "gate rank with one bounded single-task window (the distributed "
    "machinery measured +0.75s of pure overhead at bench SF), while "
    "larger corpora (and the bench distributed lane, which empties "
    "the gate's ladder) use repartitionByRange on "
    "the unique (freq desc, term) order, per-shard row_number, plus "
    "broadcast per-shard offsets from a shard-count rollup: no "
    "single-partition sort of the vocabulary (10^8-10^9 rows at "
    "open-domain 100 TB; the only unpartitioned window left is the "
    "32-row shard-offset cumsum). Both paths produce identical ranks. "
    "The five OLS terms are quantized per item to BIGINT (1e6 scale) "
    "so the sums are order-independent under any partitioning — the "
    "cross-engine exactness recipe the sketch family uses.",
    tags=("text", "statistics", "corpus"),
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from pyspark.sql.window import Window

    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(F.explode(tokenize(F.col("text"))).alias("term"))
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    # hybrid dispatch on the ``corpus_zipf_fit`` gate: the row count is
    # a parquet-FOOTER read (driver-side metadata, no Spark job — a
    # docs.count() gate measured ~0.9s/build, defeating its own
    # purpose). The single window is the gate's driver rung; an emptied
    # ladder (the bench distributed lane, tests) runs the scale path.
    # Up to 1M docs the vocabulary ranks in one bounded task (the r12
    # A/B measured the distributed machinery at +0.75s of pure
    # overhead on a bench-sized vocabulary).
    n_docs = _parquet_num_rows(_os.path.join(sf_dir, "documents.parquet"))
    if choose_path("corpus_zipf_fit", n_docs) == "driver":
        # bounded single-task rank: the vocabulary of a sub-gate
        # corpus fits one task comfortably
        w = Window.orderBy(F.desc("c"), F.asc("term"))
        ranked = freq.select(
            F.log(F.row_number().over(w).cast("double")).alias("lx"),
            F.log(F.col("c").cast("double")).alias("ly"),
        )
    else:
        # distributed global rank over the unique total order (c desc,
        # term): range-partition, rank locally per shard, add the
        # cumulative count of the preceding shards (range partitions
        # are ordered by construction, so shard id order IS the sort
        # order)
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # eager pin: the ranked shards feed TWO consumers (local ranks
        # + shard counts) and range-partitioner boundaries are sampled
        # per plan instantiation — without the pin the two subtrees
        # could range-split differently and desync lrn from off (the
        # same two-consumer carve-out as procedures.py _pin;
        # vocabulary-sized, one skinny column pair)
        parts = pin(
            freq.repartitionByRange(n_shards, F.desc("c"), F.asc("term"))
            .withColumn("pid", F.spark_partition_id()),
            eager=True,
        )
        local = parts.withColumn(
            "lrn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy(F.desc("c"), F.asc("term"))
            ),
        )
        # shard offsets: one row per shard — the cumsum window is
        # bounded by the shard count, never the vocabulary
        offs = (
            parts.groupBy("pid")
            .agg(F.count("*").alias("n_rows"))
            .select(
                "pid",
                (
                    F.sum("n_rows").over(
                        Window.orderBy("pid").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    )
                ).alias("off"),
            )
        )
        local = local.join(F.broadcast(offs), "pid")
        ranked = local.select(
            F.log(
                (F.col("lrn") + F.coalesce(F.col("off"), F.lit(0))).cast(
                    "double"
                )
            ).alias("lx"),
            F.log(F.col("c").cast("double")).alias("ly"),
        )
    # per-item BIGINT quantization -> order-independent exact sums.
    # Built as expression STRINGS, one py4j call per clause: the
    # Column-object form costs ~30ms per py4j op driver-side (the r9
    # plan-build lesson) and priced this query at +1s in the r12 A/B
    S = ZIPF_SCALE
    q = ranked.selectExpr(
        f"cast(round(lx * {S}, 0) as bigint) as qx",
        f"cast(round(ly * {S}, 0) as bigint) as qy",
        f"cast(round(lx * ly * {S}, 0) as bigint) as qxy",
        f"cast(round(lx * lx * {S}, 0) as bigint) as qxx",
        f"cast(round(ly * ly * {S}, 0) as bigint) as qyy",
    )
    m = q.groupBy().agg(
        F.expr("cast(count(*) as double) as n"),
        F.expr(f"cast(sum(qx) as double) / ({S} * count(*)) as mx"),
        F.expr(f"cast(sum(qy) as double) / ({S} * count(*)) as my"),
        F.expr(f"cast(sum(qxy) as double) / {S} as sxy"),
        F.expr(f"cast(sum(qxx) as double) / {S} as sxx"),
        F.expr(f"cast(sum(qyy) as double) / {S} as syy"),
    )
    slope = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(F.col("my") - slope * F.col("mx"), 6).alias("intercept"),
        F.round(
            F.pow(F.col("sxy") - F.col("n") * F.col("mx") * F.col("my"), F.lit(2.0))
            / (
                (F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx"))
                * (F.col("syy") - F.col("n") * F.col("my") * F.col("my"))
            ),
            6,
        ).alias("r2"),
    )


@register(
    "boilerplate_ngram_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> {DUCK_HASH.format(v="concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")}))
                  ELSE [] END AS shingles
      FROM t
    ),
    ex AS (SELECT doc_id, source, unnest(shingles) AS h FROM sh),
    df AS (SELECT h, count(*) AS df FROM ex GROUP BY h),
    nd AS (SELECT count(*) AS n FROM documents),
    boiler AS (SELECT h FROM df, nd WHERE df >= 0.2 * n),
    per_doc AS (
      SELECT e.doc_id, e.source, count(*) AS n_sh,
             sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS n_b
      FROM ex e LEFT JOIN boiler b ON b.h = e.h
      GROUP BY e.doc_id, e.source
    )
    SELECT source, CAST(count(*) AS BIGINT) AS docs,
           round(avg(n_b * 1.0 / n_sh), 6) AS boilerplate_frac
    FROM per_doc GROUP BY source ORDER BY source
    """,
    description="C4-style boilerplate exposure: word-3-grams appearing "
    "in >= 20% of all documents are corpus boilerplate; reports each "
    "source's average fraction of per-doc distinct 3-grams that are "
    "boilerplate. Distinct-per-doc shingles make one explode+agg give "
    "document frequency directly; the boilerplate set is tiny by "
    "construction (high-DF survivors) so it broadcast-joins back — "
    "shuffle keys are 8-byte hashes, the 3-gram text never shuffles, "
    "O(corpus tokens) end to end.",
    tags=("text", "curation", "boilerplate", "shingles"),
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # pin the exploded shingle relation: its two consumers (the DF
    # rollup feeding the boilerplate set and the per-doc join) each
    # re-ran scan+tokenize+shingle+explode (3 parquet scans in the
    # r12 audit; the remaining second scan is the zero-column corpus
    # count, which parquet serves from footer metadata).
    ex = pin(
        docs.select("doc_id", "source", tokenize(F.col("text")).alias("toks")).select(
            "doc_id",
            "source",
            F.explode(shingle_hashes_of_tokens(F.col("toks"))).alias("h"),
        )
    )
    # corpus size as a broadcast one-row frame, not a driver-side
    # docs.count(): the whole query stays one Spark job
    nd = docs.agg(F.count("*").alias("n_docs"))
    boiler = (
        ex.groupBy("h")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") >= 0.2 * F.col("n_docs"))
        .select("h", F.lit(1).alias("is_b"))
    )
    per_doc = (
        ex.join(F.broadcast(boiler), "h", "left_outer")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(F.coalesce(F.col("is_b"), F.lit(0))).alias("n_b"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.round(F.avg(F.col("n_b") * 1.0 / F.col("n_sh")), 6).alias(
                "boilerplate_frac"
            ),
        )
        .orderBy("source")
    )


# The KN model's per-bigram scored relation, shared by the scoring
# query and the filter-rate query so the two stay definitionally in
# lockstep (a change to the model changes both oracles together).
_KN_SCORED_CTES = """
    t AS (
      SELECT doc_id,
             list_filter(str_split(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
      FROM t, unnest(CASE WHEN len(toks) >= 2
                          THEN range(1, len(toks))
                          ELSE [] END) AS u(i)
    ),
    bh AS (
      SELECT doc_id,
             ('0x' || substr(md5(bigram), 1, 8))::BIGINT AS bh,
             ('0x' || substr(md5(str_split(bigram, ' ')[1]), 1, 8))::BIGINT AS ph,
             ('0x' || substr(md5(str_split(bigram, ' ')[2]), 1, 8))::BIGINT AS sh
      FROM bg
    ),
    bfreq AS (SELECT bh, ph, sh, count(*) AS c FROM bh GROUP BY bh, ph, sh),
    pstats AS (
      SELECT ph, sum(c) AS pc, count(*) AS types_from FROM bfreq GROUP BY ph
    ),
    cstats AS (
      SELECT sh, count(*) AS cont FROM bfreq GROUP BY sh
    ),
    tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bfreq),
    scored AS (
      SELECT b.doc_id,
             -ln(greatest(bf.c - 0.75, 0) / pf.pc
                 + (0.75 * pf.types_from / pf.pc) * (cs.cont / (SELECT t FROM tt))
             ) AS s
      FROM bh b
      JOIN (SELECT bh, c FROM bfreq) bf ON bf.bh = b.bh
      JOIN pstats pf ON pf.ph = b.ph
      JOIN cstats cs ON cs.sh = b.sh
    )"""


@register(
    "doc_kneser_ney_scores",
    oracle=f"""
    WITH {_KN_SCORED_CTES}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(s), 6) AS mean_kn_surprisal
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
    description="Interpolated Kneser-Ney bigram scoring (absolute "
    "discount D=0.75) — the top rung of the perplexity-proxy ladder "
    "(unigram -> raw bigram -> smoothed bigram LM): P(w2|w1) = "
    "max(c-D,0)/c(w1.) + (D*types_from(w1)/c(w1.)) * cont(w2)/T, each "
    "bigram scored -ln P and averaged per doc. The full KN model is "
    "three keyed aggregations over the exploded bigrams (counts, "
    "prefix totals+types, continuation types) plus one scalar type "
    "count — the model is never collected, every term joins back by "
    "an 8-byte hashed key (bigram/prefix/suffix text never shuffles), "
    "so training this n-gram LM at 100 TB is the same plan with more "
    "partitions. Unlike raw bigram surprisal, unseen-suffix mass "
    "is redistributed by continuation probability, the standard LM "
    "smoothing (Kneser & Ney 1995; Chen & Goodman 1999).",
    tags=("text", "quality", "scoring", "ngram", "lm"),
)
def doc_kneser_ney_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _kn_scored(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("s"), 6).alias("mean_kn_surprisal"),
        )
        .orderBy("doc_id")
    )


def _kn_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KN model's per-bigram scored relation (doc_id, s) — the
    Spark twin of _KN_SCORED_CTES, shared by the scoring query and the
    filter-rate query."""
    from github_miner_spark.functions.text import token_windows

    from github_miner_spark.functions.text import token_hash

    docs = load_table(spark, "documents", sf_dir)
    # hash the bigram/prefix/suffix keys map-side, BEFORE any shuffle:
    # every downstream groupBy/join moves 8-byte bigints, never token
    # text (the same discipline as boilerplate_ngram_stats' shingle
    # hashes; the oracle applies the identical md5-derived hash so the
    # two engines agree bit-for-bit, collisions included).
    # tokens are PROJECTED before windowing: token_windows references
    # its argument once per window position, and Catalyst re-inlines a
    # nested tokenize() into every reference (measured 11x slower at
    # sf0.1); the projection boundary evaluates the regex once per doc
    from github_miner_spark.functions.skew import spread_to_session_width

    bg = pin(
        spread_to_session_width(docs).select(
            "doc_id", tokenize(F.col("text")).alias("toks")
        ).select(
            "doc_id",
            F.explode(token_windows(F.col("toks"), 2)).alias("bigram"),
        ).select(
            "doc_id",
            token_hash(F.col("bigram")).alias("bh"),
            token_hash(F.split(F.col("bigram"), " ")[0]).alias("ph"),
            token_hash(F.split(F.col("bigram"), " ")[1]).alias("sh"),
        )
    )
    # the lazy pin materializes the hashed-bigram relation on
    # first action and REUSES it for the model's three aggregations
    # and the scoring join, instead of re-running tokenize+explode
    # per consumer (4 corpus passes -> 1 at bench SF; at 100 TB the
    # checkpoint trades one corpus-sized write for three re-scans,
    # the same call the simhash band index makes).
    # bh functionally determines (ph, sh), so this is one agg keyed by
    # the bigram hash that keeps the prefix/suffix hashes available for
    # the model's two marginal aggregations.
    bfreq = bg.groupBy("bh", "ph", "sh").agg(F.count("*").alias("c"))
    pstats = bfreq.groupBy("ph").agg(
        F.sum("c").alias("pc"), F.count("*").alias("types_from")
    )
    cstats = bfreq.groupBy("sh").agg(F.count("*").alias("cont"))
    tt = bfreq.agg(F.count("*").cast("double").alias("t"))
    p = (
        F.greatest(F.col("c") - F.lit(0.75), F.lit(0.0)) / F.col("pc")
        + (F.lit(0.75) * F.col("types_from") / F.col("pc"))
        * (F.col("cont") / F.col("t"))
    )
    # the score is a function of the bigram TYPE alone (bh determines
    # ph/sh, and c/pc/types_from/cont/t are all type-level stats), so
    # the model joins (pstats on ph, cstats on sh, the scalar t) fold
    # over the TYPE table — |bigram types| rows — and the corpus-scale
    # relation pays exactly ONE join back, on bh, carrying only
    # (doc_id, bh). The occurrence-level form joined the full corpus
    # relation three times (bh, ph, sh) and shuffled ph/sh alongside
    # every row; the per-type double s is the identical expression on
    # identical inputs, so scores are bit-equal.
    scores = (
        bfreq.join(pstats, "ph")
        .join(cstats, "sh")
        .crossJoin(F.broadcast(tt))
        .select("bh", (-F.log(p)).alias("s"))
    )
    return bg.select("doc_id", "bh").join(scores, "bh").select("doc_id", "s")


_KN_KEEP_THRESHOLD = 3.4


@register(
    "kn_perplexity_filter_rates",
    oracle=f"""
    WITH {_KN_SCORED_CTES},
    kn AS (
      SELECT doc_id, sum(s) AS sum_s, count(*) AS n
      FROM scored GROUP BY doc_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(count(*) FILTER (WHERE kn.sum_s < {_KN_KEEP_THRESHOLD} * kn.n)
                AS BIGINT) AS kept,
           round(count(*) FILTER (WHERE kn.sum_s < {_KN_KEEP_THRESHOLD} * kn.n)
                 * 1.0 / count(*), 6) AS keep_rate
    FROM kn JOIN documents d ON d.doc_id = kn.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    description="Perplexity-based curation decision (the CCNet/Gopher-"
    "style LM filter): score every document with the corpus-trained "
    "Kneser-Ney bigram LM (doc_kneser_ney_scores, reused verbatim) and "
    "report per-source keep rates under a mean-surprisal threshold. "
    "Documents too short to form a bigram are unscoreable and excluded "
    "on both engines (inner join). The model is three keyed "
    "aggregations over hashed bigrams; the decision adds one "
    "doc-keyed join + one rollup — at 100 TB this is the same plan "
    "with more partitions, no new driver state.",
    tags=("text", "curation", "quality", "lm"),
)
def kn_perplexity_filter_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gate on the UNROUNDED surprisal sum vs threshold*n, not the
    # 6dp-rounded mean: the rounded mean puts a decision boundary at
    # every 0.5e-6 mark (a doc landing on one flips whole keep/kept
    # rows between engines), while the raw-sum compare has a single
    # boundary at the threshold — measured corpus margin >=5e-7 vs
    # ~1e-12 cross-engine float-sum error (ADVICE r6 #5; margin pinned
    # in tests/test_oracle_parity.py).
    kn = (
        _kn_scored(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("s").alias("sum_s"), F.count("*").alias("n"))
    )
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    keep = F.col("sum_s") < F.lit(_KN_KEEP_THRESHOLD) * F.col("n")
    return (
        kn.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("kept"),
            F.round(
                F.sum(F.when(keep, 1.0).otherwise(0.0)) / F.count("*"), 6
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


@register(
    "bigram_pmi_collocations",
    oracle=f"""
    WITH t AS (SELECT {DUCK_TOKENS} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS tok FROM t),
    ufreq AS (SELECT tok, count(*) AS uc FROM uni GROUP BY tok),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
             i -> concat(toks[i], ' ', toks[i+1]))) AS bigram
      FROM t WHERE len(toks) >= 2
    ),
    bfreq AS (SELECT bigram, count(*) AS bc FROM bg GROUP BY bigram),
    tot AS (SELECT (SELECT sum(uc) FROM ufreq) AS n_uni,
                   (SELECT sum(bc) FROM bfreq) AS n_bi),
    scored AS (
      SELECT b.bigram, b.bc,
             ln((b.bc::DOUBLE * t.n_uni * t.n_uni)
                / (t.n_bi::DOUBLE * u1.uc * u2.uc)) AS pmi
      FROM bfreq b
      JOIN ufreq u1 ON u1.tok = str_split(b.bigram, ' ')[1]
      JOIN ufreq u2 ON u2.tok = str_split(b.bigram, ' ')[2]
      CROSS JOIN tot t
      WHERE b.bc >= 5
    )
    SELECT bigram, CAST(bc AS BIGINT) AS n, round(pmi, 6) AS pmi
    FROM scored
    ORDER BY round(pmi, 6) DESC, bigram
    LIMIT 25
    """,
    description="Collocation mining by pointwise mutual information: "
    "top 25 adjacent token pairs by PMI = ln(p(ab) / (p(a) p(b))) with "
    "a min-count floor of 5 (PMI without a floor surfaces hapax "
    "pairs). Both distributions are keyed aggregations over the "
    "exploded corpus; the scoring joins run on the VOCABULARY-sized "
    "bigram table (bfreq -> ufreq twice), not the corpus-sized explode "
    "— so the expensive frames shrink before any join, and the two "
    "corpus totals flow in as broadcast one-row aggregates, never a "
    "driver collect. The count products are cast to double before "
    "multiplying: at 100 TB, N_uni^2 overflows bigint.",
    tags=("text", "ngram", "tokens", "statistics"),
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import token_windows

    docs = load_table(spark, "documents", sf_dir)
    # tokens PROJECTED before use (see doc_bigram_surprisal's note:
    # nested tokenize re-inlines into every window reference) and
    # PINNED: one scan+tokenize pass feeds both explode branches —
    # the per-n union over a lazily checkpointed token relation, the
    # form the gopher/distinct-n measurement settled on (concat() of
    # tagged struct arrays physically copies both families into a
    # fresh array per row). Interleaved end-to-end medians at sf0.1
    # (construction + count — a lazy pin EXECUTES its
    # subtree at construction under AQE, so only the full protocol
    # prices these shapes fairly): 1.148s union-over-checkpoint vs
    # 1.36s concat vs 1.15s for the two-independent-explode form —
    # i.e. at par with the two-pass form locally, minus the concat
    # copy, and ONE corpus scan+tokenize instead of two at 100 TB
    tdocs = pin(docs.select(tokenize(F.col("text")).alias("toks")))
    uni_b = tdocs.select(F.lit(1).alias("k"), F.explode(F.col("toks")).alias("g"))
    bi_b = tdocs.select(
        F.lit(2).alias("k"),
        F.explode(token_windows(F.col("toks"), 2)).alias("g"),
    )
    # the (k, g)-keyed rollup is pinned too: u1, u2, bfreq and the two
    # totals all read the vocabulary-sized counts instead of
    # re-running the corpus pass
    freq = pin(
        uni_b.unionByName(bi_b)
        .groupBy("k", "g")
        .agg(F.count("*").alias("c"))
    )
    ufreq = freq.filter(F.col("k") == 1).select(
        F.col("g").alias("tok"), F.col("c").alias("uc")
    )
    bfreq = freq.filter(F.col("k") == 2).select(
        F.col("g").alias("bigram"), F.col("c").alias("bc")
    )
    n_uni = ufreq.agg(F.sum("uc").alias("n_uni"))
    n_bi = bfreq.agg(F.sum("bc").alias("n_bi"))
    u1 = ufreq.select(F.col("tok").alias("w1"), F.col("uc").alias("c1"))
    u2 = ufreq.select(F.col("tok").alias("w2"), F.col("uc").alias("c2"))
    scored = (
        bfreq.filter(F.col("bc") >= 5)
        .withColumn("w1", F.split(F.col("bigram"), " ")[0])
        .withColumn("w2", F.split(F.col("bigram"), " ")[1])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "bigram",
            F.col("bc").cast("bigint").alias("n"),
            F.round(
                F.log(
                    (F.col("bc").cast("double") * F.col("n_uni") * F.col("n_uni"))
                    / (F.col("n_bi").cast("double") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "bigram").limit(25)


@register(
    "vocab_coverage_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    uni AS (SELECT source, unnest(toks) AS tok FROM t),
    ufreq AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS r FROM ufreq
      ) WHERE r <= 1000
    )
    SELECT u.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS oov_tokens,
           round(count(*) FILTER (WHERE v.tok IS NULL) * 1.0 / count(*), 6)
             AS oov_rate
    FROM uni u LEFT JOIN vocab v ON v.tok = u.tok
    GROUP BY u.source ORDER BY u.source
    """,
    description="Tokenizer vocabulary coverage: fix the vocabulary to "
    "the corpus's top-1000 tokens (count-desc, token tiebreak — the "
    "deterministic order both engines agree on) and report per-source "
    "token counts and out-of-vocabulary rates — the coverage check run "
    "before committing a tokenizer to a data mixture. The top-1000 is "
    "a TakeOrderedAndProject over the distinct-token rollup (per-"
    "partition heaps, no global sort) and broadcasts into the "
    "membership join; the corpus-sized explode feeds one keyed "
    "rollup, so the only corpus-scale shuffle is the per-source "
    "aggregate.",
    tags=("text", "tokens", "curation"),
)
def vocab_coverage_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    uni = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    # fold the corpus explode into ONE (source, tok) rollup first and
    # pin it: the vocabulary ranking and the per-source coverage both
    # read the pinned vocabulary-sized rollup, so the
    # scan+tokenize+explode corpus pass runs once — the previous shape
    # fed the token rollup and the coverage join two different
    # subtrees, paying the corpus pass twice (ReuseExchange cannot
    # dedupe them: the tokenizer's lambda-bound HOF expressions defeat
    # plan canonicalization). Measured adjudication (r12, end-to-end
    # construction+count protocol — a lazy pin EXECUTES
    # its subtree at construction under AQE, so partial timings
    # mislead here): this shape prices at 0.608s vs 0.438s for the
    # two-pass form at sf0.1 — the +0.17s is the rollup
    # materialization, kept deliberately because at 100 TB one
    # corpus scan+tokenize plus a vocabulary-sized checkpoint beats
    # two corpus scans, and part of the old number was count()
    # pruning the droppable vocab left-join rather than work saved.
    # A single-chain variant (collect_list + global rank window, no
    # checkpoint) measured 0.599s — no better, and it adds an
    # unpartitioned window; rejected.
    st = pin(
        uni.groupBy("source", "tok")
        .agg(F.count("*").alias("k"))
    )
    ufreq = st.groupBy("tok").agg(F.sum("k").alias("c"))
    # top-k, not a global rank: orderBy+limit compiles to distributed
    # TakeOrderedAndProject (per-partition heaps), identical
    # deterministic result without the one-task sort a partitionless
    # Window forces over the full distinct-token table
    vocab = (
        ufreq.orderBy(F.desc("c"), "tok")
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        st.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("k")).otherwise(0))
            .cast("bigint")
            .alias("oov_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            F.round(F.col("oov_tokens") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("source")
    )

def _hll_oracle(m_bits: int, vals_cte: str) -> str:
    """HLL sketch oracle tail over a CTE that must define
    vals(source, v VARCHAR): md5-derived 60-bit hash, low m_bits as
    bucket, leading-zero rank of the remaining bits as register,
    exact-integer register sums, standard alpha_m bias correction and
    the linear-counting fallback below 2.5m."""
    from github_miner_spark.functions.text import hll_alpha_sql, hll_estimate_case_sql

    m = 1 << m_bits
    rho_max = 60 - m_bits + 1
    alpha = hll_alpha_sql(m)
    return f"""
    WITH {vals_cte},
    h AS (
      SELECT source, v,
             ('0x' || substr(md5(v), 1, 15))::BIGINT AS h
      FROM vals
    ),
    r AS (
      SELECT source, h & {m - 1} AS bucket,
             CASE WHEN (h >> {m_bits}) = 0 THEN {rho_max}
                  ELSE {rho_max} - length(bin(h >> {m_bits})) END AS rho
      FROM h
    ),
    regs AS (
      SELECT source, bucket, max(rho) AS r FROM r GROUP BY source, bucket
    ),
    sums AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS buckets_used,
             CAST(sum(1::BIGINT << CAST({rho_max} - r AS INTEGER)) AS BIGINT)
               AS s_int
      FROM regs GROUP BY source
    ),
    ex AS (
      SELECT source, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
      FROM h GROUP BY source
    ),
    est AS (
      SELECT s.source, s.buckets_used, e.exact_distinct,
             {alpha} * {m}.0 * {m}.0
               / (CAST(s.s_int AS DOUBLE) / power(2.0, {rho_max})
                  + CAST({m} - s.buckets_used AS DOUBLE)) AS e_raw
      FROM sums s JOIN ex e ON e.source = s.source
    ),
    fin AS (
      SELECT source, exact_distinct, buckets_used,
             {hll_estimate_case_sql(m)} AS estimate
      FROM est
    )
    SELECT source, exact_distinct, buckets_used,
           round(estimate, 6) AS hll_estimate,
           round(abs(estimate - CAST(exact_distinct AS DOUBLE))
                 / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
    FROM fin ORDER BY source
    """


def _hll_estimates(vals: DataFrame, m_bits: int) -> DataFrame:
    """Spark twin of _hll_oracle over a (source, v string) frame."""
    from github_miner_spark.functions.text import token_hash60

    m = 1 << m_bits
    rho_max = 60 - m_bits + 1
    tok = pin(vals.select("source", "v", token_hash60(F.col("v")).alias("h")))
    w = F.shiftright(F.col("h"), m_bits)
    rho = F.when(w == F.lit(0), F.lit(rho_max)).otherwise(
        F.lit(rho_max) - F.length(F.bin(w))
    )
    regs = (
        tok.select(
            "source",
            F.col("h").bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    # integer register sum: sum(2^(rho_max - r)) is exact and
    # order-free, unlike a float sum of 2^-r whose wide span rounds
    sums = regs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("buckets_used"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), cast({rho_max} - r as int))")
        ).alias("s_int"),
    )
    ex = tok.groupBy("source").agg(F.countDistinct("v").alias("exact_distinct"))
    from github_miner_spark.functions.text import hll_estimate_expr

    est = sums.join(ex, "source")
    estimate = hll_estimate_expr(m, rho_max, F.col("s_int"), F.col("buckets_used"))
    return (
        est.select(
            "source",
            "exact_distinct",
            "buckets_used",
            F.round(estimate, 6).alias("hll_estimate"),
            F.round(
                F.abs(estimate - F.col("exact_distinct").cast("double"))
                / F.col("exact_distinct").cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("source")
    )


@register(
    "hll_vocab_estimates",
    oracle=_hll_oracle(
        10,
        f"""t AS (SELECT source, {DUCK_TOKENS} AS toks FROM documents),
    vals AS (SELECT source, unnest(toks) AS v FROM t)""",
    ),
    description="HyperLogLog approximate distinct-token count per "
    "source, graded against the exact count (Flajolet et al. 2007: "
    "m=1024 registers, bucket = low 10 bits of a 60-bit md5-derived "
    "hash, register = max leading-zero rank of the remaining bits, "
    "linear-counting fallback below 2.5m). This synthetic corpus has "
    "a ~31-word per-source vocabulary, so this query deliberately "
    "exercises and grades the LINEAR-COUNTING regime (the raw-"
    "estimator regime is graded by hll_shingle_estimates, whose "
    "universe is large relative to its register count). The 100 TB "
    "count-distinct story: the sketch path shuffles only (source x "
    "m) register rows with map-side partial max -- no distinct "
    "shuffle of the value universe -- while the exact column (the "
    "expensive path the sketch replaces) is computed solely as the "
    "graded ground truth. Register sums stay in integer arithmetic "
    "(sum of 1<<(rho_max-r), order-independent) so both engines "
    "agree bit-for-bit; rank extraction is pure Catalyst "
    "(bin/length/shiftright), no Python.",
    tags=("text", "sketch", "approx", "curation"),
)
def hll_vocab_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.skew import spread_to_session_width

    docs = load_table(spark, "documents", sf_dir)
    vals = (
        spread_to_session_width(docs)
        .select("source", tokenize(F.col("text")).alias("toks"))
        .select("source", F.explode("toks").alias("v"))
    )
    return _hll_estimates(vals, 10)


@register(
    "hll_shingle_estimates",
    oracle=_hll_oracle(
        8,
        f"""t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT source,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> {DUCK_HASH.format(v="concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")})
                    ELSE [] END) AS g
      FROM t
    ),
    vals AS (SELECT source, CAST(g AS VARCHAR) AS v FROM sh)""",
    ),
    description="HyperLogLog distinct 3-gram-shingle count per source "
    "at m=256 registers -- the companion to hll_vocab_estimates that "
    "grades the RAW alpha_m*m^2/sum(2^-M) estimator branch: the "
    "per-source shingle universe (~1.3k) exceeds the 2.5m linear-"
    "counting threshold (640), so every source takes the harmonic-"
    "mean path, pinning its cross-engine exactness in the driver "
    "hash-compare. Input is the same per-doc shingle derivation the "
    "dedup family uses (values are the portable 32-bit shingle "
    "hashes, stringified identically in both engines before the "
    "60-bit sketch hash). Same scale shape: one explode, (source x "
    "256) register rows, exact column as grading only.",
    tags=("text", "sketch", "approx", "dedup"),
)
def hll_shingle_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text_store import load_shingle_index

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    idx = load_shingle_index(spark, sf_dir)
    vals = idx.join(docs, "doc_id").select(
        "source", F.col("shingle").cast("string").alias("v")
    )
    return _hll_estimates(vals, 8)


@register(
    "source_unigram_kl",
    oracle=f"""
    WITH t AS (SELECT source, {DUCK_TOKENS} AS toks FROM documents),
    uni AS (SELECT source, unnest(toks) AS tok FROM t),
    kh AS (
      SELECT source, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS kh FROM uni
    ),
    cst AS (SELECT source, kh, count(*) AS c_st FROM kh GROUP BY source, kh),
    en AS (
      SELECT source, kh, c_st,
             sum(c_st) OVER (PARTITION BY kh) AS c_t,
             sum(c_st) OVER (PARTITION BY source) AS tot_s
      FROM cst
    ),
    tot AS (SELECT CAST(sum(c_st) AS DOUBLE) AS tot FROM cst),
    terms AS (
      SELECT source, c_st,
             (c_st / tot_s) AS q,
             (c_t / (SELECT tot FROM tot)) AS p
      FROM en
    )
    SELECT source,
           CAST(sum(c_st) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_types,
           round(sum(q * ln(q / p)), 6) AS kl_nats,
           round(-sum(q * ln(p)), 6) AS cross_entropy_nats,
           round(-sum(q * ln(q)), 6) AS entropy_nats
    FROM terms GROUP BY source ORDER BY source
    """,
    description="Per-source unigram distribution divergence from the "
    "corpus: KL(source || corpus), cross-entropy and entropy in nats "
    "-- the domain-shift diagnostic run before fixing a pretraining "
    "mixture (a source whose KL is high is under-represented by the "
    "corpus-level tokenizer/LM and needs its own mixture weight). The "
    "corpus marginal is NOT a second corpus scan: both it and the "
    "per-source totals are window sums over the (source, token) count "
    "relation, which is vocabulary-sized, and every key that shuffles "
    "is an 8-byte md5-derived hash (token text never moves after the "
    "map-side hash, the doc_kneser_ney_scores discipline). At 100 TB "
    "the corpus-scale work is one explode + one keyed rollup; the "
    "model algebra rides on the rollup output.",
    tags=("text", "curation", "mixture", "lm"),
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from github_miner_spark.functions.skew import spread_to_session_width
    from github_miner_spark.functions.text import token_hash60

    docs = load_table(spark, "documents", sf_dir)
    tokh = (
        spread_to_session_width(docs)
        .select("source", tokenize(F.col("text")).alias("toks"))
        .select("source", F.explode("toks").alias("tok"))
        .select("source", token_hash60(F.col("tok")).alias("kh"))
    )
    # (source, token-hash) counts: the ONLY corpus-scale aggregation;
    # lazily checkpointed so the two windows and the scalar total all
    # reuse the vocabulary-sized rollup instead of re-exploding
    cst = pin(
        tokh.groupBy("source", "kh")
        .agg(F.count("*").alias("c_st"))
    )
    # c_t rides a window keyed by the 8-byte hash — per-kh partitions
    # are <= |sources| rows, scale-safe. tot_s does NOT: a window
    # partitioned by the handful of sources co-locates each source's
    # whole vocabulary on one task (the kmv/zipf straggler class), so
    # the per-source totals fold over a groupBy rollup and broadcast-
    # join back instead — exact bigint sums, bit-identical under any
    # partitioning (the DSIR totals-fold discipline)
    tot_s = cst.groupBy("source").agg(F.sum("c_st").alias("tot_s"))
    en = cst.withColumn(
        "c_t", F.sum("c_st").over(Window.partitionBy("kh"))
    ).join(F.broadcast(tot_s), "source")
    tot = cst.agg(F.sum("c_st").cast("double").alias("tot"))
    terms = en.crossJoin(F.broadcast(tot)).select(
        "source",
        "c_st",
        (F.col("c_st") / F.col("tot_s")).alias("q"),
        (F.col("c_t") / F.col("tot")).alias("p"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.sum("c_st").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("vocab_types"),
            F.round(F.sum(F.col("q") * F.log(F.col("q") / F.col("p"))), 6).alias(
                "kl_nats"
            ),
            F.round(-F.sum(F.col("q") * F.log(F.col("p"))), 6).alias(
                "cross_entropy_nats"
            ),
            F.round(-F.sum(F.col("q") * F.log(F.col("q"))), 6).alias(
                "entropy_nats"
            ),
        )
        .orderBy("source")
    )

@register(
    "cms_heavy_hitter_estimates",
    oracle=f"""
    WITH t AS (SELECT {DUCK_TOKENS} AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS tok FROM t),
    tfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
    rows_j AS (SELECT unnest([0, 1, 2, 3]) AS j),
    cms AS (
      SELECT j,
             ('0x' || substr(md5(concat_ws('|', j, tok)), 1, 15))::BIGINT
               & 1023 AS bucket,
             CAST(sum(c) AS BIGINT) AS bc
      FROM tfreq, rows_j
      GROUP BY 1, 2
    ),
    top20 AS (
      SELECT tok, c FROM tfreq ORDER BY c DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT t.tok, t.c, r.j,
             ('0x' || substr(md5(concat_ws('|', r.j, t.tok)), 1, 15))::BIGINT
               & 1023 AS bucket
      FROM top20 t, rows_j r
    )
    SELECT p.tok AS token,
           CAST(max(p.c) AS BIGINT) AS exact_count,
           CAST(min(m.bc) AS BIGINT) AS cms_estimate,
           CAST(min(m.bc) - max(p.c) AS BIGINT) AS overestimate
    FROM probes p JOIN cms m ON m.j = p.j AND m.bucket = p.bucket
    GROUP BY p.tok
    ORDER BY exact_count DESC, token
    """,
    description="Count-min sketch heavy-hitter estimation (Cormode & "
    "Muthukrishnan 2005): a d=4 x w=1024 counter table keyed by four "
    "independent md5-derived hashes, read back for the exact top-20 "
    "tokens with the min-over-rows estimate and its (provably "
    "non-negative) overestimate. The sketch family's frequency "
    "counterpart to hll_vocab_estimates' cardinality: at 100 TB the "
    "counter table is 4096 rows built from the vocabulary-sized "
    "frequency rollup (the ONLY corpus-scale shuffle is that one "
    "keyed rollup), and every count is integer arithmetic, so both "
    "engines agree bit-for-bit -- estimates, not just invariants. "
    "The top-k read-back is a TakeOrderedAndProject probe set joined "
    "against the 4096-row table.",
    tags=("text", "sketch", "approx", "heavy-hitters"),
)
def cms_heavy_hitter_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.skew import spread_to_session_width
    from github_miner_spark.functions.text import token_hash60

    docs = load_table(spark, "documents", sf_dir)
    tfreq = pin(
        spread_to_session_width(docs)
        .select(tokenize(F.col("text")).alias("toks"))
        .select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    rows_j = F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j")
    bucket = token_hash60(
        F.concat_ws("|", F.col("j"), F.col("tok"))
    ).bitwiseAND(F.lit(1023))
    cms = (
        tfreq.select("tok", "c", rows_j)
        .select("c", "j", bucket.alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.sum("c").cast("bigint").alias("bc"))
    )
    top20 = tfreq.orderBy(F.desc("c"), "tok").limit(20)
    probes = top20.select("tok", "c", rows_j).select(
        "tok", "c", "j", bucket.alias("bucket")
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok")
        .agg(
            F.max("c").cast("bigint").alias("exact_count"),
            F.min("bc").cast("bigint").alias("cms_estimate"),
            (F.min("bc") - F.max("c")).cast("bigint").alias("overestimate"),
        )
        .select(
            F.col("tok").alias("token"),
            "exact_count",
            "cms_estimate",
            "overestimate",
        )
        .orderBy(F.desc("exact_count"), "token")
    )

_KMV_K = 128


def _kmv_sketch(
    spark: SparkSession, uni: DataFrame, n_uni_rows: int
) -> DataFrame:
    """Per-source k-minimum-values sketch: the K smallest kh per
    source. The single-window form sorts each SOURCE's whole distinct-
    shingle set in one window task (sources are few, so each partition
    is vocabulary-scale — the corpus_zipf_fit straggler class). Same
    hybrid dispatch as zipf: below the gate the single window is
    fastest (the two-level form measured 0.654s -> 1.122s at sf0.1,
    the extra exchange dominating); above it, a per-shard top-K bounds
    every sort (shard = kh mod shuffle-partitions, <= K rows survive
    per shard) and the second window ranks <= K*shards rows per
    source. Top-K of per-shard top-Ks is exactly the global top-K, so
    the two paths are row-identical (proven at all three SFs; pinned
    in test_plan_shapes.py)."""
    from pyspark.sql import Window

    src = uni
    if choose_path("kmv_sketch", n_uni_rows) == "distributed":
        n_shards = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        src = (
            uni.withColumn("shard", F.pmod(F.col("kh"), F.lit(n_shards)))
            .withColumn(
                "r1",
                F.row_number().over(
                    Window.partitionBy("source", "shard").orderBy("kh")
                ),
            )
            .filter(F.col("r1") <= _KMV_K)
            .select("source", "kh")
        )
    return (
        src.withColumn(
            "r", F.row_number().over(Window.partitionBy("source").orderBy("kh"))
        )
        .filter(F.col("r") <= _KMV_K)
        .select("source", "kh")
    )


@register(
    "kmv_set_operation_estimates",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    sh AS (
      SELECT source,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(generate_series(1, len(toks) - 2),
                         i -> {DUCK_HASH.format(v="concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])")})
                    ELSE [] END) AS g
      FROM t
    ),
    uni AS (
      SELECT DISTINCT source, g,
             ('0x' || substr(md5(CAST(g AS VARCHAR)), 1, 15))::BIGINT AS kh
      FROM sh
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY source),
    inter AS (
      SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS exact_inter
      FROM uni a JOIN uni b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    ),
    sk AS (
      SELECT source, kh FROM (
        SELECT source, kh, row_number() OVER (PARTITION BY source ORDER BY kh) AS r
        FROM uni
      ) WHERE r <= {_KMV_K}
    ),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM sizes a, sizes b WHERE a.source < b.source
    ),
    pu AS (
      SELECT DISTINCT sa, sb, kh FROM (
        SELECT p.sa, p.sb, s.kh FROM pairs p JOIN sk s ON s.source = p.sa
        UNION ALL
        SELECT p.sa, p.sb, s.kh FROM pairs p JOIN sk s ON s.source = p.sb
      )
    ),
    pk AS (
      SELECT sa, sb, kh FROM (
        SELECT sa, sb, kh,
               row_number() OVER (PARTITION BY sa, sb ORDER BY kh) AS r
        FROM pu
      ) WHERE r <= {_KMV_K}
    ),
    flags AS (
      SELECT p.sa, p.sb, p.kh,
             CASE WHEN fa.kh IS NULL THEN 0 ELSE 1 END
               * CASE WHEN fb.kh IS NULL THEN 0 ELSE 1 END AS both_sides
      FROM pk p
      LEFT JOIN sk fa ON fa.source = p.sa AND fa.kh = p.kh
      LEFT JOIN sk fb ON fb.source = p.sb AND fb.kh = p.kh
    ),
    agg AS (
      SELECT sa, sb,
             CAST(count(*) AS BIGINT) AS n_u,
             max(kh) AS m,
             CAST(sum(both_sides) AS BIGINT) AS common
      FROM flags GROUP BY sa, sb
    ),
    est AS (
      SELECT sa, sb, common,
             CASE WHEN n_u < {_KMV_K} THEN CAST(n_u AS DOUBLE)
                  ELSE ({_KMV_K - 1}.0) / (CAST(m AS DOUBLE) / power(2.0, 60))
             END AS est_union,
             n_u
      FROM agg
    )
    SELECT e.sa AS source_a, e.sb AS source_b,
           za.n + zb.n - coalesce(i.exact_inter, 0) AS exact_union,
           round(e.est_union, 6) AS kmv_union,
           coalesce(i.exact_inter, 0) AS exact_intersection,
           round(e.common / CAST(e.n_u AS DOUBLE) * e.est_union, 6)
             AS kmv_intersection,
           round(abs(e.est_union - (za.n + zb.n - coalesce(i.exact_inter, 0)))
                 / (za.n + zb.n - coalesce(i.exact_inter, 0)), 6)
             AS union_rel_error
    FROM est e
    LEFT JOIN inter i ON i.sa = e.sa AND i.sb = e.sb
    JOIN sizes za ON za.source = e.sa
    JOIN sizes zb ON zb.source = e.sb
    ORDER BY source_a, source_b
    """,
    description="KMV (k-minimum-values / bottom-k, Bar-Yossef et al. "
    "2002) set-operation sketch over per-source 3-gram shingle sets, "
    "graded against exact answers: each source keeps its 128 smallest "
    "60-bit hashes of its distinct shingles (~1.3k per source, so the "
    "(k-1)/theta estimator branch genuinely fires); a pair's union "
    "cardinality is estimated from the k-th minimum of the merged "
    "sketch and its intersection from the fraction of merged-sketch "
    "members present in BOTH sides -- the sketch algebra HLL cannot "
    "do (KMV sketches compose under union AND intersect), which is "
    "what mixture planning over hundreds of sources needs: pairwise "
    "overlap from 128-value sketches instead of vocabulary self-"
    "joins. Sketch contents are pure integer order statistics "
    "(bit-identical across engines); the pair universe is EVERY "
    "source pair including disjoint ones (the informative case for "
    "mixture planning); the graded exact columns (sizes, pairwise "
    "intersections) are corpus constants served from the materialized "
    "source-overlap rollup beside the shingle index, while the oracle "
    "re-derives them from spec — a stale rollup fails the driver "
    "hash. At 100 TB the sketches are (sources x 128) rows built "
    "with one window over the stored per-source distinct rollup; "
    "every pair estimate then runs on 256-row inputs.",
    tags=("text", "sketch", "approx", "mixture", "dedup"),
)
def kmv_set_operation_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from github_miner_spark.functions.text_store import load_source_overlap

    # the per-source distinct rollup, the sizes AND the exact pairwise
    # intersections are corpus constants served from the materialized
    # source-overlap rollup (VERDICT r8 item 4 — the shingle self-join
    # was the slowest watch entry's per-run cost); the oracle keeps
    # re-deriving all of them from spec, so a stale rollup fails the
    # driver hash instead of silently passing
    import os as _os

    from github_miner_spark.functions.text_store import (
        materialize_source_overlap,
    )

    uni, sizes, inter = load_source_overlap(spark, sf_dir)
    # gate input from the rollup parquet's FOOTER (driver metadata, no
    # Spark job — the zipf gate discipline); two consumers downstream
    # (pair-union probe + membership flags) — pin once
    n_uni = _parquet_num_rows(
        _os.path.join(
            materialize_source_overlap(spark, sf_dir),
            "source_shingles.parquet",
        )
    )
    sk = pin(_kmv_sketch(spark, uni, n_uni))
    # EVERY source pair, including disjoint ones (a zero-overlap pair
    # is the informative case for mixture planning) — the bounded
    # sources frame self-pairs under a broadcast, never a cartesian
    srcs = sizes.select("source")
    pairs = srcs.select(F.col("source").alias("sa")).join(
        F.broadcast(srcs.select(F.col("source").alias("sb"))),
        F.col("sa") < F.col("sb"),
    )
    # OR-join on the pair endpoints would plan as a cartesian; two
    # equi-joins unioned cover the same (pair, sketch-entry) rows
    pu = (
        pairs.join(sk.withColumnRenamed("source", "sa"), "sa")
        .select("sa", "sb", "kh")
        .unionByName(
            pairs.join(sk.withColumnRenamed("source", "sb"), "sb").select(
                "sa", "sb", "kh"
            )
        )
        .distinct()
    )
    pk = (
        pu.withColumn(
            "r", F.row_number().over(Window.partitionBy("sa", "sb").orderBy("kh"))
        )
        .filter(F.col("r") <= _KMV_K)
        .select("sa", "sb", "kh")
    )
    fa = sk.select(F.col("source").alias("sa"), "kh", F.lit(1).alias("ina"))
    fb = sk.select(F.col("source").alias("sb"), "kh", F.lit(1).alias("inb"))
    flags = (
        pk.join(fa, ["sa", "kh"], "left")
        .join(fb, ["sb", "kh"], "left")
        .select(
            "sa",
            "sb",
            "kh",
            (
                F.when(F.col("ina").isNull(), 0).otherwise(1)
                * F.when(F.col("inb").isNull(), 0).otherwise(1)
            ).alias("both_sides"),
        )
    )
    agg = flags.groupBy("sa", "sb").agg(
        F.count("*").cast("bigint").alias("n_u"),
        F.max("kh").alias("m"),
        F.sum("both_sides").cast("bigint").alias("common"),
    )
    est_union = F.when(
        F.col("n_u") < _KMV_K, F.col("n_u").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        / (F.col("m").cast("double") / F.pow(F.lit(2.0), F.lit(60)))
    )
    est = agg.select("sa", "sb", "common", "n_u", est_union.alias("est_union"))
    za = sizes.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    zb = sizes.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    ei = F.coalesce(F.col("exact_inter"), F.lit(0).cast("bigint"))
    exact_union = F.col("na") + F.col("nb") - ei
    return (
        est.join(inter, ["sa", "sb"], "left")
        .join(F.broadcast(za), "sa")
        .join(F.broadcast(zb), "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            exact_union.alias("exact_union"),
            F.round(F.col("est_union"), 6).alias("kmv_union"),
            ei.alias("exact_intersection"),
            F.round(
                F.col("common") / F.col("n_u").cast("double") * F.col("est_union"),
                6,
            ).alias("kmv_intersection"),
            F.round(
                F.abs(F.col("est_union") - exact_union) / exact_union, 6
            ).alias("union_rel_error"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# WordPiece: the third tokenizer family (likelihood-scored merges +
# greedy longest-match-first application), beside BPE and the unigram
# LM. Training is served from functions/wordpiece_store.py; the
# oracles re-derive the whole loop from spec.
# --------------------------------------------------------------------------

from github_miner_spark.functions.wordpiece_store import (  # noqa: E402
    WP_MERGE_ROUNDS as _WP_ROUNDS,
    WP_MIN_PAIR_COUNT as _WP_MIN_PAIR,
    WP_SCORE_SCALE as _WP_SCALE,
)


def _wordpiece_training_ctes(
    rounds: int = _WP_ROUNDS, recursive: bool = False
) -> str:
    """Unrolled WordPiece-training CTE chain — the BPE triple
    (pairs, argmax, re-tokenized state) per round, with the argmax on
    the integer-quantized likelihood gain
    round((ln n_ab - ln n_a - ln n_b) * 1e9) instead of the raw pair
    count, over pairs meeting the min-count floor.
    ``recursive=True`` emits WITH RECURSIVE so a downstream
    segmentation walk can be chained on. Round CTEs referenced twice
    (state, symbol arrays, the 1-row pick) are MATERIALIZED — without
    the hint DuckDB inlines them and the chain re-evaluates the whole
    upstream prefix per reference, going exponential in rounds."""
    head = "WITH RECURSIVE" if recursive else "WITH"
    parts = [f"""
    {head} wt AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    wst0 AS MATERIALIZED (
      SELECT doc_id, source,
             '<' || array_to_string(toks, '><') || '>' AS s
      FROM wt WHERE len(toks) >= 1
    )"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
    wtk{k} AS MATERIALIZED (
      SELECT str_split(s[2:length(s) - 1], '><') AS tk FROM wst{k - 1}
    ),
    wsc{k} AS (
      SELECT sym, CAST(count(*) AS BIGINT) AS ns
      FROM (SELECT unnest(tk) AS sym FROM wtk{k}) GROUP BY sym
    ),
    wpc{k} AS (
      SELECT l, r, CAST(count(*) AS BIGINT) AS n_pair FROM (
        SELECT tk[i] AS l, tk[i + 1] AS r
        FROM wtk{k},
             unnest(CASE WHEN len(tk) >= 2 THEN range(1, len(tk))
                         ELSE [] END) AS u(i)
      ) GROUP BY l, r
    ),
    wc{k} AS MATERIALIZED (
      SELECT l, r, n_pair, score_q FROM (
        SELECT p.l, p.r, p.n_pair,
               CAST(round((ln(CAST(p.n_pair AS DOUBLE))
                           - ln(CAST(sl.ns AS DOUBLE))
                           - ln(CAST(sr.ns AS DOUBLE)))
                          * {_WP_SCALE}, 0) AS BIGINT) AS score_q
        FROM wpc{k} p
        JOIN wsc{k} sl ON sl.sym = p.l
        JOIN wsc{k} sr ON sr.sym = p.r
        WHERE p.n_pair >= {_WP_MIN_PAIR}
      ) ORDER BY score_q DESC, l || '|' || r LIMIT 1
    ),
    wst{k} AS MATERIALIZED (
      SELECT doc_id, source,
             replace(s, '<' || l || '><' || r || '>',
                        '<' || l || ' ' || r || '>') AS s
      FROM wst{k - 1}, wc{k}
    )""")
    return "".join(parts)


def _wordpiece_vocab_oracle_sql(rounds: int = _WP_ROUNDS) -> str:
    picks = " UNION ALL ".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, "
        f"n_pair, score_q FROM wc{k}"
        for k in range(1, rounds + 1)
    )
    return (
        _wordpiece_training_ctes(rounds)
        + f" SELECT * FROM ({picks}) ORDER BY step"
    )


@register(
    "wordpiece_vocab_induction",
    oracle=_wordpiece_vocab_oracle_sql(),
    description="WordPiece vocabulary induction (Schuster & Nakajima "
    "2012 — the BERT tokenizer's training objective): the same "
    f"{_WP_ROUNDS}-round count-argmax-merge loop as "
    "bpe_vocab_induction, but each round merges the pair maximizing "
    "the LM likelihood gain count(ab)/(count(a)*count(b)) rather than "
    "the raw pair count — rare symbols that almost always co-occur "
    "beat ubiquitous ones that merely meet often. Scores are "
    "integer-quantized (round((ln n_ab - ln n_a - ln n_b) * 1e9) AS "
    "BIGINT, the unigram store's convention), so every argmax is "
    "exact integer algebra with a pair-string tie-break. Served from "
    "the materialized WordPiece store (functions/wordpiece_store.py, "
    "trained once per source dir); the oracle re-trains the loop from "
    "spec as unrolled CTE rounds, so grading is store-independent. "
    "100 TB shape: per round, TWO vocab-bounded map-side-combining "
    "counts (symbols, pairs) joined broadcast on the pair's "
    "endpoints, a 1-row argmax collect, and one narrow corpus-wide "
    "replace — no corpus-sized shuffle ever.",
    tags=("text", "tokens", "wordpiece", "iterative"),
)
def wordpiece_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.wordpiece_store import (
        load_wordpiece_merges,
    )

    return load_wordpiece_merges(spark, sf_dir).orderBy("step")


def _wordpiece_seg_oracle_sql(rounds: int = _WP_ROUNDS) -> str:
    prods = " UNION ALL ".join(
        f"SELECT l || ' ' || r AS piece FROM wc{k}"
        for k in range(1, rounds + 1)
    )
    return _wordpiece_training_ctes(rounds, recursive=True) + f""",
    wprod AS (
      SELECT DISTINCT piece,
             CAST(len(str_split(piece, ' ')) AS BIGINT) AS plen
      FROM ({prods})
    ),
    wdt AS MATERIALIZED (
      SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n
      FROM wt WHERE len(toks) >= 1
    ),
    wpos AS (
      SELECT doc_id, toks, n, unnest(generate_series(1, n)) AS i FROM wdt
    ),
    wjmp AS MATERIALIZED (
      SELECT p.doc_id, p.i,
             coalesce(max(CASE
               WHEN p.i + w.plen - 1 <= p.n
                AND array_to_string(p.toks[p.i : p.i + w.plen - 1], ' ')
                    = w.piece
               THEN w.plen END), 1) AS jl
      FROM wpos p LEFT JOIN wprod w ON TRUE
      GROUP BY p.doc_id, p.i
    ),
    wwalk AS (
      SELECT doc_id, n, CAST(1 AS BIGINT) AS nxt, CAST(0 AS BIGINT) AS cnt
      FROM wdt
      UNION ALL
      SELECT w.doc_id, w.n, w.nxt + j.jl, w.cnt + 1
      FROM wwalk w JOIN wjmp j ON j.doc_id = w.doc_id AND j.i = w.nxt
      WHERE w.nxt <= w.n
    ),
    wseg AS (SELECT doc_id, max(cnt) AS pieces FROM wwalk GROUP BY doc_id)
    SELECT d.source, CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(d.n) AS BIGINT) AS tokens_before,
           CAST(sum(g.pieces) AS BIGINT) AS pieces_after,
           round(CAST(sum(d.n) AS BIGINT) * 1.0
                 / CAST(sum(g.pieces) AS BIGINT), 6) AS compression
    FROM wdt d JOIN wseg g USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """


@register(
    "wordpiece_segmentation_stats",
    oracle=_wordpiece_seg_oracle_sql(),
    description="WordPiece APPLICATION — greedy longest-match-first "
    "(max-munch) segmentation, the actual inference algorithm BERT "
    "tokenizers run, against the learned vocabulary (merge products "
    "as token n-grams + single tokens as the fallback alphabet): at "
    "each position take the LONGEST vocab piece matching, jump past "
    "it, repeat. This is a genuinely different segmentation semantics "
    "from BPE merge-replay and unigram Viterbi — the family's three "
    "inference algorithms are now all implemented. Engine shape: the "
    "piece lexicon is WP_MERGE_ROUNDS driver rows from the WordPiece "
    "store; per document the jump table (longest piece starting at "
    "each position) is a transform() over the token array against "
    "inlined literals, and the greedy walk is ONE aggregate() fold "
    "that skips positions — the entire segmentation is a pure "
    "narrow scan, ZERO shuffles beyond the final source rollup, at "
    "any corpus size. The oracle re-trains from spec and re-walks "
    "greedily via a recursive CTE, so a stale store hash-mismatches.",
    tags=("text", "tokens", "wordpiece"),
)
def wordpiece_segmentation_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from github_miner_spark.functions.wordpiece_store import (
        max_munch_piece_count,
        vocab_pieces,
    )

    pieces = vocab_pieces(spark, sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("source", tokenize(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 1
    )
    # the greedy walk is one shared fold expression — property-tested
    # against a Python reference on random vocabularies in
    # tests/test_properties.py
    per_doc = base.select(
        "source",
        F.size("toks").cast("bigint").alias("n"),
        max_munch_piece_count(pieces).cast("bigint").alias("pieces"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            F.sum("n").cast("bigint").alias("tokens_before"),
            F.sum("pieces").cast("bigint").alias("pieces_after"),
        )
        .select(
            "source",
            "docs",
            "tokens_before",
            "pieces_after",
            F.round(
                F.col("tokens_before") / F.col("pieces_after"), 6
            ).alias("compression"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# BM25 ranked retrieval — the lexical-retrieval operator beside
# doc_tfidf_top_terms' salient-term extraction.
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("order", "fast", "window")
# per-term scores are quantized to integers and SUMMED AS BIGINTS, so
# the cross-engine doc ranking is exact integer algebra (the unigram
# store's convention; a float sum over terms would be order-sensitive)
BM25_SCALE = 1_000_000_000


def _bm25_oracle_sql(k: int = 20) -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
    WITH t AS (
      SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
    ),
    d AS (
      SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl
      FROM t WHERE len(toks) >= 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl
      FROM d
    ),
    hits AS (
      SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, dl, unnest(toks) AS term FROM d
      ) WHERE term IN ({terms})
      GROUP BY doc_id, dl, term
    ),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY term
    ),
    per_term AS (
      SELECT h.doc_id,
             CAST(round(
               ln(1 + (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
                      / (CAST(f.df AS DOUBLE) + 0.5))
               * (CAST(h.tf AS DOUBLE) * ({BM25_K1} + 1))
               / (CAST(h.tf AS DOUBLE)
                  + {BM25_K1} * (1 - {BM25_B}
                     + {BM25_B} * CAST(h.dl AS DOUBLE)
                       / (CAST(s.sdl AS DOUBLE) / CAST(s.n AS DOUBLE))))
               * {BM25_SCALE}, 0) AS BIGINT) AS wq
      FROM hits h JOIN dfreq f USING (term) CROSS JOIN stats s
    ),
    scored AS (
      SELECT doc_id, CAST(sum(wq) AS BIGINT) AS score_q FROM per_term
      GROUP BY doc_id
    )
    SELECT doc_id, score_q, round(score_q / {BM25_SCALE}.0, 6) AS score,
           CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS INT)
             AS rank
    FROM scored
    ORDER BY score_q DESC, doc_id LIMIT {k}
    """


@register(
    "bm25_retrieval_topk",
    oracle=_bm25_oracle_sql(),
    description="BM25 ranked retrieval (Robertson/Lucene variant: "
    "idf = ln(1 + (N - df + 0.5)/(df + 0.5)), k1=1.2, b=0.75): top-20 "
    "documents for a fixed query-term set — the lexical-retrieval "
    "operator a RAG or eval pipeline runs beside the embedding ANN "
    "stack, complementing doc_tfidf_top_terms' per-doc salient-term "
    "extraction with query-side ranked search. Determinism: each "
    "(term, doc) partial score is quantized to a BIGINT before the "
    "per-doc sum, so ranking is exact integer algebra on both engines "
    "(a float sum over terms would be accumulation-order-sensitive). "
    "100 TB shape: ONE corpus scan with the term filter applied "
    "directly under the explode (hits are query-term-bounded, a tiny "
    "fraction of corpus tokens), doc-frequency and corpus stats are "
    "broadcast scalars, and the final ranking is one "
    "TakeOrderedAndProject over per-doc rows — no corpus-sized "
    "shuffle, no full-posting materialization.",
    tags=("text", "retrieval", "bm25", "topk"),
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 1)
    # pin the tokenized corpus: its two consumers (the corpus-stats
    # aggregate and the term-filtered hits explode) each re-ran
    # scan+tokenize, and dfreq re-derived hits a third time (3 parquet
    # scans in the r12 audit — the HOF-lambda tokenizer defeats
    # ReuseExchange). The pin makes the description's "ONE corpus
    # scan" literally true; measured 0.97x end-to-end at sf0.1. The
    # corpus stats (doc count, summed length) come from the pin job.
    d, stats = pin_observed(
        d.select("doc_id", "toks", F.size("toks").cast("bigint").alias("dl")),
        sdl=F.sum("dl"),
    )
    n_docs = F.lit(stats["n"]).cast("double")
    avg_dl = F.lit(stats["sdl"]).cast("double") / n_docs
    hits = (
        d.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(list(BM25_TERMS)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    dfreq = hits.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.log(
        1
        + (n_docs - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    w = (
        idf
        * (F.col("tf").cast("double") * (BM25_K1 + 1))
        / (
            F.col("tf").cast("double")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl").cast("double") / avg_dl)
        )
    )
    per_term = (
        hits.join(F.broadcast(dfreq), "term")
        .select(
            "doc_id",
            F.round(w * BM25_SCALE, 0).cast("bigint").alias("wq"),
        )
    )
    scored = per_term.groupBy("doc_id").agg(
        F.sum("wq").cast("bigint").alias("score_q")
    )
    from pyspark.sql.window import Window

    # TakeOrderedAndProject bounds the result to 20 rows BEFORE the
    # rank window runs — the single-partition row_number only ever
    # sees k rows, never the full scored-doc set
    top = scored.orderBy(F.desc("score_q"), "doc_id").limit(20)
    return (
        top.select(
            "doc_id",
            "score_q",
            F.round(F.col("score_q") / F.lit(float(BM25_SCALE)), 6).alias(
                "score"
            ),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score_q"), F.asc("doc_id")))
            .cast("int"),
        )
        .orderBy(F.desc("score_q"), "doc_id")
    )


# Gopher repetition filters (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1). The
# corpus has no line structure, so the n-gram family applies: the
# fraction of a document's characters covered by its single most
# frequent word n-gram (n = 2, 3, 4; thresholds 0.20 / 0.18 / 0.16)
# and the fraction of n-gram occurrences that are duplicates (n = 5,
# 6; thresholds 0.15 / 0.14). Stats are per-doc exact rationals
# (integer char counts / integer totals), quantized to micro-units
# before the order-sensitive per-source average (the repo's
# cross-engine summation recipe).
GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESHOLDS = {5: 0.15, 6: 0.14}


def _duck_gram_counts(n: int) -> str:
    """DuckDB twin of the per-n (doc_id, gram-hash) count relation."""
    return f"""(
      SELECT doc_id, h, max(gc) AS gc, count(*) AS cnt FROM (
        SELECT doc_id,
               ('0x' || substr(md5(g), 1, 15))::BIGINT AS h,
               length(g) - {n - 1} AS gc
        FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= {n}
                   THEN list_transform(
                          generate_series(1, len(toks) - {n} + 1),
                          i -> array_to_string(toks[i:i+{n - 1}], ' '))
                   ELSE [] END) AS g
          FROM t)
      ) GROUP BY doc_id, h
    )"""


_GOPHER_ORACLE = (
    f"""
    WITH t AS (
      SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents
    ),
    base AS (
      SELECT doc_id, source,
             coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
               AS tchars
      FROM t
    ),
    """
    + ",\n    ".join(
        f"""top{n} AS (
      SELECT doc_id, (-(b.nc)) * b.gc AS chars FROM (
        SELECT doc_id, min(struct_pack(nc := -cnt, h := h, gc := gc)) AS b
        FROM {_duck_gram_counts(n)} GROUP BY doc_id)
    )"""
        for n in GOPHER_TOP_THRESHOLDS
    )
    + ",\n    "
    + ",\n    ".join(
        f"""dup{n} AS (
      SELECT doc_id,
             sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_occ,
             sum(cnt) AS tot_occ
      FROM {_duck_gram_counts(n)} GROUP BY doc_id
    )"""
        for n in GOPHER_DUP_THRESHOLDS
    )
    + """,
    pd AS (
      SELECT b.source,
             coalesce(t2.chars, 0) * 1.0 / b.tchars AS f2,
             coalesce(t3.chars, 0) * 1.0 / b.tchars AS f3,
             coalesce(t4.chars, 0) * 1.0 / b.tchars AS f4,
             CASE WHEN coalesce(d5.tot_occ, 0) > 0
                  THEN d5.dup_occ * 1.0 / d5.tot_occ ELSE 0.0 END AS f5,
             CASE WHEN coalesce(d6.tot_occ, 0) > 0
                  THEN d6.dup_occ * 1.0 / d6.tot_occ ELSE 0.0 END AS f6
      FROM base b
      LEFT JOIN top2 t2 USING (doc_id)
      LEFT JOIN top3 t3 USING (doc_id)
      LEFT JOIN top4 t4 USING (doc_id)
      LEFT JOIN dup5 d5 USING (doc_id)
      LEFT JOIN dup6 d6 USING (doc_id)
    )
    SELECT source, CAST(count(*) AS BIGINT) AS docs,
      round(sum(CAST(round(f2 * 1000000, 0) AS BIGINT))
            / (1000000.0 * count(*)), 6) AS top2_frac,
      round(sum(CAST(round(f3 * 1000000, 0) AS BIGINT))
            / (1000000.0 * count(*)), 6) AS top3_frac,
      round(sum(CAST(round(f4 * 1000000, 0) AS BIGINT))
            / (1000000.0 * count(*)), 6) AS top4_frac,
      round(sum(CAST(round(f5 * 1000000, 0) AS BIGINT))
            / (1000000.0 * count(*)), 6) AS dup5_frac,
      round(sum(CAST(round(f6 * 1000000, 0) AS BIGINT))
            / (1000000.0 * count(*)), 6) AS dup6_frac,
      CAST(sum(CASE WHEN f2 > 0.20 OR f3 > 0.18 OR f4 > 0.16
                      OR f5 > 0.15 OR f6 > 0.14
               THEN 1 ELSE 0 END) AS BIGINT) AS flagged
    FROM pd GROUP BY source ORDER BY source
    """
)


def _gram_array(n: int) -> Column:
    """Array of word n-grams of size ``n`` over the ``toks`` column.
    The CASE guards Spark's descending sequence(1, 0) on docs shorter
    than n tokens. Multi-n consumers UNION one explode per n over a
    lazily checkpointed token relation rather than exploding a
    concat() of these arrays: concat physically copies every family
    into a fresh array per row, which an interleaved noop-sink
    micro-benchmark priced at 1.7-2x the whole query (the union form
    measured FASTER than both the concat form and the
    re-tokenize-per-n form)."""
    return F.expr(
        f"CASE WHEN size(toks) >= {n} THEN transform("
        f"sequence(1, size(toks) - {n} + 1), "
        f"i -> array_join(slice(toks, i, {n}), ' ')) "
        "ELSE array() END"
    )


@register(
    "gopher_repetition_stats",
    oracle=_GOPHER_ORACLE,
    description="Gopher repetition filters (Rae et al. 2021 Table A1, "
    "n-gram family): per-source averages of each doc's "
    "top-{2,3,4}-gram character fraction and duplicate-{5,6}-gram "
    "occurrence fraction, plus the count of docs breaching any "
    "threshold (0.20/0.18/0.16 top, 0.15/0.14 dup). ONE scan+tokenize "
    "pass pinned by a lazy checkpoint, one tagged explode per n over "
    "the pinned token arrays, one (doc_id, n, hash)-keyed rollup, one "
    "per-doc conditional pivot; the per-doc argmax is a "
    "map-side-combinable min(struct(-cnt, h, gc)) — no windows, no "
    "corpus-global state. O(corpus tokens) end to end at any scale, "
    "with a single corpus scan+tokenize where the per-n form paid six "
    "and five doc-keyed joins collapsed into the pivot.",
    tags=("text", "curation", "quality", "repetition"),
)
def gopher_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import token_hash60

    docs = load_table(spark, "documents", sf_dir)
    # ONE tokenize pass, pinned: both consumers (the tagged-gram
    # explode and the per-doc base frame the pivot joins back onto)
    # read the checkpointed token arrays — the per-n form re-ran
    # tokenize six times (five gram passes + the base frame)
    base = pin(
        docs.select(
            "doc_id",
            "source",
            tokenize(F.col("text")).alias("toks"),
        ).withColumn("tchars", F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))"))
    )

    # one explode per n over the CHECKPOINTED token arrays, unioned
    # with the family tag — no re-tokenize per family, and no concat()
    # of the gram arrays (see _gram_array: the concat copy measured
    # 1.7-2x). The rollup keys on (doc_id, n, 60-bit hash) so the gram
    # text never shuffles, and the per-doc per-n stats (argmax struct
    # for the top-n fractions, dup/total occurrence sums) come from
    # one keyed aggregation instead of five
    all_ns = sorted(GOPHER_TOP_THRESHOLDS) + sorted(GOPHER_DUP_THRESHOLDS)
    branches = [
        base.select(
            "doc_id", F.lit(n).alias("n"), F.explode(_gram_array(n)).alias("g")
        )
        for n in all_ns
    ]
    ex0 = branches[0]
    for br in branches[1:]:
        ex0 = ex0.unionByName(br)
    ex = ex0.select(
        "doc_id",
        "n",
        token_hash60(F.col("g")).alias("h"),
        (F.length("g") - (F.col("n") - 1)).alias("gc"),
    )
    cnts = ex.groupBy("doc_id", "n", "h").agg(
        F.count("*").alias("cnt"), F.max("gc").alias("gc")
    )
    pern = cnts.groupBy("doc_id", "n").agg(
        F.min(
            F.struct(
                (-F.col("cnt")).alias("nc"),
                F.col("h").alias("h"),
                F.col("gc").alias("gc"),
            )
        ).alias("b"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
            "dup_occ"
        ),
        F.sum("cnt").alias("tot_occ"),
    )
    # conditional pivot to one row per doc — the five doc-keyed joins
    # of the per-n form collapse into this single aggregation
    piv = pern.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("n") == n, (-F.col("b.nc")) * F.col("b.gc"))
            ).alias(f"chars{n}")
            for n in GOPHER_TOP_THRESHOLDS
        ],
        *[
            F.max(F.when(F.col("n") == n, F.col("dup_occ"))).alias(
                f"dup_occ{n}"
            )
            for n in GOPHER_DUP_THRESHOLDS
        ],
        *[
            F.max(F.when(F.col("n") == n, F.col("tot_occ"))).alias(
                f"tot_occ{n}"
            )
            for n in GOPHER_DUP_THRESHOLDS
        ],
    )

    pd = base.select("doc_id", "source", "tchars").join(
        piv, "doc_id", "left_outer"
    )
    pd = pd.select(
        "source",
        (F.coalesce(F.col("chars2"), F.lit(0)) * 1.0 / F.col("tchars")).alias("f2"),
        (F.coalesce(F.col("chars3"), F.lit(0)) * 1.0 / F.col("tchars")).alias("f3"),
        (F.coalesce(F.col("chars4"), F.lit(0)) * 1.0 / F.col("tchars")).alias("f4"),
        F.when(
            F.coalesce(F.col("tot_occ5"), F.lit(0)) > 0,
            F.col("dup_occ5") * 1.0 / F.col("tot_occ5"),
        )
        .otherwise(0.0)
        .alias("f5"),
        F.when(
            F.coalesce(F.col("tot_occ6"), F.lit(0)) > 0,
            F.col("dup_occ6") * 1.0 / F.col("tot_occ6"),
        )
        .otherwise(0.0)
        .alias("f6"),
    )

    def _qavg(c: str, out: str):
        q = F.sum(F.round(F.col(c) * 1000000, 0).cast("bigint"))
        return F.round(q / (1000000.0 * F.count("*")), 6).alias(out)

    breach = (
        (F.col("f2") > 0.20)
        | (F.col("f3") > 0.18)
        | (F.col("f4") > 0.16)
        | (F.col("f5") > 0.15)
        | (F.col("f6") > 0.14)
    )
    return (
        pd.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            _qavg("f2", "top2_frac"),
            _qavg("f3", "top3_frac"),
            _qavg("f4", "top4_frac"),
            _qavg("f5", "dup5_frac"),
            _qavg("f6", "dup6_frac"),
            F.sum(F.when(breach, 1).otherwise(0)).cast("bigint").alias("flagged"),
        )
        .orderBy("source")
    )


@register(
    "distinct_ngram_diversity",
    oracle=f"""
    WITH t AS (SELECT doc_id, source, {DUCK_TOKENS} AS toks FROM documents),
    g AS (
      SELECT source, n, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
      FROM (
        SELECT source, n.n AS n,
               unnest(CASE WHEN len(toks) >= n.n
                 THEN list_transform(generate_series(1, len(toks) - n.n + 1),
                        i -> array_to_string(toks[i:i+n.n-1], ' '))
                 ELSE [] END) AS g
        FROM t, (SELECT unnest([1, 2, 3]) AS n) n)
    ),
    agg AS (
      SELECT source, n, count(*) AS occ, count(DISTINCT h) AS types
      FROM g GROUP BY source, n
    )
    SELECT source,
           CAST(max(CASE WHEN n = 1 THEN occ END) AS BIGINT) AS tokens,
           round(max(CASE WHEN n = 1 THEN types * 1.0 / occ END), 6)
             AS distinct1_ratio,
           round(max(CASE WHEN n = 2 THEN types * 1.0 / occ END), 6)
             AS distinct2_ratio,
           round(max(CASE WHEN n = 3 THEN types * 1.0 / occ END), 6)
             AS distinct3_ratio
    FROM agg GROUP BY source ORDER BY source
    """,
    description="Distinct-n diversity (Li et al. 2016): per-source "
    "ratio of distinct {1,2,3}-gram types to total occurrences — the "
    "corpus-diversity complement of the per-doc Gopher repetition "
    "filters (a source can pass every per-doc check and still be "
    "template spam corpus-wide; low distinct-n exposes it). ONE "
    "scan+tokenize pass pinned by a lazy checkpoint, one tagged "
    "explode per n over the pinned arrays and 60-bit gram hashes "
    "(gram text never shuffles; the plain union form re-ran the "
    "scan+regex per n), count-distinct on the "
    "(source, n, hash) rollup — "
    "integer counts, so the ratios are exact rationals on both "
    "engines. O(corpus tokens) at any scale.",
    tags=("text", "curation", "diversity", "repetition"),
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_miner_spark.functions.text import token_hash60

    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("source", tokenize(F.col("text")).alias("toks"))
    # one explode per n over the CHECKPOINTED token relation, unioned
    # — tokenize runs once where the plain union form re-ran the
    # scan + regex per n (concat-of-arrays single-explode rejected by
    # measurement, see _gram_array; the checkpointed-union form
    # measured fastest of the three: 1.275s vs 1.65s plain union vs
    # 2.45s concat, interleaved noop medians at sf0.1)
    base = pin(base)
    per_n = [
        base.select(
            "source", F.lit(n).alias("n"), F.explode(_gram_array(n)).alias("g")
        )
        for n in (1, 2, 3)
    ]
    g = (
        per_n[0]
        .unionByName(per_n[1])
        .unionByName(per_n[2])
        .select("source", "n", token_hash60(F.col("g")).alias("h"))
    )
    agg = g.groupBy("source", "n").agg(
        F.count("*").alias("occ"),
        F.countDistinct("h").alias("types"),
    )

    def _ratio(n: int, out: str):
        return F.round(
            F.max(F.when(F.col("n") == n, F.col("types") * 1.0 / F.col("occ"))),
            6,
        ).alias(out)

    return (
        agg.groupBy("source")
        .agg(
            F.max(F.when(F.col("n") == 1, F.col("occ")))
            .cast("bigint")
            .alias("tokens"),
            _ratio(1, "distinct1_ratio"),
            _ratio(2, "distinct2_ratio"),
            _ratio(3, "distinct3_ratio"),
        )
        .orderBy("source")
    )


# CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
# Extracting High Quality Monolingual Datasets from Web Crawl Data"):
# per-language head/middle/tail terciles of LM perplexity, computed
# the repo's scale-honest way — tercile CUTOFFS come from a
# deterministic md5-gated document sample summarized into a fixed-bin
# histogram (3200 bins x 0.005 nats covering [0, 16) — fine enough to
# resolve this corpus's ~0.03-nat tercile gaps; the
# binned_quantile_estimates discipline: O(1) state per language, no
# rank window over the corpus), then every document buckets by
# broadcast cutoff comparison. Per-doc mean KN surprisal is
# micro-nat-quantized before binning, so bin ids and cutoffs are
# exact integer algebra.
PPL_BIN_MICRO_NATS = 5_000  # 0.005 nats per bin
PPL_N_BINS = 3200
PPL_SAMPLE_MOD, PPL_SAMPLE_KEEP = 10, 3  # ~30% md5-gated sample


@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH {_KN_SCORED_CTES},
    kn AS (
      SELECT doc_id,
             CAST(round(sum(s) / count(*) * 1000000, 0) AS BIGINT) AS mq
      FROM scored GROUP BY doc_id
    ),
    sb AS MATERIALIZED (
      SELECT k.doc_id, d.lang,
             least({PPL_N_BINS - 1}, greatest(0,
               CAST(floor(k.mq / {PPL_BIN_MICRO_NATS}.0) AS BIGINT))) AS bin
      FROM kn k JOIN documents d ON d.doc_id = k.doc_id
    ),
    samp AS (
      SELECT * FROM sb
      WHERE ('0x' || substr(md5('pplq:' || CAST(doc_id AS VARCHAR)), 1, 8))
            ::BIGINT % {PPL_SAMPLE_MOD} < {PPL_SAMPLE_KEEP}
    ),
    hist AS (SELECT lang, bin, count(*) AS c FROM samp GROUP BY lang, bin),
    ns AS (SELECT lang, count(*) AS ns FROM samp GROUP BY lang),
    cum AS (
      SELECT h.lang, h.bin,
             sum(h.c) OVER (PARTITION BY h.lang ORDER BY h.bin) AS cum,
             ns.ns
      FROM hist h JOIN ns USING (lang)
    ),
    cuts AS (
      SELECT lang,
             min(CASE WHEN 3 * cum >= ns THEN bin END) AS c1,
             min(CASE WHEN 3 * cum >= 2 * ns THEN bin END) AS c2
      FROM cum GROUP BY lang
    ),
    b AS (
      SELECT sb.lang,
             CASE WHEN sb.bin <= coalesce(c.c1, {PPL_N_BINS - 1}) THEN 'head'
                  WHEN sb.bin <= coalesce(c.c2, {PPL_N_BINS - 1}) THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sb LEFT JOIN cuts c USING (lang)
    ),
    tot AS (SELECT lang, count(*) AS lt FROM b GROUP BY lang)
    SELECT b.lang, b.bucket, CAST(count(*) AS BIGINT) AS docs,
           round(count(*) * 1.0 / max(t.lt), 6) AS share
    FROM b JOIN tot t USING (lang)
    GROUP BY b.lang, b.bucket ORDER BY b.lang, b.bucket
    """,
    description="CCNet perplexity bucketing (Wenzek et al. 2020): "
    "per-language head/middle/tail terciles of per-doc mean KN "
    "surprisal — the standard LM-quality stratification run before "
    "mixture weighting (head = lowest perplexity). Tercile cutoffs "
    "derive from an md5-gated ~30% sample summarized into a 64-bin "
    "fixed-width histogram (language-keyed, 64 rows of state per "
    "language — the binned_quantile_estimates discipline; the only "
    "window runs over that 64-row frame, never the corpus), then "
    "every doc buckets via a broadcast cutoff join. Reuses the "
    "_kn_scored relation, so the LM itself is the already-witnessed "
    "hash-keyed KN model.",
    tags=("text", "curation", "quality", "lm", "ccnet"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from github_miner_spark.functions.text import md5_prefix_hash

    kn = (
        _kn_scored(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("s") / F.count("*") * 1000000, 0)
            .cast("bigint")
            .alias("mq")
        )
    )
    langs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    # two consumers (sample histogram + full bucketing) — pin once
    sb = pin(
        kn.join(langs, "doc_id").select(
            "doc_id",
            "lang",
            F.least(
                F.lit(PPL_N_BINS - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(F.col("mq") / float(PPL_BIN_MICRO_NATS)).cast(
                        "bigint"
                    ),
                ),
            ).alias("bin"),
        )
    )
    samp = sb.filter(
        md5_prefix_hash(
            F.concat(F.lit("pplq:"), F.col("doc_id").cast("string")), 8
        )
        % PPL_SAMPLE_MOD
        < PPL_SAMPLE_KEEP
    )
    hist = samp.groupBy("lang", "bin").agg(F.count("*").alias("c"))
    ns = samp.groupBy("lang").agg(F.count("*").alias("ns"))
    # the cumulative runs over the per-language fixed-bin histogram —
    # a <= PPL_N_BINS-row partition regardless of corpus size
    cum = hist.join(ns, "lang").withColumn(
        "cum",
        F.sum("c").over(Window.partitionBy("lang").orderBy("bin")),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(F.when(3 * F.col("cum") >= F.col("ns"), F.col("bin"))).alias("c1"),
        F.min(F.when(3 * F.col("cum") >= 2 * F.col("ns"), F.col("bin"))).alias(
            "c2"
        ),
    )
    b = sb.join(F.broadcast(cuts), "lang", "left_outer").select(
        "lang",
        F.when(
            F.col("bin") <= F.coalesce(F.col("c1"), F.lit(PPL_N_BINS - 1)),
            "head",
        )
        .when(
            F.col("bin") <= F.coalesce(F.col("c2"), F.lit(PPL_N_BINS - 1)),
            "middle",
        )
        .otherwise("tail")
        .alias("bucket"),
    )
    # per-language totals fold over the (lang, bucket) rollup — at most
    # 3 rows per language — instead of a second corpus-scale pass over
    # b joined back (the DSIR totals-fold discipline: the buckets
    # partition b exactly, so the window sum equals the direct count)
    g = b.groupBy("lang", "bucket").agg(F.count("*").alias("docs_l"))
    lt = F.sum("docs_l").over(Window.partitionBy("lang"))
    return (
        g.select(
            "lang",
            "bucket",
            F.col("docs_l").cast("bigint").alias("docs"),
            F.round(F.col("docs_l") * 1.0 / lt, 6).alias("share"),
        )
        .orderBy("lang", "bucket")
    )
