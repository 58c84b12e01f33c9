"""End-to-end training-data curation pipeline: the composition the
individual LLM-pipeline operators exist for.

``curate_and_export`` chains language-ID -> quality floor -> token-count
band -> exact dedup -> near-dup cluster resolution -> range-sharded
parquet export, and returns the per-stage survivor counts plus the
export manifest. One scan computes all per-doc features; the only
shuffles are the two dedup aggregations, the near-dup candidate join
(inverted-index-shaped, never all-pairs) and the final range partition —
the same plan at 100 TB, just with more partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from github_miner_spark.functions.dedup import jaccard_pairs
from github_miner_spark.functions.pin import pin_counted, pin_observed
from github_miner_spark.functions.text import language_id, quality_score, token_count
from github_miner_spark.graph.algorithms import connected_components
from github_miner_spark.io.sinks import write_training_shards


def curate_and_export(
    docs: DataFrame,
    out_path: str,
    num_shards: int = 4,
    lang: str = "en",
    min_quality: float = 0.65,
    token_band: tuple[int, int] = (30, 70),
    min_jaccard: float = 0.8,
) -> dict:
    """Run the full curation funnel and export the survivors.

    Returns ``{"n_total", "n_lang", "n_quality", "n_tokens",
    "n_exact_kept", "n_near_kept", "manifest"}`` — each count is the
    survivor population after that stage, so the report is the funnel
    the curation dashboards plot.
    """
    is_lang = F.col("lang_pred") == lang
    is_quality = F.col("quality") >= min_quality
    scored, seen = pin_observed(
        docs.select(
            "doc_id",
            "text",
            language_id(F.col("text")).alias("lang_pred"),
            quality_score(F.col("text")).alias("quality"),
            token_count(F.col("text")).alias("nt"),
            F.md5("text").alias("h"),
        ),
        lang=F.count_if(is_lang),
        quality=F.count_if(is_lang & is_quality),
    )
    n_total, n_lang, n_quality = seen["n"], seen["lang"], seen["quality"]
    t_ok, n_tokens = pin_counted(
        scored.filter(is_lang & is_quality & F.col("nt").between(*token_band))
    )


    # exact dedup: first-writer-wins within the surviving population
    keep = t_ok.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    exact_kept, n_exact_kept = pin_counted(
        t_ok.join(keep, "h")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "text")
    )

    # near-dup resolution: Jaccard pairs over the survivors only, star-
    # contraction components, keep the min doc_id of every cluster
    pairs = jaccard_pairs(exact_kept, threshold=min_jaccard).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    drop = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
    near_kept = exact_kept.join(drop, "doc_id", "left_anti")
    n_near_kept = near_kept.count()

    manifest = write_training_shards(
        near_kept, out_path, order_col="doc_id", num_shards=num_shards
    )
    return {
        "n_total": n_total,
        "n_lang": n_lang,
        "n_quality": n_quality,
        "n_tokens": n_tokens,
        "n_exact_kept": n_exact_kept,
        "n_near_kept": n_near_kept,
        "manifest": manifest,
    }
