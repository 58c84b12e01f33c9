"""Mining-side dataflow: search-space partition planning, checkpoint /
resume, and rate-limit-aware scheduling (SURVEY.md §2.8 R4-R7).

The reference crawls the GitHub Search API, which caps any query at
1,000 results — so it partitions the search space into predicate
slices: Fibonacci-widening date windows (1,2,3,5,8,13,21 days,
src/miner.ts:121-162), star ranges ('>500' … '100..104',
src/miner.ts:186-189) and fork ranges (src/miner.ts:206). Completed
slices are checkpointed in a Redis set and skipped on restart
(src/miner.ts:83-86); rate-limit headers drive backoff
(src/miner.ts:57-67).

Spark-native shape: the planner is a pure function emitting a
partition-spec table; resume = left-anti join of planned vs completed
specs (a job-state table, not a Redis service); the live HTTP fetch is
a ``foreachPartition`` adapter kept OUT of the SQL layer and stubbed
here (no network in tests) — everything downstream reads the landed
lake.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from github_miner_spark.etl.merge import read_existing

# the reference's widening windows (src/miner.ts:145-159)
FIBONACCI_WINDOW_DAYS = (1, 2, 3, 5, 8, 13, 21)

# star/fork range slices for the pre-boundary bulk (src/miner.ts:186-189, :206)
STAR_RANGES = (
    ">500", "400..500", "300..399", "250..299", "200..249", "175..199",
    "150..174", "140..149", "130..139", "120..129", "115..119", "110..114",
    "105..109", "100..104",
)
FORK_RANGES = (">300", "200..300", "150..199", "125..149", "110..124", "100..110")


@dataclass(frozen=True)
class SearchPartition:
    """One ≤1000-result predicate slice of the search space."""

    pushed_from: str  # ISO date, inclusive
    pushed_to: str  # ISO date, inclusive
    forks: str
    stars: str

    @property
    def key(self) -> str:
        # the reference's string partition key (src/miner.ts:44,82)
        return f"forks:{self.forks}|pushed:{self.pushed_from}..{self.pushed_to}|stars:{self.stars}"


def fibonacci_date_windows(
    end: dt.date, lookback_days: int, widths: Sequence[int] = FIBONACCI_WINDOW_DAYS
) -> Iterator[tuple[dt.date, dt.date]]:
    """Walk backward from ``end`` in widening windows, cycling the width
    sequence, until ``lookback_days`` are covered — newest data gets the
    narrowest slices (highest churn), old data the widest."""
    cursor = end
    i = 0
    oldest = end - dt.timedelta(days=lookback_days - 1)
    while cursor >= oldest:
        width = widths[min(i, len(widths) - 1)]
        start = max(cursor - dt.timedelta(days=width - 1), oldest)
        yield (start, cursor)
        cursor = start - dt.timedelta(days=1)
        i += 1


def plan_partitions(
    end: dt.date,
    lookback_days: int = 365,
    forks: str = ">=100",
    stars: str = ">=100",
) -> list[SearchPartition]:
    """The full partition plan: per-date-window slices plus the
    star/fork-range split for the oldest bulk (reference
    mineReposBeforeDate, src/miner.ts:183-222)."""
    parts = [
        SearchPartition(str(s), str(e), forks, stars)
        for s, e in fibonacci_date_windows(end, lookback_days)
    ]
    boundary = end - dt.timedelta(days=lookback_days)
    for sr in STAR_RANGES:
        parts.append(SearchPartition("*", str(boundary), forks, sr))
    for fr in FORK_RANGES:
        parts.append(SearchPartition("*", str(boundary), fr, stars))
    return parts


def partitions_df(spark: SparkSession, parts: Sequence[SearchPartition]) -> DataFrame:
    return spark.createDataFrame(
        [(p.key, p.pushed_from, p.pushed_to, p.forks, p.stars) for p in parts],
        "partition_key string, pushed_from string, pushed_to string, forks string, stars string",
    )


def pending_partitions(planned: DataFrame, completed: DataFrame) -> DataFrame:
    """Checkpoint/resume: planned slices not yet in the completed
    job-state table (reference processed-date-ranges skip,
    src/miner.ts:83-86) — a left-anti join, not a per-key SISMEMBER."""
    return planned.join(completed, ["partition_key"], "left_anti")


def backoff_seconds(rate_remaining: int, rate_reset_epoch: int, now_epoch: int) -> int:
    """Rate-limit backoff: seconds to sleep before the next request
    (reference src/GitHubMinerHelper.ts:44-45, src/miner.ts:57-64).
    Zero when budget remains; otherwise time until the reset epoch."""
    if rate_remaining > 0:
        return 0
    return max(0, rate_reset_epoch - now_epoch)


def fetch_partition_stub(partition: SearchPartition) -> list[dict]:
    """Placeholder for the live GitHub/npm HTTP fetch executed inside
    the distributed fetch stage of a real mining run. Network access is
    out of scope for this environment; tests and queries run from the
    landed lake instead."""
    raise NotImplementedError(
        "live mining requires network access; run against the landed lake"
    )


# landed repo rows: the 11-column GitRepo projection plus provenance
LANDED_SCHEMA = (
    "partition_key string, full_name string, owner string, name string, "
    "stargazers_count bigint, forks_count bigint, pushed_at string"
)


def run_mining_job(
    spark: SparkSession,
    parts: Sequence[SearchPartition],
    state_dir: str,
    lake_dir: str,
    fetcher=fetch_partition_stub,
) -> int:
    """The E1 mining pipeline end-to-end (reference src/miner.ts):
    plan -> resume-filter (anti-join vs the job-state table, R6) ->
    distributed fetch (each task fetches its slice of partition specs,
    R7) -> land the lake partitioned by owner (the columnar upgrade of
    the file-per-repo layout, SURVEY §1.5) -> append completed keys to
    job state. Re-running with the same plan fetches nothing: the
    idempotent form of the reference's processed-date-ranges skip.

    ``fetcher(SearchPartition) -> list[dict]`` is the ONLY place a real
    run touches the network; it executes inside the fetch stage's
    tasks, never on the driver. Returns the number of partitions
    fetched this run."""
    import pandas as pd

    planned = partitions_df(spark, parts)
    completed = read_existing(spark, state_dir, "partition_key string")
    if completed is None:
        completed = spark.createDataFrame([], "partition_key string")
    pending = pending_partitions(planned, completed)
    n_pending = pending.count()
    if n_pending == 0:
        return 0

    def fetch_batches(pdfs):
        for pdf in pdfs:
            out = []
            for row in pdf.itertuples(index=False):
                part = SearchPartition(row.pushed_from, row.pushed_to, row.forks, row.stars)
                for repo in fetcher(part):
                    rec = {"partition_key": part.key}
                    rec.update(repo)
                    rec.setdefault("owner", rec.get("full_name", "/").split("/")[0])
                    out.append(rec)
            cols = [f.split()[0] for f in LANDED_SCHEMA.split(", ")]
            yield pd.DataFrame(out, columns=cols)

    landed = pending.repartition(max(1, min(n_pending, 32))).mapInPandas(
        fetch_batches, schema=LANDED_SCHEMA
    )
    landed.write.mode("append").partitionBy("owner").json(lake_dir)
    pending.select("partition_key").write.mode("append").parquet(state_dir)
    return n_pending
