"""The benchmark's workloads: which ops a pass runs and how each op's
result is checked.

An op is one user-visible request. For the query workloads it is a
registered query: construct the DataFrame through the registry, force
the physical plan, ``collect()`` every column. For ``lake_ingest`` it is
one ``run_insert_job`` batch. Every op runs under its own Spark job
group so the event log can charge jobs, stages and tasks to it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass

import checks
import datagen
from spans import dir_bytes

# query_mix runs both op groups, shuffled together by the seed.
#
# The reference's stage 3 over the materialized graph store, bound by
# Python-side construction and per-job overhead. cypher_pagerank_readback
# alone crosses cypher, procedures, algorithms and mutations (CALL ...
# write:true, then a read-back); the others add path closure and plain
# store scans. Each group is kept to four ops so that one cold set-up
# plus three passes take under a minute on 4 cores.
GRAPH_OPS = (
    "cypher_pagerank_readback",
    "cypher_top_used_modules",
    "closure_counts_from_anchor",
    "top_dependants_modules",
)

# A TPC-H aggregate plus curation and retrieval operators: execution-
# bound (shuffles, codegen, MinHash UDF work) and served partly from
# the text and IVF stores; no graph work.
SCAN_OPS = (
    "pricing_summary",
    "exact_dedup_summary",
    "minhash_lsh_dups",
    "embedding_ivf_topk",
)

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass
class OpResult:
    name: str
    seconds: float
    rows: int
    ok: bool
    error: str = ""


class QueryWorkload:
    """A fixed set of registered queries over the generated base
    tables; the seed only shuffles op order within each pass."""

    nominal_pass_s = 6.0

    def __init__(self, name: str, ops: tuple[str, ...], run_dir: str, seed: int):
        self.name = name
        self.ops = ops
        self.data_dir = os.path.join(run_dir, "data")
        self.rng = random.Random(seed)
        with open(EXPECTED_PATH, encoding="utf-8") as f:
            self.expected = json.load(f)["digests"]
        self.input_bytes = 0

    def prepare(self) -> None:
        self.input_bytes = datagen.write_tables(self.data_dir)

    def on_session(self, spark) -> None:
        from github_miner_spark import registry

        self.queries = registry.spark_queries()

    def pass_ops(self) -> list[str]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def run_op(self, spark, name: str, tracer) -> OpResult:
        fn = self.queries[name]
        t0 = time.perf_counter()
        with tracer.span(name, "queries"):
            df = fn(spark, self.data_dir)
        with tracer.span("executedPlan", "catalyst"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("collect", "spark.exec"):
            rows = df.collect()
        seconds = time.perf_counter() - t0
        got = checks.digest(df.columns, rows)
        ok = got == self.expected.get(name)
        return OpResult(name, seconds, len(rows), ok, "" if ok else f"digest {got}")

    def end_pass(self, spark) -> str:
        return ""

    def output_bytes(self, store_roots: list[str]) -> int:
        return sum(dir_bytes(r) for r in store_roots)


class LakeWorkload:
    """The write side: a seeded manifest lake ingested batch by batch
    with ``etl.insert.run_insert_job`` into a fresh vertex/edge store
    per pass. A pass is the base batch, the delta batches in a seeded
    order, then a replay of the base batch, which must change nothing.
    Each op costs about 3 s at local[4] whatever its size, because the
    closure's levels and the MERGE run as dozens of small Spark jobs, so
    the lake has a single delta batch."""

    name = "lake_ingest"
    nominal_pass_s = 10.5

    def __init__(self, run_dir: str, seed: int):
        self.lake_dir = os.path.join(run_dir, "lake")
        self.out_dir = os.path.join(run_dir, "lake_store")
        self.seed = seed
        self.rng = random.Random(seed)
        self.input_bytes = 0

    def prepare(self) -> None:
        dirs, self.registry_path, self.input_bytes, registry, batches = datagen.write_lake(
            self.lake_dir, self.seed
        )
        self.batch_dirs = dirs
        self.registry_rows = registry
        self.batches = batches
        self.expected_vertices, self.expected_edges = datagen.reference_graph(registry, batches)

    def on_session(self, spark) -> None:
        self.npm = spark.read.parquet(self.registry_path)

    def pass_ops(self) -> list[str]:
        deltas = list(range(1, len(self.batch_dirs)))
        self.rng.shuffle(deltas)
        order = [0] + deltas
        # expected cumulative (vertices, edges) counts after each op
        v, e = set(), set()
        self.expected_counts = {}
        for i in order:
            bv, be, _ = datagen.reference_batch(self.registry_rows, self.batches[i])
            v |= bv
            e |= be
            self.expected_counts[f"batch{i}"] = (len(v), len(e))
        self.expected_counts["replay0"] = (len(v), len(e))
        shutil.rmtree(self.out_dir, ignore_errors=True)
        return [f"batch{i}" for i in order] + ["replay0"]

    def run_op(self, spark, name: str, tracer) -> OpResult:
        from github_miner_spark.etl.insert import run_insert_job

        idx = int(name.removeprefix("batch").removeprefix("replay"))
        t0 = time.perf_counter()
        counts = run_insert_job(
            spark,
            self.batch_dirs[idx],
            self.npm,
            os.path.join(self.out_dir, "vertices"),
            os.path.join(self.out_dir, "edges"),
        )
        seconds = time.perf_counter() - t0
        got = (counts["vertices"], counts["edges"])
        want = self.expected_counts[name]
        ok = got == want
        rows = got[0] + got[1]
        return OpResult(name, seconds, rows, ok, "" if ok else f"counts {got} != {want}")

    def end_pass(self, spark) -> str:
        """Compare the whole store against the pure-Python reference."""
        v = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(self.out_dir, "vertices"))
            .select("id", "label", "name")
            .collect()
        }
        e = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(self.out_dir, "edges"))
            .select("src", "dst", "rel_type", "src_label", "dst_label", "version")
            .collect()
        }
        if v != self.expected_vertices:
            return f"vertex set differs ({len(v)} vs {len(self.expected_vertices)})"
        if e != self.expected_edges:
            return f"edge set differs ({len(e)} vs {len(self.expected_edges)})"
        return ""

    def output_bytes(self, store_roots: list[str]) -> int:
        return dir_bytes(self.out_dir)


def make(name: str, run_dir: str, seed: int):
    if name == "query_mix":
        return QueryWorkload(name, GRAPH_OPS + SCAN_OPS, run_dir, seed)
    if name == "lake_ingest":
        return LakeWorkload(run_dir, seed)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("query_mix", "lake_ingest")
