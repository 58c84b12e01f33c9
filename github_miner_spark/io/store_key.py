"""Shared content address and publish step for the materialized stores.

Every store (graph, text/shingle, IVF, PQ, IVF-PQ, int8, walks, BPE,
WordPiece, unigram, clustered truth, anchor reach) keys its on-disk
materialization by the identity of the source files it derives from
(:func:`content_key`), and lands it with :func:`publish`. One helper
owns each so the copies can never drift apart — the walk store in
particular derives FROM the graph store, so the two must invalidate on
the same base-table identities.

Publish contract: a store artifact is a directory ``target`` under a
store ``root``, complete when it holds every name in ``entries``.
Builders write into a private ``root/building-*`` stage and land it
with one ``os.rename``, so a reader sees either a complete ``target``
or none; concurrent builders of one target all return the winner's
copy; a crashed build leaves only a ``building-*`` orphan, which no
reader looks at; an incomplete ``target`` is moved aside and rebuilt,
never served.

Read contract: every store loader and every read-back of a just-built
artifact goes through :func:`read_store`, never a bare
``spark.read.parquet``. A bare read infers the schema with a Spark job
that opens the footers: the graph store's vertices took 119-131 ms a
read that way, against 17-20 ms through ``read_store`` (warm
``local[4]`` session, 4-core VM, median of 15). ``read_store`` takes
the schema Spark itself wrote into one part file's footer, under
``org.apache.spark.sql.parquet.row.metadata``, read on the driver with
pyarrow. That schema can mark fields non-null (the graph store's
``label``, ``rel_type``, ``src_label``, ``dst_label``); Spark makes a
file source's given schema all-nullable, as inference does, so the
frame's schema equals the inferred one either way. Stores are local
directories by construction (``publish`` lands them with
``os.rename``), so the driver can open the footer directly."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable, Iterable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession


def content_key(
    sf_dir: str,
    files: Iterable[tuple[str, str]],
    extra: Iterable[str] = (),
) -> str:
    """16-hex content address: abs source path + extra version tokens
    + (tag, size, mtime_ns) per source file — `tag:missing` when a
    file is absent, so a regenerated or partial source dir never
    serves a stale store. ``files`` is (tag, filename) pairs; the tag
    keeps distinct stores over the same file distinguishable (e.g.
    the PQ store tags embeddings.parquet as 'embeddings-pq')."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for tok in extra:
        h.update(str(tok).encode())
    for tag, name in files:
        p = os.path.join(sf_dir, name)
        try:
            st = os.stat(p)
            h.update(f"{tag}:{st.st_size}:{st.st_mtime_ns}".encode())
        except FileNotFoundError:
            h.update(f"{tag}:missing".encode())
    return h.hexdigest()[:16]


# The base tables the module graph (and everything derived from it,
# e.g. the walk corpus) is built from — graph/store.py and
# functions/walk_store.py MUST share this list.
GRAPH_BASE_TABLES = (
    "customer.parquet",
    "orders.parquet",
    "part.parquet",
    "lineitem.parquet",
)

# The entries of a target that IS one Spark parquet output dir: Spark
# writes _SUCCESS last.
PARQUET_DIR_ENTRIES = ("_SUCCESS",)

# The footer key under which Spark's parquet writer stores the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _is_complete(target: str, entries: Iterable[str]) -> bool:
    """True when ``target`` is a directory holding every name in
    ``entries``."""
    return os.path.isdir(target) and all(
        os.path.exists(os.path.join(target, e)) for e in entries
    )


def publish(
    root: str,
    target: str,
    entries: Iterable[str],
    write: Callable[[str], None],
) -> str:
    """Return ``target``, building it first unless it already holds
    every name in ``entries``.

    A build calls ``write(stage)`` on a fresh ``root/building-*`` dir
    and renames the stage onto ``target`` (its parent is created). If
    the rename fails, a complete ``target`` means another builder won
    the race and its copy is returned; an incomplete one is moved aside
    under ``root/building-*`` and the rename retried once. A ``target``
    still incomplete after that raises. The stage is always removed.

    Nested artifacts are ordinary targets under a key dir; a Spark
    parquet dir target passes :data:`PARQUET_DIR_ENTRIES`."""
    entries = tuple(entries)
    if _is_complete(target, entries):
        return target
    os.makedirs(root, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="building-", dir=root)
    try:
        write(stage)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        try:
            os.rename(stage, target)
            return target
        except OSError:
            if _is_complete(target, entries):
                return target
        # an incomplete target is in the way: move it aside, never serve it
        aside = tempfile.mkdtemp(prefix="building-", dir=root)
        try:
            os.rename(target, os.path.join(aside, "incomplete"))
        except FileNotFoundError:
            pass
        shutil.rmtree(aside, ignore_errors=True)
        try:
            os.rename(stage, target)
        except OSError:
            if not _is_complete(target, entries):
                raise
        return target
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read the store artifact (a Spark parquet output dir) at ``path``
    with the schema in the footer of its first part file: no
    schema-inference job. Raises ``ValueError`` when the footer carries
    no Spark schema (a store is always written by Spark)."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    part = os.path.join(path, min(n for n in os.listdir(path) if n.startswith("part-")))
    meta = pq.read_metadata(part).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        raise ValueError(f"{part}: no Spark schema in the parquet footer")
    return spark.read.schema(StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))).parquet(path)
