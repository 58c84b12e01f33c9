"""Manifest (package.json) ingestion: schema-on-read JSON parsing,
projection, and dependency-edge extraction (SURVEY.md §2.1 S5-S6,
§2.2 P2-P5, §2.9 F8-F10).

The reference walks a file-per-repo lake, JSON.parses each manifest,
projects 16 fields (src/InsertDataHelper.ts:97-114), skips manifests
with no dependencies (src/GitHubMinerHelper.ts:125-127), and tolerates
corrupt files by logging and skipping (src/InsertDataHelper.ts:67-73).
Here the whole lake is one ``spark.read.json`` / ``from_json`` with an
explicit schema (never inference at scale), PERMISSIVE corrupt-record
capture, and set-at-a-time edge extraction via ``explode`` of the three
dependency maps — replacing the reference's per-row loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# the 16-field projection of parsePackageJson (reference
# src/InsertDataHelper.ts:97-114), as an explicit Spark schema
PACKAGE_JSON_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("maintainers", ArrayType(StringType())),
        StructField("author", StringType()),
        StructField(
            "repository",
            StructType(
                [StructField("type", StringType()), StructField("url", StringType())]
            ),
        ),
        StructField(
            "time",
            StructType(
                [StructField("modified", StringType()), StructField("created", StringType())]
            ),
        ),
        StructField("dependencies", MapType(StringType(), StringType())),
        StructField("devDependencies", MapType(StringType(), StringType())),
        StructField("peerDependencies", MapType(StringType(), StringType())),
        StructField("version", StringType()),
        StructField("homepage", StringType()),
        StructField("keywords", ArrayType(StringType())),
        StructField("engines", MapType(StringType(), StringType())),
    ]
)

REL_FOR_FIELD = {
    "dependencies": "DEPENDS_ON",
    "devDependencies": "DEV_DEPENDS_ON",
    "peerDependencies": "PEER_DEPENDS_ON",
}


def read_manifest_lake(spark, lake_dir: str) -> DataFrame:
    """Scan a file-per-repo JSON lake ``<lake>/<owner>/<repo>/package.json``
    (reference src/InsertDataHelper.ts:14-49 directory walk, S5) as ONE
    glob read: explicit schema, junk files (.DS_Store and friends, P6)
    excluded by pathGlobFilter, provenance kept via input_file_name.
    Returns (path, owner, repo, parsed...)."""
    raw = (
        spark.read.schema(PACKAGE_JSON_SCHEMA)
        .option("pathGlobFilter", "*.json")
        .option("recursiveFileLookup", "true")
        .json(lake_dir)
        .withColumn("path", F.input_file_name())
    )
    segs = F.split(F.col("path"), "/")
    return raw.withColumn("owner", F.element_at(segs, -3)).withColumn(
        "repo", F.element_at(segs, -2)
    )


def parse_manifests(raw: DataFrame, json_col: str = "raw_json") -> DataFrame:
    """Parse raw manifest JSON strings with the explicit schema.

    Corrupt rows surface with the original string preserved in
    ``corrupt_record`` (and a null projection) — the PERMISSIVE analog
    of the reference's log-and-skip (src/InsertDataHelper.ts:67-73)."""
    schema_with_corrupt = StructType(
        list(PACKAGE_JSON_SCHEMA.fields) + [StructField("_corrupt_record", StringType())]
    )
    parsed = raw.withColumn(
        "parsed",
        F.from_json(
            F.col(json_col),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ),
    )
    return parsed.withColumn("corrupt_record", F.col("parsed")["_corrupt_record"])


def project_manifest(parsed: DataFrame) -> DataFrame:
    """Flatten the parsed struct into the reference's 16-column shape
    (nested paths extracted with dot access, F9)."""
    p = F.col("parsed")
    return parsed.filter(p.isNotNull() & p["_corrupt_record"].isNull()).select(
        p["name"].alias("name"),
        p["description"].alias("description"),
        p["maintainers"].alias("maintainers"),
        p["author"].alias("author"),
        p["repository"].alias("repository"),
        p["time"]["modified"].alias("modified"),
        p["time"]["created"].alias("created"),
        p["dependencies"].alias("dependencies"),
        p["devDependencies"].alias("devDependencies"),
        p["peerDependencies"].alias("peerDependencies"),
        p["version"].alias("version"),
        p["homepage"].alias("homepage"),
        p["keywords"].alias("keywords"),
        p["engines"].alias("engines"),
    )


def with_dependency_totals(manifests: DataFrame) -> DataFrame:
    """Computed count columns (reference src/Neo4jClient.ts:246-248:
    dependenciesTotal = Object.keys(deps).length)."""
    def total(colname: str):
        return F.when(F.col(colname).isNull(), F.lit(0)).otherwise(
            F.size(F.map_keys(F.col(colname)))
        )

    return (
        manifests.withColumn("dependenciesTotal", total("dependencies"))
        .withColumn("devDependenciesTotal", total("devDependencies"))
        .withColumn("peerDependenciesTotal", total("peerDependencies"))
    )


def filter_has_dependencies(manifests: DataFrame) -> DataFrame:
    """Reject manifests with no deps AND no devDeps (reference
    src/GitHubMinerHelper.ts:125-127)."""
    nonempty = lambda c: F.col(c).isNotNull() & (F.size(F.map_keys(F.col(c))) > 0)  # noqa: E731
    return manifests.filter(nonempty("dependencies") | nonempty("devDependencies"))


def extract_dependency_edges(manifests: DataFrame, src_col: str = "name") -> DataFrame:
    """Explode the three dependency maps into a single heterogeneous
    edge set (src, dst, rel_type, version) — the set-at-a-time
    replacement for the reference's three per-row insert loops
    (src/Neo4jClient.ts:140-231). One generator pass reads each
    manifest row once, not once per map."""
    dep_maps = F.array(
        *(F.struct(F.lit(rel).alias("rel_type"), F.col(field).alias("deps"))
          for field, rel in REL_FOR_FIELD.items())
    )
    return (
        manifests.select(F.col(src_col).alias("src"), F.inline(dep_maps))
        .select("src", "rel_type", F.explode("deps").alias("dst", "version"))
        .select("src", "dst", "rel_type", "version")
    )
