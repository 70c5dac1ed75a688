"""Workload inputs for the dedup benchmark.

Every input is a pure function of ``(workload, seed)``: the corpus is
``synth_code_corpus``, whose content is a function of the row id and
the seed, identical at any partitioning. The pipeline sees only the
input_hint columns; the debug columns (``_id``, ``_orig``,
``_is_near``, ``_n_mut``) stay on the benchmark's side for the recall
check.

Sizes are small on purpose: one invocation sets up a Spark session,
warms it, and fits several measured pipeline runs into about a minute
on a 4-core host.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_spark.sources.loader import CODE_FILES_COLUMNS
from dedup_spark.sources.synth import synth_code_corpus

# generator partitioning; content does not depend on it
GEN_PARTITIONS = 8


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_rows: int           # rows handed to the pipeline
    seeded_share: float   # share of files in a seeded SignatureStore; 0: no store


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "fuzzy_bulk",
            "default synthetic mix (60% originals, 20% exact copies, 20% near-dups), "
            "cold, no store: every fuzzy layer carries real work",
            n_rows=3000,
            seeded_share=0.0,
        ),
        Workload(
            "incremental_rerun",
            "fuzzy_bulk mix against a SignatureStore seeded with 90% of the files: "
            "store reads beside one new generation of writes",
            n_rows=500,
            seeded_share=0.9,
        ),
    )
}


def raw_rows(spark: SparkSession, workload: Workload, seed: int) -> DataFrame:
    """Generated rows: the input_hint columns plus the debug columns."""
    return synth_code_corpus(
        spark, workload.n_rows, seed=seed, partitions=GEN_PARTITIONS, with_debug_cols=True
    )


def pipeline_input(raw: DataFrame) -> DataFrame:
    """What the pipeline receives: the input_hint columns only."""
    return raw.select(*CODE_FILES_COLUMNS)


def planted_pairs(raw: DataFrame, files: DataFrame) -> list[tuple[int, int]]:
    """(near-dup file_id, original file_id) for every planted near-dup
    whose 1-2 token mutations keep it above the verification threshold
    — ``bench_scaling.py``'s definition."""
    key = ["repo", "path", "commit"]
    ids = raw.select("_id", *key).join(files.select("file_id", *key), key).select(
        "_id", "file_id"
    )
    near = raw.filter("_is_near AND _n_mut BETWEEN 1 AND 2").select("_id", "_orig")
    rows = (
        near.join(ids, "_id")
        .select(F.col("file_id").alias("a"), "_orig")
        .join(ids.withColumnsRenamed({"_id": "_orig", "file_id": "b"}), "_orig")
        .select("a", "b")
        .collect()
    )
    return sorted((int(r["a"]), int(r["b"])) for r in rows)


def seeded_subset(files: DataFrame, seed: int, share: float) -> DataFrame:
    """The files a workload's store is seeded with: a seed-determined
    ``share`` of the rows, chosen by key hash."""
    buckets = 1000
    keep = int(round(share * buckets))
    return files.filter(
        F.pmod(F.xxhash64("file_id", F.lit(seed + 13)), F.lit(buckets)) < keep
    )
