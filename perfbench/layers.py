"""The pipeline run, untraced and traced.

``untraced_run`` is the measured end-to-end path: ``DedupPipeline.run``
from the prepared input to materialised clusters, then the keep-plan.

``traced_run`` composes the same run from each layer's public entry
point, step for step as ``DedupPipeline.run`` does, and materialises
at every layer boundary so each span holds its layer's work. The
benchmark checks that both give the same cluster assignment, which
catches this composition drifting from ``run``. Counts are taken in
spans of their own (``counts``), outside the layer spans.

Layer → public call:
- sources: ``prepare_code_files``
- exact: ``with_content_hash``, and the fused hash window of ``run``
- signatures: ``DedupPipeline.signatures``
- checkpoint: ``SignatureStore.with_cached_signatures`` (a child of
  signatures) and ``SignatureStore.save``
- candidates: ``DedupPipeline.candidates``
- verify: ``DedupPipeline.verify``
- cc: ``DedupPipeline.cluster``
- select: ``DedupPipeline.plan``
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dedup_spark.checkpoint import lineage_cut
from dedup_spark.operators.exact import with_content_hash
from dedup_spark.plans.pipeline import DedupPipeline
from dedup_spark.sources.loader import prepare_code_files

from tracing import StageReader, Tracer

LAYERS = ("sources", "exact", "signatures", "checkpoint", "candidates", "verify", "cc", "select")

# every layer: self time, then its stages' executor run time, shuffle
# bytes and failed tasks (tracing.STAGE_FIELDS)
STAGE_UNITS = {
    "s": "s", "busy_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "failed_tasks": "count",
}
COUNT_UNITS = {
    "sources.rows_in": "count",
    "sources.rows_out": "count",
    "exact.distinct_contents": "count",
    "exact.collapse_ratio": "ratio",          # rows / distinct contents
    "signatures.rows_signed": "count",
    "signatures.useful_ratio": "ratio",       # distinct contents signed / rows signed
    "checkpoint.hit_ratio": "ratio",
    "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.store_bytes_per_file": "bytes/file",
    "candidates.raw_pairs": "count",
    "candidates.pairs": "count",
    "candidates.distinct_ratio": "ratio",
    "candidates.oversize_buckets": "count",
    "candidates.dropped_members": "count",
    "verify.pairs_in": "count",
    "verify.pairs_passed": "count",
    "verify.pass_ratio": "ratio",
    "cc.edges": "count",
    "cc.clusters": "count",
    "cc.max_cluster_size": "count",
    "select.kept": "count",
    "select.deleted": "count",
}
TRACE_UNITS = {
    "trace.wall_s": "s",            # the traced run, counts included
    "trace.untraced_wall_s": "s",   # median untraced run of the same process
    "trace.overhead_s": "s",        # wall_s - untraced_wall_s
    "trace.counts_s": "s",          # spent in the count spans
    "trace.uncovered_s": "s",       # covered by no layer or count span
    "trace.missing_stages": "count",  # stages the status store had evicted
}
PER_LAYER_UNITS = {
    **{f"{layer}.{k}": u for layer in LAYERS for k, u in STAGE_UNITS.items()},
    **COUNT_UNITS,
    **TRACE_UNITS,
}


def untraced_run(pipe: DedupPipeline, files: DataFrame) -> tuple[DataFrame, DataFrame]:
    clusters = pipe.run(files).localCheckpoint()
    plan = pipe.plan(clusters).localCheckpoint()
    return clusters, plan


def tree_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = n = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(root, name))
            n += name.endswith(".parquet")
    return size, n


def traced_run(
    pipe: DedupPipeline, raw: DataFrame, tracer: Tracer
) -> tuple[DataFrame, DataFrame, dict[str, float]]:
    """Returns (clusters, plan, per-layer counts)."""
    cfg = pipe.config
    store = pipe.store
    c: dict[str, float] = {}

    def cut(df: DataFrame) -> DataFrame:
        return lineage_cut(df, cfg)

    if store is not None:
        probe = store.with_cached_signatures

        def traced_probe(files: DataFrame, hash_col: str = "hash") -> DataFrame:
            with tracer.span("checkpoint"):
                return cut(probe(files, hash_col))

        store.with_cached_signatures = traced_probe

    with tracer.span("run"):
        with tracer.span("sources"):
            files = cut(prepare_code_files(raw, cfg))
        with tracer.span("counts"):
            c["sources.rows_in"] = raw.count()
            c["sources.rows_out"] = files.count()

        with tracer.span("exact"):
            hashed = cut(with_content_hash(files, cfg))

        with tracer.span("signatures"):
            sigs = cut(pipe.signatures(hashed))
        with tracer.span("counts"):
            signed = sigs.filter(~F.col("cache_hit")) if store is not None else sigs
            row = signed.agg(
                F.count(F.lit(1)).alias("n"), F.countDistinct("hash").alias("d")
            ).first()
            c["signatures.rows_signed"] = row["n"]
            c["signatures.useful_ratio"] = row["d"] / row["n"] if row["n"] else 0.0

        c.update({"checkpoint.hit_ratio": 0.0, "checkpoint.files_written": 0,
                  "checkpoint.bytes_written": 0, "checkpoint.store_bytes_per_file": 0.0})
        if store is not None:
            bytes0, files0 = tree_bytes_files(store.path)
            with tracer.span("checkpoint"):
                n_reused = sigs.filter(F.col("cache_hit")).count()
                store.save(sigs.filter(~F.col("cache_hit")), n_reused=n_reused)
            bytes1, files1 = tree_bytes_files(store.path)
            sigs = sigs.drop("cache_hit")
            n = c["sources.rows_out"]
            c["checkpoint.hit_ratio"] = n_reused / n if n else 0.0
            c["checkpoint.files_written"] = files1 - files0
            c["checkpoint.bytes_written"] = bytes1 - bytes0
            c["checkpoint.store_bytes_per_file"] = bytes1 / n if n else 0.0

        # run()'s fused hash window: representative rank + exact_rep
        with tracer.span("exact"):
            w = Window.partitionBy("hash").orderBy("file_id")
            sigs = cut(
                sigs.drop("content")
                .withColumn("_rn", F.row_number().over(w))
                .withColumn("exact_rep", F.first("file_id").over(w))
            )
            reps = cut(sigs.filter(F.col("_rn") == 1).drop("_rn", "exact_rep"))
        with tracer.span("counts"):
            distinct = reps.count()
            c["exact.distinct_contents"] = distinct
            c["exact.collapse_ratio"] = c["sources.rows_out"] / distinct if distinct else 0.0

        with tracer.span("candidates"):
            pairs = cut(pipe.candidates(reps))
        with tracer.span("counts"):
            raw_pairs = pipe.candidates(reps, dedupe=False).count()
            n_pairs = pairs.count()
            skew = pipe.skew_metrics(reps).agg(
                F.count(F.lit(1)).alias("b"), F.coalesce(F.sum("n"), F.lit(0)).alias("m")
            ).first()
            c["candidates.raw_pairs"] = raw_pairs
            c["candidates.pairs"] = n_pairs
            c["candidates.distinct_ratio"] = n_pairs / raw_pairs if raw_pairs else 0.0
            c["candidates.oversize_buckets"] = skew["b"]
            c["candidates.dropped_members"] = skew["m"]

        with tracer.span("verify"):
            verified = cut(pipe.verify(pairs, reps, content_df=files.select("file_id", "content")))
        with tracer.span("counts"):
            passed = verified.count()
            c["verify.pairs_in"] = n_pairs
            c["verify.pairs_passed"] = passed
            c["verify.pass_ratio"] = passed / n_pairs if n_pairs else 0.0

        with tracer.span("cc"):
            clusters = cut(pipe.cluster(sigs.drop("_rn", "minhash", "simhash", "n_shingles"), verified))
        with tracer.span("counts"):
            row = clusters.agg(
                F.countDistinct("cluster_id").alias("k"), F.max("cluster_size").alias("m")
            ).first()
            c["cc.edges"] = passed
            c["cc.clusters"] = row["k"]
            c["cc.max_cluster_size"] = row["m"]

        with tracer.span("select"):
            plan = cut(pipe.plan(clusters))
        with tracer.span("counts"):
            acts = dict(plan.groupBy("action").count().collect())
            c["select.kept"] = acts.get("keep", 0)
            c["select.deleted"] = acts.get("delete", 0)

    if store is not None:
        del store.with_cached_signatures
    return clusters, plan, c


def layer_metrics(
    tracer: Tracer, reader: StageReader, counts: dict[str, float], untraced_wall: float
) -> dict[str, float]:
    """Every per-layer metric of one traced run. The self times of all
    spans (layers, counts, and the root's own remainder) sum to the
    traced wall time."""
    per = tracer.by_name(reader)
    zero = dict.fromkeys(STAGE_UNITS, 0.0)
    out = {
        f"{layer}.{k}": v for layer in LAYERS for k, v in per.get(layer, zero).items()
    }
    out.update(counts)
    root = tracer.spans[0]
    wall = root.end - root.start
    out["trace.wall_s"] = wall
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.overhead_s"] = wall - untraced_wall
    out["trace.counts_s"] = per["counts"]["s"]
    out["trace.uncovered_s"] = per["run"]["s"]
    out["trace.missing_stages"] = reader.missing_stages
    return out
