"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root: the generators and the traced run call
into ``dedup_spark`` from there.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark():
    from dedup_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_names_use_only_allowed_characters():
    import layers
    import run

    bench = _benchmark()
    declared = [w["name"] for w in bench["workloads"]] + [
        m["name"] for m in bench["end_to_end"] + bench["per_layer"]
    ]
    assert len(set(declared)) == len(declared)
    emitted = list(workloads.WORKLOADS) + list(run.END_TO_END_UNITS) + list(layers.PER_LAYER_UNITS)
    bad = [n for n in declared + emitted if not NAME.match(n)]
    assert not bad, bad


def test_benchmark_json_matches_the_code():
    import layers
    import run

    bench = _benchmark()
    assert bench["workloads"] == [
        {"name": w.name, "why": w.why} for w in workloads.WORKLOADS.values()
    ]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER_UNITS


@pytest.mark.parametrize("name", list(workloads.WORKLOADS))
def test_fixed_seed_gives_identical_rows(spark, name):
    w = workloads.WORKLOADS[name]

    def rows(seed):
        return sorted(tuple(r) for r in workloads.raw_rows(spark, w, seed).collect())

    first = rows(7)
    assert len(first) > 0
    assert rows(7) == first
    assert rows(8) != first


def test_traced_run_matches_untraced_and_emits_every_metric(spark):
    import dataclasses

    from dedup_spark.config import DedupConfig
    from dedup_spark.plans.pipeline import DedupPipeline
    from dedup_spark.sources.loader import prepare_code_files

    import layers
    from tracing import StageReader, Tracer

    w = dataclasses.replace(workloads.WORKLOADS["fuzzy_bulk"], n_rows=300)
    raw = workloads.pipeline_input(workloads.raw_rows(spark, w, 3)).localCheckpoint()
    pipe = DedupPipeline(spark, DedupConfig())
    clusters, _plan = layers.untraced_run(pipe, prepare_code_files(raw, pipe.config))
    want = sorted(tuple(r) for r in clusters.select("file_id", "cluster_id").collect())

    tracer = Tracer(spark.sparkContext, "test")
    t_clusters, _t_plan, counts = layers.traced_run(pipe, raw, tracer)
    got = sorted(tuple(r) for r in t_clusters.select("file_id", "cluster_id").collect())
    assert got == want

    metrics = layers.layer_metrics(tracer, StageReader(spark.sparkContext), counts, 1.0)
    assert set(metrics) == set(layers.PER_LAYER_UNITS)
    assert metrics["sources.rows_out"] == 300
    assert metrics["exact.busy_s"] > 0 and metrics["candidates.shuffle_write_bytes"] > 0
    # layer self times, count spans and the uncovered remainder add up
    # to the traced wall time
    covered = sum(metrics[f"{layer}.s"] for layer in layers.LAYERS)
    total = covered + metrics["trace.counts_s"] + metrics["trace.uncovered_s"]
    assert total == pytest.approx(metrics["trace.wall_s"], rel=1e-9)
