#!/usr/bin/env python3
"""Benchmark of the dedup engine, one workload per invocation.

    python3 perfbench/run.py --workload fuzzy_bulk --seed 1 --seconds 12 --trace 0

Run from the repository root. One driver process, ``local[4]``, a fixed
shuffle-partition count. The workload's input is generated from
``--seed``; set-up (session start, input generation, one untimed warm
run, and for ``incremental_rerun`` the store seeding and one untimed
run against it, each once) is timed as ``setup_s``. Then pipeline runs
repeat, one after another, for ``--seconds`` and at least ``MIN_RUNS``
times; every run's clusters and keep-plan are checked.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also makes
one traced run (spans around each layer's public call, see layers.py)
and reports the per-layer metrics instead; the spans are written to
``.perfbench/traces/``.

Human-readable lines (one per run, then a summary) precede the last
stdout line, which is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
when every check held, 1 when one failed, 2 when the engine is missing.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

if __name__ == "__main__" and not os.path.isfile(
    os.path.join(ROOT, "dedup_spark", "plans", "pipeline.py")
):
    print(f"perfbench: no dedup_spark package under {ROOT}", file=sys.stderr)
    sys.exit(2)
sys.path.insert(1, ROOT)

from pyspark import SparkContext  # noqa: E402

from dedup_spark.checkpoint import SignatureStore  # noqa: E402
from dedup_spark.config import DedupConfig  # noqa: E402
from dedup_spark.plans.pipeline import DedupPipeline  # noqa: E402
from dedup_spark.session import get_spark  # noqa: E402
from dedup_spark.sources.loader import prepare_code_files  # noqa: E402

import host  # noqa: E402
import workloads  # noqa: E402
from layers import (  # noqa: E402
    PER_LAYER_UNITS, layer_metrics, traced_run, tree_bytes_files, untraced_run,
)
from tracing import StageReader, Tracer  # noqa: E402

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
RECALL_GATE = 0.99
MIN_RUNS = 3            # measured runs even when --seconds has passed; median of 3
DEADLINE_S = 140.0      # no run starts after this much process time

END_TO_END_UNITS = {
    "files_per_s": "files/s",
    "wall_s": "s",
    "setup_s": "s",
    "dup_pair_recall": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def start_spark(workdir: str):
    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir}",
            "spark.hadoop.hadoop.tmp.dir": workdir,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until every process this
    one started has ended."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while host.descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def assignment(clusters) -> dict[int, int]:
    return {int(r[0]): int(r[1]) for r in clusters.select("file_id", "cluster_id").collect()}


def recall(assign: dict[int, int], pairs: list[tuple[int, int]]) -> float:
    if not pairs:
        return 0.0
    hit = sum(1 for a, b in pairs if a in assign and assign.get(a) == assign.get(b))
    return hit / len(pairs)


class Bench:
    def __init__(self, spark, workload, seed: int, workdir: str):
        self.spark = spark
        self.w = workload
        self.seed = seed
        self.workdir = workdir
        self.cfg = DedupConfig()
        self.sampler = host.RssSampler()
        self.setup: dict[str, float] = {}

    # ---- set-up ----------------------------------------------------------
    def make_input(self):
        raw = workloads.raw_rows(self.spark, self.w, self.seed).localCheckpoint()
        files = prepare_code_files(workloads.pipeline_input(raw), self.cfg).localCheckpoint()
        return raw, files

    def prepare(self, session_s: float) -> None:
        t0 = time.perf_counter()
        self.raw, self.files = self.make_input()
        input_s = time.perf_counter() - t0
        self.n_files = self.files.count()

        t0 = time.perf_counter()
        clusters, _plan = untraced_run(DedupPipeline(self.spark, self.cfg), self.files)
        warm_s = time.perf_counter() - t0
        # the cold run doubles as the reference assignment every later
        # run (incremental ones included) must reproduce
        self.reference = assignment(clusters)

        seed_s = warm_store_s = 0.0
        self.seed_dir = None
        if self.w.seeded_share:
            t0 = time.perf_counter()
            self.seed_dir = os.path.join(self.workdir, "store-seed")
            subset = workloads.seeded_subset(self.files, self.seed, self.w.seeded_share)
            sigs = DedupPipeline(self.spark, self.cfg).signatures(subset)
            SignatureStore(self.spark, self.seed_dir, self.cfg).save(sigs)
            seed_s = time.perf_counter() - t0
            # the store-read path warms over its first runs as the cold
            # path does over the warm run: one untimed run on a copy
            t0 = time.perf_counter()
            store_dir = self._store_copy()
            untraced_run(self._pipeline(store_dir), self.files)
            shutil.rmtree(store_dir)
            warm_store_s = time.perf_counter() - t0
        self.setup = {
            "session_s": session_s,
            "input_s": input_s,
            "warm_run_s": warm_s,
            "store_seed_s": seed_s,
            "warm_store_run_s": warm_store_s,
        }
        self.pairs = workloads.planted_pairs(self.raw, self.files)

    @property
    def setup_s(self) -> float:
        return sum(self.setup.values())

    # ---- one measured run ---------------------------------------------
    def _store_copy(self) -> str | None:
        if self.seed_dir is None:
            return None
        dst = os.path.join(self.workdir, f"store-run-{uuid.uuid4().hex[:8]}")
        shutil.copytree(self.seed_dir, dst, copy_function=os.link)
        return dst

    def _pipeline(self, store_dir: str | None):
        cfg = dataclasses.replace(self.cfg, cache_path=store_dir) if store_dir else self.cfg
        return DedupPipeline(self.spark, cfg)

    def check(self, clusters, plan, store_dir: str | None) -> tuple[list[str], dict]:
        """Correctness of one run's outputs; returns (failures, facts)."""
        problems = []
        assign = assignment(clusters)
        if assign != self.reference:
            problems.append("cluster assignment differs from the reference cold run")
        n_clusters = len(set(assign.values()))
        acts = dict(plan.groupBy("action").count().collect())
        kept, deleted = acts.get("keep", 0), acts.get("delete", 0)
        if kept != n_clusters or kept + deleted != self.n_files:
            problems.append(f"plan keeps {kept} and deletes {deleted} of {self.n_files} files "
                            f"in {n_clusters} clusters")
        r = recall(assign, self.pairs)
        if r < RECALL_GATE:
            problems.append(f"dup_pair_recall {r:.4f} < {RECALL_GATE}")
        facts = {"n_clusters": n_clusters, "recall": r}
        if store_dir is not None:
            covered = SignatureStore(self.spark, store_dir, self.cfg).load().count()
            if covered != self.n_files:
                problems.append(f"store covers {covered} of {self.n_files} files")
            size, n_parquet = tree_bytes_files(store_dir)
            facts.update(store_bytes=size, store_parquet_files=n_parquet,
                         store_bytes_per_file=size / max(covered, 1))
        return problems, facts

    def release(self) -> None:
        gc.collect()
        self.spark._jvm.System.gc()  # lets the context cleaner drop old blocks

    def measure(self, seconds: float, t_process: float) -> list[dict]:
        """Untraced runs, one after another, for ``seconds``."""
        runs = []
        t_begin = time.perf_counter()
        while not runs or (
            (len(runs) < MIN_RUNS or time.perf_counter() - t_begin < seconds)
            and time.perf_counter() - t_process < DEADLINE_S
        ):
            store_dir = self._store_copy()
            rec: dict = {"run": len(runs), "nproc": host.nproc()}
            cpu0 = host.cpu_times()
            self.sampler.start()
            try:
                t0 = time.perf_counter()
                clusters, plan = untraced_run(self._pipeline(store_dir), self.files)
                rec["wall_s"] = time.perf_counter() - t0
                rec["peak_rss_mb"] = self.sampler.stop() / 2**20
                rec["steal_pct"] = host.steal_pct(cpu0, host.cpu_times())
                problems, facts = self.check(clusters, plan, store_dir)
                rec.update(facts)
            except Exception:
                self.sampler.stop()
                problems = ["raised: " + traceback.format_exc(limit=3)]
            finally:
                if store_dir is not None:
                    shutil.rmtree(store_dir, ignore_errors=True)
            rec["ok"] = not problems
            if problems:
                rec["problems"] = problems
            log(rec)
            runs.append(rec)
            clusters = plan = None
            self.release()
        return runs

    def traced(self, untraced_wall: float) -> tuple[dict, list[str]]:
        store_dir = self._store_copy()
        tracer = Tracer(self.spark.sparkContext, uuid.uuid4().hex[:12])
        reader = StageReader(self.spark.sparkContext)
        try:
            clusters, plan, counts = traced_run(
                self._pipeline(store_dir), workloads.pipeline_input(self.raw), tracer
            )
            problems, _facts = self.check(clusters, plan, store_dir)
        finally:
            if store_dir is not None:
                shutil.rmtree(store_dir, ignore_errors=True)
        metrics = layer_metrics(tracer, reader, counts, untraced_wall)
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{self.w.name}-seed{self.seed}.jsonl"))
        return metrics, problems


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    t_process = time.perf_counter()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]

    workdir = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    # keep every temporary file of Python, the JVM and Spark in the checkout
    os.environ.update(TMPDIR=workdir, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
                      PYTHONDONTWRITEBYTECODE="1")
    tempfile.tempdir = workdir

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(workdir)
        bench = Bench(spark, workload, args.seed, workdir)
        bench.prepare(time.perf_counter() - t0)
        log({"setup": bench.setup, "n_files": bench.n_files, "planted_pairs": len(bench.pairs),
             "workload": workload.name, "seed": args.seed, "master": MASTER,
             "shuffle_partitions": SHUFFLE_PARTITIONS})
        runs = bench.measure(args.seconds, t_process)
        ok_runs = [r for r in runs if r["ok"]]
        if not ok_runs:
            print("perfbench: no measured run passed its checks", file=sys.stderr)
            return 1
        wall = statistics.median(r["wall_s"] for r in ok_runs)
        problems: list[str] = []
        if args.trace:
            metrics, problems = bench.traced(wall)
            units = PER_LAYER_UNITS
        else:
            metrics = {
                "files_per_s": bench.n_files / wall,
                "wall_s": wall,
                "setup_s": bench.setup_s,
                "dup_pair_recall": statistics.median(r["recall"] for r in ok_runs),
                "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in ok_runs),
            }
            units = END_TO_END_UNITS
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    attempted = len(runs) + args.trace
    failed = len(runs) - len(ok_runs) + (1 if problems else 0)
    summary = {
        "workload": workload.name,
        "wall_samples": len(ok_runs),
        "failed_run_ratio": {"value": failed / attempted, "unit": "ratio"},
        **{k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    if workload.seeded_share and not args.trace:
        summary["store_bytes_per_file"] = {
            "value": statistics.median(r["store_bytes_per_file"] for r in ok_runs),
            "unit": "bytes/file",
        }
    if problems:
        summary["trace_problems"] = problems
    log({"summary": summary})
    correct = failed == 0
    log({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
