"""F-4 checkpoint/resume fixture: run 1 commits signatures for batch A;
run 2 over A∪B must reuse A's signatures (cache-hit count asserted via
metrics) and produce clusters identical to a cold run; one batch-B row
re-uses a batch-A key with changed content and must be recomputed
(FileCacheEntry::is_valid semantics,
/root/reference/src/file_cache.rs:43-66,307-332).
"""

import re

import pytest
from pyspark.sql import functions as F

from corpus import corpus_df, generate_corpus
from dedup_spark.config import RECALL_CONFIG
from dedup_spark.plans.pipeline import DedupPipeline


@pytest.fixture()
def cache_dir(tmp_path):
    return str(tmp_path / "sigcache")


def _assignments(df):
    return sorted(
        (r["repo"], r["path"], r["commit"], r["cluster_id"])
        for r in df.select("repo", "path", "commit", "cluster_id").collect()
    )


def test_resume_reuses_and_matches_cold_run(spark, cache_dir):
    corpus = generate_corpus(seed=7, n_unique=30, n_exact_sets=4, n_neardup_bases=6)
    full = corpus_df(spark, corpus).cache()
    half = full.limit(60).cache()

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    pipe = DedupPipeline(spark, cfg)

    # run 1: batch A only
    pipe.run(half).count()
    m1 = pipe.store.metrics().orderBy("ts").collect()
    assert m1[-1]["n_reused"] == 0
    n_a = m1[-1]["n_rows"]
    assert n_a > 0

    # run 2: full corpus — A's signatures must be cache hits
    warm = pipe.run(full)
    warm_assign = _assignments(warm)
    m2 = pipe.store.metrics().orderBy("ts").collect()
    assert m2[-1]["n_reused"] == half.count() - _dropped(spark, half)

    # cold run equivalence
    cold = DedupPipeline(spark, RECALL_CONFIG).run(full)
    assert warm_assign == _assignments(cold)


def _dropped(spark, df):
    """rows the F1-F3 filters remove (hidden/empty) — not cacheable."""
    from dedup_spark.config import RECALL_CONFIG
    from dedup_spark.sources.loader import prepare_code_files

    return df.count() - prepare_code_files(df, RECALL_CONFIG).count()


def test_invalidation_on_content_change(spark, cache_dir):
    rows = [
        ("r1", "a/one.py", "c1", "python", "alpha beta gamma delta epsilon zeta " * 10),
        ("r1", "a/two.py", "c1", "python", "one two three four five six seven " * 10),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    pipe = DedupPipeline(spark, cfg)
    pipe.run(spark.createDataFrame(rows, schema)).count()

    # same key, new content → must recompute (stored sha mismatch)
    changed = [(rows[0][0], rows[0][1], rows[0][2], "python", "totally new body entirely " * 12), rows[1]]
    pipe2 = DedupPipeline(spark, cfg)
    pipe2.run(spark.createDataFrame(changed, schema)).count()
    m = pipe2.store.metrics().orderBy("ts").collect()
    assert m[-1]["n_reused"] == 1  # only the unchanged row hit

    # and the stored signature now reflects the new content
    cached = pipe2.store.load()
    row = cached.filter(F.col("path") == "a/one.py").first()
    import hashlib

    assert row["hash"] == hashlib.sha256(changed[0][4].encode()).hexdigest()


def test_second_save_appends_only_new_generation(spark, cache_dir):
    """O(batch) saves: a second save must not rewrite existing data
    files — it appends one new generation directory; upserts resolve
    latest-wins at read time; compaction folds back to one gen."""
    import os

    from dedup_spark.checkpoint import SignatureStore

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    store = SignatureStore(spark, cache_dir, cfg)
    schema = (
        "repo string, path string, commit string, hash string, "
        "minhash array<int>, simhash long, n_shingles int"
    )
    a = spark.createDataFrame(
        [("r", "a.py", "c", "H_A1", [1, 2], 10, 2), ("r", "b.py", "c", "H_B", [3], 11, 1)],
        schema,
    )
    store.save(a)
    assert store.generations() == [0]
    gen0 = f"{cache_dir}/data/gen=0"
    files_before = {
        (p, os.path.getmtime(os.path.join(root, p)))
        for root, _d, fs in os.walk(gen0)
        for p in fs
    }

    # second save: one changed key (a.py new hash) + one new key
    b = spark.createDataFrame(
        [("r", "a.py", "c", "H_A2", [9, 9], 12, 2), ("r", "c.py", "c", "H_C", [5], 13, 1)],
        schema,
    )
    store.save(b)
    assert store.generations() == [0, 1]
    files_after = {
        (p, os.path.getmtime(os.path.join(root, p)))
        for root, _d, fs in os.walk(gen0)
        for p in fs
    }
    assert files_before == files_after  # gen=0 untouched

    resolved = {r["path"]: r["hash"] for r in store.load().collect()}
    assert resolved == {"a.py": "H_A2", "b.py": "H_B", "c.py": "H_C"}

    store.compact()
    # compaction publishes ONE new generation (max+1) then deletes the
    # old ones — never a moment without a data dir (ADVICE r2 fix)
    assert store.generations() == [2]
    resolved2 = {r["path"]: r["hash"] for r in store.load().collect()}
    assert resolved2 == resolved


def test_compact_interrupted_cleanup_still_correct(spark, cache_dir, monkeypatch):
    """A crash between the compacted-gen publish and old-gen cleanup
    must leave a CORRECT store: the new generation shadows every old
    key latest-wins, and the next compaction removes the leftovers."""
    from dedup_spark.checkpoint import SignatureStore
    from dedup_spark.config import RECALL_CONFIG

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    store = SignatureStore(spark, cache_dir, cfg)
    schema = (
        "repo string, path string, commit string, hash string, "
        "minhash array<int>, simhash long, n_shingles int"
    )
    store.save(spark.createDataFrame([("r", "a.py", "c", "H_A1", [1], 1, 1)], schema))
    store.save(spark.createDataFrame([("r", "a.py", "c", "H_A2", [2], 2, 1)], schema))

    real_delete = store.fs.delete
    calls = {"n": 0}

    def crashy_delete(path):  # crash before ANY old gen is removed
        calls["n"] += 1
        raise KeyboardInterrupt("simulated crash mid-cleanup")

    monkeypatch.setattr(store.fs, "delete", crashy_delete)
    try:
        store.compact()
    except KeyboardInterrupt:
        pass
    assert calls["n"] == 1
    monkeypatch.setattr(store.fs, "delete", real_delete)
    # old gens 0,1 survive alongside the published gen=2 — reads stay
    # correct (latest wins), and recovery is just the next compact()
    assert store.generations() == [0, 1, 2]
    assert {r["hash"] for r in store.load().collect()} == {"H_A2"}
    store.compact()
    assert store.generations() == [3]
    assert {r["hash"] for r in store.load().collect()} == {"H_A2"}


def test_auto_compaction_threshold(spark, cache_dir):
    from dedup_spark.checkpoint import SignatureStore

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    store = SignatureStore(spark, cache_dir, cfg, compact_every=3)
    schema = (
        "repo string, path string, commit string, hash string, "
        "minhash array<int>, simhash long, n_shingles int"
    )
    for i in range(4):
        store.save(
            spark.createDataFrame([("r", f"f{i}.py", "c", f"H{i}", [i], i, 1)], schema)
        )
    # 3rd save hit the threshold and compacted; 4th appended on top
    assert len(store.generations()) <= 2
    assert store.load().count() == 4


def test_atomic_swap_leaves_single_data_dir(spark, cache_dir, tmp_path):
    rows = [("r", "p.py", "c", "python", "content words here " * 8)]
    schema = "repo string, path string, commit string, lang string, content string"
    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    pipe = DedupPipeline(spark, cfg)
    pipe.run(spark.createDataFrame(rows, schema)).count()
    pipe.run(spark.createDataFrame(rows, schema)).count()
    import os

    entries = [e for e in os.listdir(cache_dir) if not e.startswith("_")]
    assert entries == ["data"]


SIG_SCHEMA = (
    "repo string, path string, commit string, hash string, "
    "minhash array<int>, simhash long, n_shingles int"
)


def test_store_on_file_scheme_path(spark, tmp_path):
    """All store fs ops go through the Hadoop FileSystem API now —
    a ``file://``-scheme path (which os.listdir/os.rename cannot
    touch) must work end-to-end: save, generations, load, probe,
    compact, metrics. [VERDICT r2 #4]"""
    from dedup_spark.checkpoint import SignatureStore

    path = f"file://{tmp_path}/store"
    store = SignatureStore(spark, path, RECALL_CONFIG, compact_every=99)
    store.save(spark.createDataFrame([("r", "a.py", "c", "HA", [1], 1, 1)], SIG_SCHEMA))
    store.save(spark.createDataFrame([("r", "b.py", "c", "HB", [2], 2, 1)], SIG_SCHEMA))
    assert store.generations() == [0, 1]
    assert {r["hash"] for r in store.load().collect()} == {"HA", "HB"}
    probe = {r["hash"]: r["first_path"] for r in store.probe_hashes(["HA", "HX"]).collect()}
    assert probe == {"HA": "a.py"}
    store.compact()
    assert store.generations() == [2]
    assert store.load().count() == 2
    assert store.metrics().count() == 2
    # empty-save staging cleanup also goes through the fs API
    store.save(spark.createDataFrame([], SIG_SCHEMA))
    assert store.generations() == [2]


def test_probe_hashes_pruned_and_flat(spark, cache_dir):
    """The duplicate probe must NOT scan the store: its parquet read
    carries the hb hash-bucket partition filter (dir-level pruning)
    plus the hash IN data filter, so groupBy input rows stay flat —
    equal to the matches — while the store grows over 8 generations.
    [VERDICT r2 #3]"""
    from pyspark.sql import functions as SF

    from dedup_spark.checkpoint import SignatureStore

    store = SignatureStore(spark, cache_dir, RECALL_CONFIG, compact_every=99)
    probe_set = ["H_0_0", "H_0_7", "H_missing"]  # 2 land in gen 0, 1 never
    scanned = []
    for g in range(8):
        rows = [(f"r{g}", f"f{g}_{i}.py", "c", f"H_{g}_{i}", [i], i, 1) for i in range(20)]
        store.save(spark.createDataFrame(rows, SIG_SCHEMA))
        got = {r["hash"]: r["first_path"] for r in store.probe_hashes(probe_set).collect()}
        assert got == {"H_0_0": "f0_0.py", "H_0_7": "f0_7.py"}
        # rows entering the probe's aggregation = the scan after both
        # pushed filters (the exact frame probe_hashes builds)
        hbs = sorted({store._hb_of(h) for h in probe_set})
        pruned = (
            spark.read.parquet(store._data_dir)
            .filter(SF.col("hb").isin(hbs))
            .filter(SF.col("hash").isin(probe_set))
        )
        scanned.append(pruned.count())
        if g == 7:  # dir-level pruning is visible in the physical plan
            pruned.collect()
            plan = pruned._jdf.queryExecution().executedPlan().toString()
            part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
            assert "hb" in part_filters
    assert scanned == [2] * 8  # flat while the store grew 20 -> 160 rows

    # the ACTUAL probe plan prunes too — the pinned read schema
    # (store_read_schema) must not defeat Hive partition pruning
    real = store.probe_hashes(probe_set)
    real.collect()
    plan = real._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "hb" in part_filters


def test_probe_hashes_ever_seen_semantics(spark, cache_dir):
    """A hash superseded by an in-place key rewrite (same key, new
    content in a later generation) is STILL a duplicate source for the
    probe (ever-seen), even though load()'s latest-per-key view no
    longer exposes it; first holder = earliest generation."""
    from dedup_spark.checkpoint import SignatureStore

    store = SignatureStore(spark, cache_dir, RECALL_CONFIG, compact_every=99)
    store.save(spark.createDataFrame([("r", "a.py", "c", "H_OLD", [1], 1, 1)], SIG_SCHEMA))
    store.save(spark.createDataFrame([("r", "a.py", "c", "H_NEW", [2], 2, 1)], SIG_SCHEMA))
    store.save(spark.createDataFrame([("r", "b.py", "c", "H_OLD", [3], 3, 1)], SIG_SCHEMA))
    assert {r["hash"] for r in store.load().collect()} == {"H_NEW", "H_OLD"}
    got = {r["hash"]: r["first_path"] for r in store.probe_hashes(["H_OLD", "H_NEW"]).collect()}
    assert got == {"H_OLD": "a.py", "H_NEW": "a.py"}  # earliest gen wins
    # fallback path (probe list too big to inline) agrees
    got_join = {
        r["hash"]: r["first_path"]
        for r in store.probe_hashes(["H_OLD", "H_NEW"], max_inline=1).collect()
    }
    assert got_join == got


def test_probe_and_load_invariant_across_compaction(spark, cache_dir):
    """compact() must not change EITHER read contract: load() stays
    latest-write-per-key, and probe_hashes stays ever-seen with the
    earliest holder — including a hash superseded by an in-place key
    rewrite (the row a latest-per-key compaction would delete) and
    first-holder attribution (which needs the original generation
    number, carried by gen0, not the rewritten partition dir)."""
    from dedup_spark.checkpoint import SignatureStore

    store = SignatureStore(spark, cache_dir, RECALL_CONFIG, compact_every=99)
    # gen 0: H_OLD first held by a.py; gen 1: a.py rewritten in place;
    # gen 2: H_OLD reappears under b.py (later holder) + new H_C
    store.save(spark.createDataFrame([("r", "a.py", "c", "H_OLD", [1], 1, 1)], SIG_SCHEMA))
    store.save(spark.createDataFrame([("r", "a.py", "c", "H_NEW", [2], 2, 1)], SIG_SCHEMA))
    store.save(
        spark.createDataFrame(
            [("r", "b.py", "c", "H_OLD", [3], 3, 1), ("r", "c.py", "c", "H_C", [4], 4, 1)],
            SIG_SCHEMA,
        )
    )

    def snapshot():
        loaded = {r["path"]: r["hash"] for r in store.load().collect()}
        probed = {
            r["hash"]: r["first_path"]
            for r in store.probe_hashes(["H_OLD", "H_NEW", "H_C", "H_MISS"]).collect()
        }
        return loaded, probed

    before = snapshot()
    assert before[0] == {"a.py": "H_NEW", "b.py": "H_OLD", "c.py": "H_C"}
    assert before[1] == {"H_OLD": "a.py", "H_NEW": "a.py", "H_C": "c.py"}

    store.compact()
    assert store.generations() == [3]
    assert snapshot() == before

    # another save + compaction cycle: contracts still invariant, and
    # the store stays one row per (key, hash) — history does not regrow
    store.save(spark.createDataFrame([("r", "d.py", "c", "H_D", [5], 5, 1)], SIG_SCHEMA))
    store.compact()
    loaded2, probed2 = snapshot()
    assert loaded2 == {**before[0], "d.py": "H_D"}
    assert probed2 == before[1]
    assert spark.read.parquet(store._data_dir).count() == 5


def test_store_model_random_ops(spark, cache_dir):
    """Randomized model check: a seeded sequence of saves (new keys,
    in-place rewrites, hash re-appearances under other keys)
    interleaved with compactions must always agree with a driver-side
    dict model on BOTH read contracts — load() = latest write per key,
    probe_hashes = earliest (gen, repo, path) holder per hash ever
    seen. Exercises the generation numbering across compaction
    publishes (gen = max+1) and the (key, hash) history retention."""
    import random

    from dedup_spark.checkpoint import SignatureStore

    rng = random.Random(0xC0FFEE)
    store = SignatureStore(
        spark, cache_dir, RECALL_CONFIG, compact_every=99, n_hash_buckets=8
    )
    latest: dict = {}   # key -> hash
    first: dict = {}    # hash -> (gen, repo, path), min wins
    gen = 0             # mirrors the store's next_gen
    n_gens = 0
    keys = [(f"r{i % 3}", f"f{i}.py", "c") for i in range(8)]
    hashes = [f"H{i}" for i in range(6)]
    for step in range(12):
        batch = {k: rng.choice(hashes) for k in rng.sample(keys, rng.randint(1, 3))}
        rows = [(k[0], k[1], k[2], h, [1], 1, 1) for k, h in batch.items()]
        store.save(spark.createDataFrame(rows, SIG_SCHEMA))
        for k, h in batch.items():
            latest[k] = h
            cand = (gen, k[0], k[1])
            if h not in first or cand < first[h]:
                first[h] = cand
        gen += 1
        n_gens += 1
        if step % 4 == 3 and n_gens > 1:
            store.compact()
            gen += 1  # compact publishes gen = max+1
            n_gens = 1
        got_latest = {
            (r["repo"], r["path"], r["commit"]): r["hash"] for r in store.load().collect()
        }
        assert got_latest == latest, f"load() diverged from model at step {step}"
        probed = {
            r["hash"]: (r["first_repo"], r["first_path"])
            for r in store.probe_hashes(hashes).collect()
        }
        assert probed == {h: (r, p) for h, (_g, r, p) in first.items()}, (
            f"probe_hashes diverged from model at step {step}"
        )


def test_long_hash_algorithm_store_roundtrip(spark, cache_dir):
    """crc32/xxhash64 hashes are LONGs; the store's pinned read schema
    must follow the algorithm (regression: a store written by
    ``--fast-mode`` xxhash64 + ``--cache-location`` threw a parquet
    type mismatch on every subsequent open)."""
    from dedup_spark.checkpoint import SignatureStore

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir, algorithm="xxhash64")
    store = SignatureStore(spark, cache_dir, cfg)
    long_schema = SIG_SCHEMA.replace("hash string", "hash long")
    store.save(
        spark.createDataFrame(
            [("r", "a.py", "c", -42, [1], 1, 1), ("r", "b.py", "c", 7, [2], 2, 1)],
            long_schema,
        )
    )
    store.save(spark.createDataFrame([("r", "a.py", "c", 99, [9], 9, 1)], long_schema))
    got = {r["path"]: r["hash"] for r in store.load().collect()}
    assert got == {"a.py": 99, "b.py": 7}
    # driver-side hb bucketing must agree with the written partitions
    # for negative longs too (decimal-string cast on both sides)
    probed = {
        r["hash"]: r["first_path"]
        for r in store.probe_hashes([-42, 7, 99, 123456]).collect()
    }
    assert probed == {-42: "a.py", 7: "b.py", 99: "a.py"}
    store.compact()
    probed2 = {
        r["hash"]: r["first_path"] for r in store.probe_hashes([-42, 7, 99]).collect()
    }
    assert probed2 == probed


def test_save_writes_one_partition_level(spark, cache_dir):
    """The store is partitioned ``gen=<g>/hb=<h>/`` and nothing deeper:
    every parquet file of a save and of a compaction sits directly in an
    hb dir two levels under data/."""
    import os

    from dedup_spark.checkpoint import SignatureStore

    store = SignatureStore(spark, cache_dir, RECALL_CONFIG, compact_every=99)

    def assert_one_level():
        data = f"{cache_dir}/data"
        leaves = {
            os.path.relpath(root, data)
            for root, _d, fs in os.walk(data)
            if any(f.endswith(".parquet") for f in fs)
        }
        assert leaves
        for leaf in leaves:
            parts = leaf.split(os.sep)
            assert len(parts) == 2, leaf
            assert parts[0].startswith("gen=") and parts[1].startswith("hb="), leaf

    rows = [("r", f"f{i}.py", "c", f"H{i}", [i], i, 1) for i in range(12)]
    store.save(spark.createDataFrame(rows, SIG_SCHEMA))
    store.save(spark.createDataFrame([("r", "g.py", "c", "HG", [1], 1, 1)], SIG_SCHEMA))
    assert store.generations() == [0, 1]
    assert_one_level()
    store.compact()
    assert store.generations() == [2]
    assert_one_level()


def test_two_level_store_raises_on_open(spark, cache_dir):
    """A store whose generation still carries the old ``bucket=`` level
    (``gen=0/bucket=*/hb=*``) is rejected with a ValueError naming the
    store, before Spark's partition discovery sees the mixed depths."""
    from dedup_spark.checkpoint import SignatureStore

    store = SignatureStore(spark, cache_dir, RECALL_CONFIG)
    (
        spark.createDataFrame([("r", "a.py", "c", "H_A", [1], 1, 1)], SIG_SCHEMA)
        .withColumn("gen0", F.lit(0))
        .withColumn("genl", F.lit(0))
        .withColumn("bucket", F.lit(3))
        .withColumn("hb", store._hb())
        .write.partitionBy("bucket", "hb")
        .parquet(f"{cache_dir}/data/gen=0")
    )
    new_gen = spark.createDataFrame(
        [("r", "b.py", "c", "H_B", [2], 2, 1)], SIG_SCHEMA
    ).withColumn("gen0", F.lit(1)).withColumn("genl", F.lit(1))
    store._writer(new_gen).parquet(f"{cache_dir}/data/gen=1")

    for call in (
        lambda s: s.load(),
        lambda s: s.probe_hashes(["H_A"]),
        lambda s: s.save(spark.createDataFrame([], SIG_SCHEMA)),
    ):
        with pytest.raises(ValueError, match=re.escape(cache_dir) + ".*delete it"):
            call(SignatureStore(spark, cache_dir, RECALL_CONFIG))


def test_store_algorithm_mismatch_raises(spark, cache_dir):
    """Stores are per-algorithm (reference: file_hashes_{algo}.cache) —
    reopening with a different algorithm raises a clear error instead
    of failing deep inside a parquet type mismatch."""
    from dedup_spark.checkpoint import SignatureStore

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    store = SignatureStore(spark, cache_dir, cfg)
    store.save(spark.createDataFrame([("r", "a.py", "c", "HA", [1], 1, 1)], SIG_SCHEMA))
    other = SignatureStore(
        spark, cache_dir, RECALL_CONFIG.with_(cache_path=cache_dir, algorithm="xxhash64")
    )
    with pytest.raises(ValueError, match="per-algorithm"):
        other.load()


def test_probe_hashes_ignores_null_hashes(spark, cache_dir):
    """A null hash (null-content row upstream) must not crash the
    driver-side crc32 bucket enumeration — it is dropped from the
    probe; an all-null probe returns None like an empty store."""
    from dedup_spark.checkpoint import SignatureStore

    cfg = RECALL_CONFIG.with_(cache_path=cache_dir)
    store = SignatureStore(spark, cache_dir, cfg)
    store.save(spark.createDataFrame([("r", "a.py", "c", "HA", [1], 1, 1)], SIG_SCHEMA))
    probed = {r["hash"] for r in store.probe_hashes(["HA", None]).collect()}
    assert probed == {"HA"}
    assert store.probe_hashes([None]) is None


def test_upsert_same_key_changed_content_across_compaction_boundaries(spark, cache_dir):
    """Adversarial upsert at compaction boundaries: the SAME
    (repo, path, commit) key is re-ingested with CHANGED content across
    three generations with a compaction in between each rewrite. At
    every step `with_cached_signatures` must serve exactly the newest
    signature — a hit only for the current hash, a recompute (miss,
    nulled signature columns) for any stale or novel hash — and the
    superseded rows must never resurface through load()."""
    from dedup_spark.checkpoint import SignatureStore

    store = SignatureStore(spark, cache_dir, RECALL_CONFIG, compact_every=99)
    key = ("r", "mod.py", "c1")

    def ingest(h, mh, sh):
        store.save(spark.createDataFrame([(*key, h, [mh], sh, 1)], SIG_SCHEMA))

    def probe(h):
        files = spark.createDataFrame([(*key, h)], "repo string, path string, commit string, hash string")
        row = store.with_cached_signatures(files).collect()[0]
        return row["cache_hit"], row["simhash"]

    for step, (h, sh) in enumerate([("H1", 11), ("H2", 22), ("H3", 33)]):
        ingest(h, step + 1, sh)
        # current hash hits with THIS generation's signature
        hit, sig = probe(h)
        assert hit and sig == sh, (step, h)
        # every superseded hash must miss (stale row never resurfaces)
        for old_h, old_sh in [("H1", 11), ("H2", 22), ("H3", 33)][:step]:
            hit, sig = probe(old_h)
            assert not hit and sig is None, (step, old_h)
        # load() serves exactly one row for the key: the newest
        rows = [r for r in store.load().collect()
                if (r["repo"], r["path"], r["commit"]) == key]
        assert len(rows) == 1 and rows[0]["hash"] == h and rows[0]["simhash"] == sh
        store.compact()  # boundary BETWEEN rewrites, not just at the end
        assert len(store.generations()) == 1
        # compaction changes neither answer
        hit, sig = probe(h)
        assert hit and sig == sh, ("post-compact", step, h)

    # after the final compaction the store holds one row per (key, hash)
    # — the two superseded hashes survive only for probe lineage, and a
    # fourth rewrite on top of the compacted store still upserts cleanly
    assert spark.read.parquet(store._data_dir).count() == 3
    ingest("H4", 4, 44)
    hit, sig = probe("H4")
    assert hit and sig == 44
    assert not probe("H3")[0]
