"""M6 connected components: chains, triangles, multiple components,
deterministic min-id labels, convergence on long chains within the
round cap. Every case runs through BOTH physical strategies — the
single-task union-find (small graphs) and the large/small-star loop
(forced by patching cc.SMALLGRAPH_THRESHOLD to 0) — which must be
bit-identical. label_clusters is the labeling step every modality
shares on top of it.
"""

from contextlib import contextmanager

import pytest

from dedup_spark.operators import cc
from dedup_spark.operators.cc import connected_components, label_clusters

UF, STAR = "union_find", "star_loop"
CONFIGS = [pytest.param(UF, id=UF), pytest.param(STAR, id=STAR)]


@contextmanager
def _strategy(cfg):
    with pytest.MonkeyPatch.context() as mp:
        if cfg == STAR:
            mp.setattr(cc, "SMALLGRAPH_THRESHOLD", 0)  # force the star loop
        yield mp


def _labels(spark, edges, cfg):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with _strategy(cfg):
        return {r["node"]: r["cluster_id"] for r in connected_components(df).collect()}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_single_pair(spark, cfg):
    assert _labels(spark, [(5, 9)], cfg) == {5: 5, 9: 5}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_triangle_and_chain(spark, cfg):
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)], cfg)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_long_chain_converges(spark, cfg):
    n = 64
    got = _labels(spark, [(i, i + 1) for i in range(n)], cfg)
    assert set(got.values()) == {0}
    assert len(got) == n + 1


@pytest.mark.parametrize("cfg", CONFIGS)
def test_duplicate_and_reversed_edges(spark, cfg):
    got = _labels(spark, [(2, 1), (1, 2), (2, 3), (3, 2)], cfg)
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_self_loops_ignored(spark, cfg):
    got = _labels(spark, [(1, 1), (1, 2)], cfg)
    assert got == {1: 1, 2: 1}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_star_already(spark, cfg):
    got = _labels(spark, [(1, 2), (1, 3), (1, 4)], cfg)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


@pytest.mark.parametrize("cfg", CONFIGS)
def test_merge_two_stars(spark, cfg):
    # two stars bridged by one edge must fuse into one component
    edges = [(1, 2), (1, 3), (10, 11), (10, 12), (3, 12)]
    got = _labels(spark, edges, cfg)
    assert set(got.values()) == {1}
    assert len(got) == 6


def test_paths_bit_identical_on_random_graph(spark):
    """Both strategies must produce identical assignments on a larger
    random-ish graph (many components, varied shapes)."""
    edges = []
    for base in range(0, 3000, 30):  # 100 components of 30 nodes
        shape = (base // 30) % 3
        ids = list(range(base, base + 30))
        if shape == 0:  # chain
            edges += [(a, b) for a, b in zip(ids, ids[1:])]
        elif shape == 1:  # star
            edges += [(ids[0], x) for x in ids[1:]]
        else:  # ring + chord
            edges += [(a, b) for a, b in zip(ids, ids[1:])] + [(ids[-1], ids[0]), (ids[5], ids[20])]
    uf = _labels(spark, edges, UF)
    star = _labels(spark, edges, STAR)
    assert uf == star
    assert len({v for v in uf.values()}) == 100


def test_star_loop_raises_at_round_cap(spark):
    """A graph still moving at the round cap must fail loudly, never
    return labels that split one component in two."""
    df = spark.createDataFrame([(i, i + 1) for i in range(64)], "id_a long, id_b long")
    with _strategy(STAR) as mp, pytest.raises(RuntimeError, match="did not converge"):
        mp.setattr(cc, "MAX_STAR_ROUNDS", 1)
        connected_components(df)


@pytest.mark.parametrize("cfg", CONFIGS)
def test_label_clusters_keeps_lone_reps_and_counts_members(spark, cfg):
    # rows: (id, rep) — 1/2 are exact dups under rep 1, 3 sits under rep
    # 3, 4 is a rep on no edge; the one edge joins reps 1 and 3
    rows = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4)], "id long, rep long"
    )
    edges = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    with _strategy(cfg):
        out = label_clusters(rows, edges, "id", "rep").collect()
    got = {r["id"]: (r["rep"], r["cluster_id"], r["cluster_size"]) for r in out}
    assert got == {1: (1, 1, 3), 2: (1, 1, 3), 3: (3, 1, 3), 4: (4, 4, 1)}
