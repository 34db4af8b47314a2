"""J1-J7: large-star/small-star connected components vs union-find oracle."""

from __future__ import annotations

import random

from nlp_entity_linking_spark.operators.cc import (
    attach_singletons,
    connected_components,
    driver_union_find,
)


def _uf_oracle(edges):
    nodes = {x for e in edges for x in e}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for _ in range(3):
        n = rng.randint(10, 300)
        nodes = list(range(-n, n, 2))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(rng.randint(1, 2 * n))
        ]
        edges = [(u, v) for u, v in edges if u != v] or [(0, 2)]
        df = spark.createDataFrame(edges, "u long, v long")
        for thresh in (None, 100_000):  # distributed loop AND fast path
            got = {
                r.record_id: r.cluster_id
                for r in connected_components(
                    df, small_graph_threshold=thresh
                ).collect()
            }
            assert got == _uf_oracle(edges)


def test_cc_chain_converges_logarithmically(spark):
    chain = [(i, i + 1) for i in range(500)]
    df = spark.createDataFrame(chain, "u long, v long")
    # small_graph_threshold=None forces the DISTRIBUTED star loop — the
    # log-round convergence claim is about that loop, and the driver fast
    # path would otherwise make this test vacuous
    labels = connected_components(
        df, max_iter=12, small_graph_threshold=None
    )  # would fail if O(diameter)
    rows = labels.collect()
    assert len(rows) == 501
    assert {r.cluster_id for r in rows} == {0}


def test_attach_singletons(spark):
    labels = spark.createDataFrame([(1, 0), (0, 0)], "record_id long, cluster_id long")
    records = spark.createDataFrame([(0,), (1,), (9,)], "record_id long")
    got = {
        r.record_id: r.cluster_id
        for r in attach_singletons(labels, records).collect()
    }
    assert got == {0: 0, 1: 0, 9: 9}


def test_small_graph_fast_path_equals_distributed(spark):
    """The driver union-find short-circuit must be row-for-row identical to
    the star loop on adversarial shapes (long chain = worst case for
    naive labeling; disconnected cliques; negative ids; duplicate and
    reversed edges)."""
    cases = [
        [(i, i + 1) for i in range(200)],                      # chain
        [(u, v) for u in range(5) for v in range(u + 1, 5)]    # clique
        + [(u, v) for u in range(10, 14) for v in range(u + 1, 14)],
        [(-3, 7), (7, -3), (7, 9), (-10, -3), (50, 60)],       # dup/reversed
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, "u long, v long")
        fast = {
            r.record_id: r.cluster_id
            for r in connected_components(df).collect()
        }
        dist = {
            r.record_id: r.cluster_id
            for r in connected_components(
                df, small_graph_threshold=None
            ).collect()
        }
        assert fast == dist == _uf_oracle(edges)


def test_cc_output_is_partition(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    df = spark.createDataFrame(edges, "u long, v long")
    rows = connected_components(df).collect()
    seen = {r.record_id for r in rows}
    assert len(seen) == len(rows)  # each record labeled exactly once
    label = {r.record_id: r.cluster_id for r in rows}
    for u, v in edges:  # every edge intra-cluster
        assert label[u] == label[v]


def test_cc_releases_superseded_checkpoints(spark):
    """Live localCheckpoint storage must stay bounded (<= 2 iterations'
    worth) while the loop runs — the lazy GC/ContextCleaner path does NOT
    reclaim superseded iterations fast enough (a 10^8-edge run accumulated
    ~13 iterations of blocks and was kernel-OOM-killed; see
    cc._release_ckpt_blocks). Counts persistent RDDs via the same JVM map
    the release uses, from inside the on_iteration hook (i.e. while the
    loop is hot, not after it finishes)."""
    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keySet().toArray())

    live_counts = []

    def hook(i, df):
        now = set(jsc.getPersistentRDDs().keySet().toArray())
        live_counts.append(len(now - before))
        return df

    chain = [(i, i + 1) for i in range(2000)]  # needs ~11 iterations
    df = spark.createDataFrame(chain, "u long, v long")
    # small_graph_threshold=None: the checkpoints live on the distributed
    # loop, which a 2,000-edge graph would otherwise skip
    labels = connected_components(
        df, max_iter=15, on_iteration=hook, small_graph_threshold=None
    )
    assert labels.count() == 2001
    assert len(live_counts) >= 8  # non-vacuous: the loop actually iterated
    # hook fires after nxt's ckpt but before cur's release, so the ceiling
    # while hot is: cur + nxt + (initial canon ckpt on the 1st iteration)
    assert max(live_counts) <= 3, live_counts
    # after convergence only the final iteration's checkpoint survives
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert len(after - before) <= 1, sorted(after - before)


def test_driver_union_find_labels_every_threshold_in_one_pass():
    """One pass over score-ranked rows == a separate union-find oracle per
    threshold, on random scored graphs whose scores hit the thresholds
    exactly and leave the top threshold's graph empty."""
    rng = random.Random(11)
    thresholds = (0.5, 0.65, 0.8, 0.9)
    for _ in range(5):
        nodes = list(range(-40, 40))
        scores = (0.3, 0.5, 0.6, 0.65, 0.7, 0.8, 0.85)
        rows = [
            (rng.choice(nodes), rng.choice(nodes), rng.choice(scores))
            for _ in range(rng.randint(1, 120))
        ]
        rows = [r for r in rows if r[0] != r[1]]
        got = driver_union_find(rows, thresholds)
        for t, labels in zip(thresholds, got):
            assert labels == _uf_oracle([(u, v) for u, v, s in rows if s >= t])
        assert got[-1] == {}
