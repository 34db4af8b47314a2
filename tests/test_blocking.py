"""D1-D7: minhash, LSH bands, salting, SNB, pair generation."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions.normalize import char_shingles, normalize
from nlp_entity_linking_spark.operators import blocking as B


def _records(spark, names):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "record_id long, surface string"
    )
    return df.withColumn("norm", normalize("surface")).withColumn(
        "shingles", char_shingles("norm")
    )


def test_minhash_deterministic_and_similarity_monotone(spark):
    """lsh_blocks keys are a pure function of the shingles: identical
    inputs get identical key sets, and a near-duplicate shares more band
    keys with the original than an unrelated string does."""
    r = _records(spark, ["acme corporation", "acme corporation", "acme corp", "zzz totally other"])
    keys = {}
    for row in B.lsh_blocks(r, "shingles", k=64, bands=32).collect():
        keys.setdefault(row.record_id, set()).add(row.block_key)
    assert keys[0] == keys[1] and len(keys[0]) == 32
    shared_close = len(keys[0] & keys[2])
    shared_far = len(keys[0] & keys[3])
    assert shared_close > shared_far


def test_lsh_blocks_recall_on_duplicates(spark):
    r = _records(spark, ["jane doe consulting", "jane doe consulting!", "jane d0e consulting", "completely different org"])
    # permissive banding (16x4, s-curve ~0.55) so the 1-char-typo pair is
    # caught deterministically in this 4-row unit fixture
    blocks = B.lsh_blocks(r, "shingles", k=64, bands=16)
    pairs = B.pairs_from_blocks(blocks)
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    assert (0, 1) in got and (0, 2) in got
    assert (0, 3) not in got and (1, 3) not in got and (2, 3) not in got


def test_salting_caps_blocks(spark):
    rows = [(i, "hot") for i in range(200)] + [(i + 200, f"cold{i}") for i in range(5)]
    blocks = spark.createDataFrame(rows, "record_id long, block_key string")
    salted = B.salt_blocks(blocks, cap=50)
    # salted keys are opaque 8-byte longs: recover the original key per
    # record to group shards by their source block
    joined = salted.join(
        blocks.withColumnRenamed("block_key", "orig_key"), "record_id"
    ).collect()
    assert all(isinstance(r.block_key, int) for r in joined)  # long keys
    shards_of: dict[str, set] = {}
    size_of: dict[int, int] = {}
    for r in joined:
        shards_of.setdefault(r.orig_key, set()).add(r.block_key)
        size_of[r.block_key] = size_of.get(r.block_key, 0) + 1
    assert len(shards_of["hot"]) == 4  # ceil(200/50)
    assert all(size_of[k] < 100 for k in shards_of["hot"])
    colds = {k: v for k, v in shards_of.items() if k != "hot"}
    assert len(colds) == 5
    for ks in colds.values():  # cold keys map 1:1, block intact
        assert len(ks) == 1 and size_of[next(iter(ks))] == 1


def test_pairs_from_blocks_oracle(spark):
    rows = [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "z")]
    blocks = spark.createDataFrame(rows, "record_id long, block_key string")
    got = {(p.id_a, p.id_b) for p in B.pairs_from_blocks(blocks).collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_snb_pairs_matches_naive_window(spark):
    names = [f"name {chr(97 + i % 23)}{i:03d}" for i in range(97)]
    r = _records(spark, names)
    w = 3
    got = {(p.id_a, p.id_b) for p in B.snb_pairs(r, "norm", window=w, n_partitions=5).collect()}
    # naive oracle: global sort, all pairs within w positions
    order = [row.record_id for row in r.orderBy("norm", "record_id").collect()]
    expect = set()
    for i, j in itertools.combinations(range(len(order)), 2):
        if j - i <= w:
            a, b = order[i], order[j]
            expect.add((min(a, b), max(a, b)))
    assert got == expect


def test_snb_global_rank_is_total_order(spark):
    r = _records(spark, [f"s{i:04d}" for i in range(200)])
    ranked = B.snb_global_rank(r, "norm", n_partitions=7).collect()
    ranks = sorted((row.rank, row.norm) for row in ranked)
    assert [x[0] for x in ranks] == list(range(200))
    assert [x[1] for x in ranks] == sorted(x[1] for x in ranks)


def test_snb_rank_deterministic_across_reexecution(spark):
    """Ranks (and therefore SNB candidate pairs) must be a pure function of
    the DATA — bit-identical when every cache is dropped and the plan
    physically re-executes. The retired repartitionByRange form failed
    this: RangePartitioner re-samples boundaries per execution (seeded by
    the fresh RDD id) while the driver-collected offsets stayed baked to
    the FIRST execution's partition ids, so a cleared/evicted cache
    silently corrupted ranks (measured 811,485 -> ~890k candidate pairs at
    100k records)."""
    r = _records(spark, [f"k{i % 977:03d}x{i:05d}" for i in range(4000)])
    ranked = B.snb_global_rank(r, "norm", n_partitions=13)
    first = sorted((row.record_id, row.rank) for row in ranked.collect())
    spark.catalog.clearCache()
    again = sorted((row.record_id, row.rank) for row in ranked.collect())
    spark.catalog.clearCache()
    rebuilt = sorted(
        (row.record_id, row.rank)
        for row in B.snb_global_rank(r, "norm", n_partitions=13).collect()
    )
    assert first == again == rebuilt
    assert [x[1] for x in sorted(first, key=lambda t: t[1])] == list(range(4000))


def test_snb_rank_hot_key_skew(spark):
    """A Zipfian key (60% of rows share one surface) must still rank
    correctly: tuple (key, record_id) boundaries split the duplicate run
    by record_id instead of funneling it into one straggler bucket."""
    vals = ["hotkey"] * 3000 + [f"x{i:04d}" for i in range(2000)]
    r = _records(spark, vals)
    ranked = B.snb_global_rank(r, "norm", n_partitions=11).collect()
    by_rank = sorted(ranked, key=lambda row: row.rank)
    assert [row.rank for row in by_rank] == list(range(5000))
    order = [(row.norm, row.record_id) for row in by_rank]
    assert order == sorted(order)


def test_phonetic_blocks_pair_spelling_variants(spark):
    from nlp_entity_linking_spark.operators import blocking as B

    records = spark.createDataFrame(
        [
            (1, "john smith"),
            (2, "jon smyth"),      # phonetic match of 1 on both tokens
            (3, "catherine myers"),
            (4, "katherine myers"),  # phonetic on token 2, C/K differ on token 1
            (5, "zebra piano"),
        ],
        "record_id long, norm string",
    )
    blocks = B.phonetic_blocks(records)
    pairs = {(r.id_a, r.id_b) for r in B.pairs_from_blocks(blocks).collect()}
    assert (1, 2) in pairs
    assert (3, 4) in pairs
    assert all(5 not in p for p in pairs)


def test_cross_shard_rep_pairs_bounded_and_connecting(spark):
    """Hot key of 200 records, cap 50 -> 4 shards: exactly S-1 = 3 chained
    representative pairs, each endpoint the min record_id of the shard
    apply_salt put it in, and salted_pairs (within-shard pairs + rep pairs)
    connects all 200 records into ONE component — salting's cross-shard
    recall loss is bridged for transitive clustering at bounded cost."""
    rows = [(i, "hot") for i in range(200)] + [(i + 500, f"cold{i}") for i in range(4)]
    blocks = spark.createDataFrame(rows, "record_id long, block_key string")
    hot = B.hot_keys(blocks, cap=50)
    reps = B.cross_shard_rep_pairs(blocks, hot).collect()
    assert len(reps) == 3  # chain, not C(4,2)=6 and not C(200,2)
    # apply_salt and the bridge shard through the same seed: every chain
    # endpoint is the smallest member of its apply_salt shard
    shard_of = {
        r.record_id: r.block_key
        for r in B.apply_salt(blocks, hot).collect()
        if r.record_id < 200
    }
    assert len(set(shard_of.values())) == 4
    shard_min: dict = {}
    for rid, key in shard_of.items():
        shard_min[key] = min(rid, shard_min.get(key, rid))
    ends = {i for p in reps for i in (p.id_a, p.id_b)}
    assert len(ends) == 4
    assert {shard_min[shard_of[i]] for i in ends} == ends
    pairs = B.salted_pairs(blocks, hot).collect()
    # union-find over within-shard and rep pairs
    parent = {i: i for i in range(200)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        if p.id_a < 500 and p.id_b < 500:
            parent[find(p.id_a)] = find(p.id_b)
    assert len({find(i) for i in range(200)}) == 1


def test_link_shards_restores_template_cluster(spark):
    """Template-heavy corpus: 150 records with IDENTICAL surface (one hot
    LSH block, cap 64 -> 3 shards). Salting alone (salt_blocks, no bridge)
    splits the entity into 3 clusters; the pipeline's candidate graph,
    which bridges the shards, is one component."""
    from nlp_entity_linking_spark.operators import cc as CC
    from nlp_entity_linking_spark.plans import pipeline as P

    recs = _records(spark, ["acme templated page"] * 150)

    def n_components(pairs):
        labels = CC.connected_components(
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        )
        return labels.select("cluster_id").distinct().count()

    cfg = P.PipelineConfig(use_snb=False)
    unbridged = B.pairs_from_blocks(
        B.salt_blocks(
            B.lsh_blocks(recs, "shingles", k=cfg.minhash_k, bands=cfg.bands),
            cfg.salt_cap,
        )
    )
    assert n_components(unbridged) == 3
    assert n_components(P.build_candidate_pairs(recs, cfg)) == 1
