"""ST1-ST6: Structured Streaming slice — parquet-source micro-batches driven
synchronously (availableNow / processAllAvailable) with memory sinks."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nlp_entity_linking_spark.sources.catalog import Catalog
from nlp_entity_linking_spark.sources.synthetic import gen_pages
from nlp_entity_linking_spark.streaming import stream_ops as ST


def _write_pages(spark, tmp_path, n=200):
    pages, gold = gen_pages(spark, n)
    path = str(tmp_path / "pages_in")
    pages.write.mode("overwrite").parquet(path)
    return path, pages


def test_windowed_event_counts_stream(spark, tmp_path):
    src = str(tmp_path / "events_in")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(src)
    events = ST.read_events_stream(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = ST.windowed_event_counts(events, "1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wincounts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT sum(n) AS s FROM wincounts").collect()[0].s
    # append mode emits only watermark-closed windows; the tail stays open
    batch = spark.read.parquet(src)
    total = batch.count()
    assert got is not None and 0 < got <= total
    # cross-check closed windows against the batch oracle
    batch_win = (
        batch.groupBy(F.window(F.col("ts").cast("timestamp"), "1 hour"), "event_type")
        .count()
        .count()
    )
    n_windows = spark.sql("SELECT count(*) AS c FROM wincounts").collect()[0].c
    assert 0 < n_windows <= batch_win


def test_streaming_dedup_pages(spark, tmp_path):
    path, pages = _write_pages(spark, tmp_path, 150)
    stream = ST.read_pages_stream(spark, path)
    dedup = ST.dedup_pages_stream(stream)
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_pages")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    urls = spark.sql("SELECT url FROM dedup_pages").collect()
    assert len(urls) == len({r.url for r in urls})  # one row per url


def test_session_windows_stream(spark, tmp_path):
    src = str(tmp_path / "events_in2")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.mode("overwrite").parquet(src)
    events = ST.read_events_stream(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    q = (
        ST.session_windows(events)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert rows and all(r.n_events >= 1 for r in rows)


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream range join agrees with its batch equivalent."""
    src = str(tmp_path / "events_ss")
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    batch.write.mode("overwrite").parquet(src)
    ev = ST.read_events_stream(spark, src).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    joined = ST.join_event_streams(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "error"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) AS n FROM ss_join").collect()[0].n
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    be = batch.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    want = be.join(
        bp,
        F.expr("p_user = user_id AND p_ts BETWEEN e_ts - INTERVAL 30 minutes AND e_ts"),
    ).count()
    assert got == want > 0, (got, want)


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-key state survives across micro-batches —
    final per-user totals equal the batch aggregate, and users spanning
    multiple batches show update_idx >= 2."""
    src = str(tmp_path / "events_state")
    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    # 16 files + maxFilesPerTrigger=8 -> 2 micro-batches
    batch.repartition(16).write.mode("overwrite").parquet(src)
    events = ST.read_events_stream(spark, src, max_files_per_trigger=8).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    q = (
        ST.stateful_running_totals(events)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql(
        """SELECT user_id, n_events, total_value, update_idx FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY update_idx DESC) AS rn
             FROM running_totals) WHERE rn = 1"""
    )
    got = {r.user_id: (r.n_events, r.total_value, r.update_idx) for r in out.collect()}
    want = {
        r.user_id: (r.n, r.s)
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for u, (n, total, _upd) in got.items():
        assert n == want[u][0]
        assert abs(total - want[u][1]) < 1e-6
    # cross-batch state: at least one user appears in both micro-batches
    assert any(upd >= 2 for _, _, upd in got.values())


def test_incremental_er_resumes_across_restarts(spark, tmp_path):
    """ST6 resume: after a completed run, new files arrive and a NEW query
    starts from the same checkpoint — it processes only the new wave
    (epoch tables append; committed state survives the restart)."""
    pages, _ = gen_pages(spark, 200)
    path = str(tmp_path / "pages_in")
    w1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    w2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
    w1.repartition(4).write.mode("append").parquet(path)
    out = str(tmp_path / "cat")
    q = ST.incremental_er(spark, ST.read_pages_stream(spark, path), out, "s2")
    q.awaitTermination(300)
    cat = Catalog(out, "s2")
    n1 = ST.read_er_records(spark, out, "s2").count()
    assert n1 == w1.select("url").distinct().count()
    epochs1 = cat.committed_meta("epoch")["epochs"]

    w2.repartition(4).write.mode("append").parquet(path)
    q2 = ST.incremental_er(spark, ST.read_pages_stream(spark, path), out, "s2")
    q2.awaitTermination(300)
    assert ST.read_er_records(spark, out, "s2").count() == 200
    epochs2 = cat.committed_meta("epoch")["epochs"]
    assert len(epochs2) > len(epochs1) and epochs2[: len(epochs1)] == epochs1
    assert cat.read(spark, "clusters").count() == 200


def test_read_er_records_empty_run_raises(spark, tmp_path):
    """A run with no committed epochs must fail loudly, not IndexError."""
    import pytest

    with pytest.raises(ValueError, match="no committed epochs"):
        ST.read_er_records(spark, str(tmp_path / "cat"), "never_ran")


def test_read_state_rejects_old_string_block_keys(spark, tmp_path):
    """Resume-over-old-state guard: blocks state committed by the pre-long
    key version (string block_key) must fail loudly at read time, not
    degrade into a silently-empty new-vs-old join."""
    import pytest

    cat = Catalog(str(tmp_path / "cat"), "old_state")
    old = spark.createDataFrame(
        [(1, "band=0|sig=abc")], "record_id long, block_key string"
    )
    cat.write(old, "blocks_epoch_0")
    with pytest.raises(TypeError, match="block_key.*string.*LONG"):
        ST._read_state(spark, cat, "blocks", [0])
    # current-version long keys pass through untouched
    new = spark.createDataFrame(
        [(1, 12345)], "record_id long, block_key long"
    )
    cat.write(new, "blocks_epoch_1")
    assert ST._read_state(spark, cat, "blocks", [1]).count() == 1
    """new x old expansion on a HOT committed key is salted into
    within-shard joins, not dropped: every new record meets the old rows in
    its shard (bounded ~cap per key), so cross-wave recall on template-heavy
    keys survives incremental blocking."""
    cap = 16
    old = spark.createDataFrame(
        [(i, "hot") for i in range(100)] + [(i, "cold") for i in range(100, 104)],
        "record_id long, block_key string",
    )
    new = spark.createDataFrame(
        [(i, "hot") for i in range(1000, 1010)] + [(1010, "cold")],
        "record_id long, block_key string",
    )
    pairs = ST.incremental_candidate_pairs(new, old, cap).collect()
    # block keys are opaque salted longs now — classify pairs by their
    # record ids instead (cold members: old 100-103 + new 1010)
    cold_ids = set(range(100, 104)) | {1010}
    hot_pairs = [p for p in pairs if p.id_a not in cold_ids and p.id_b not in cold_ids]
    cold_pairs = [p for p in pairs if p.id_a in cold_ids and p.id_b in cold_ids]
    # cold key: every new-old pair survives untouched
    assert len(cold_pairs) == 4
    # hot key: present (the old exclusion produced ZERO), bounded well below
    # the full 10x100 + C(10,2) expansion, and consistent with shard math
    assert len(hot_pairs) > 0
    n_shards = -(-100 // cap)  # ceil(old_size / cap) = 7
    assert len(hot_pairs) < 10 * 100 + 45
    # shard ids for every endpoint in ONE job (the first cut ran a
    # one-row Spark job per pair — 60s of scheduler overhead for a
    # dictionary lookup)
    ids = sorted({p.id_a for p in hot_pairs} | {p.id_b for p in hot_pairs})
    sh_map = {
        r.record_id: r.s
        for r in spark.createDataFrame([(i,) for i in ids], "record_id long")
        .select(
            "record_id",
            F.pmod(F.xxhash64("record_id", F.lit(42)), F.lit(n_shards)).alias("s"),
        )
        .collect()
    }
    for p in hot_pairs:
        if p.id_a >= 1000 or p.id_b < 1000:
            continue  # new-new pairs ride the batch-local salt instead
        # new x old only within a shard
        assert sh_map[p.id_a] == sh_map[p.id_b], p


def test_incremental_link_shards_bridge(spark):
    """The INCREMENTAL path runs the batch bridge too: committed hot keys
    touched by the batch gain rep-chain pairs across their shards (bounded
    at shards-1 per hot key), so a template entity salted into S shards
    can still merge transitively cross-wave."""
    cap = 16
    old = spark.createDataFrame(
        [(i, "hot") for i in range(100)],
        "record_id long, block_key string",
    )
    new = spark.createDataFrame(
        [(i, "hot") for i in range(1000, 1005)],
        "record_id long, block_key string",
    )

    def old_x_old(new_blocks):
        # every other pair touches a new record; new ids exceed every old
        # id, so each shard's min-id rep is old and the old x old pairs are
        # exactly the bridge's pairs
        return {
            (p.id_a, p.id_b)
            for p in ST.incremental_candidate_pairs(new_blocks, old, cap).collect()
            if p.id_b < 1000
        }

    extra = old_x_old(new)
    n_shards = -(-100 // cap)  # committed sizing: ceil(100/16) = 7
    assert 1 <= len(extra) <= n_shards - 1
    # bridge endpoints are per-shard min-record reps of the merged rows,
    # chained across ADJACENT shards — so each extra pair must cross shards
    ids = sorted({i for p in extra for i in p})
    sh = {
        r.record_id: r.s
        for r in spark.createDataFrame(
            [(i,) for i in ids], "record_id long"
        ).select(
            "record_id",
            F.pmod(F.xxhash64("record_id", F.lit(42)), F.lit(n_shards)).alias("s"),
        ).collect()
    }
    for a, b in extra:
        assert sh[a] != sh[b], (a, b)
    # an untouched committed hot key gets NO bridge work: a batch touching
    # only a cold key yields no old x old pair
    new_cold = spark.createDataFrame(
        [(2000, "cold"), (2001, "cold")], "record_id long, block_key string"
    )
    assert old_x_old(new_cold) == set()


def test_incremental_er_compaction(spark, tmp_path):
    """compact() folds N epochs into one generation table set: the visible
    epoch list collapses to [c1], records/clusters are preserved verbatim,
    the stream continues appending on top of the compacted state across
    many more batches, and the final clusters stay byte-equal to the batch
    pipeline (pair-local model, use_snb=False)."""
    from nlp_entity_linking_spark.functions import similarity as S
    from nlp_entity_linking_spark.functions.similarity import ScoreModel
    from nlp_entity_linking_spark.plans import pipeline as P

    pages, _ = gen_pages(spark, 200)
    path = str(tmp_path / "pages_in")
    out = str(tmp_path / "cat")
    cfg = P.PipelineConfig(
        use_snb=False, model=ScoreModel(weights=(2.0, 8.0, 0.0), bias=-6.0)
    )
    w1 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    w2 = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)

    # wave 1: 24 files / maxFilesPerTrigger=8 -> 3 micro-batches
    w1.repartition(24).write.mode("append").parquet(path)
    q = ST.incremental_er(
        spark, ST.read_pages_stream(spark, path), out,
        "sc", checkpoint_dir=str(tmp_path / "ck2"), cfg=cfg,
    )
    q.awaitTermination(300)
    cat = Catalog(out, "sc")
    epochs_before = cat.committed_meta("epoch")["epochs"]
    assert len(epochs_before) >= 3, epochs_before
    rec_before = {r.record_id for r in ST.read_er_records(spark, out, "sc").collect()}
    clu_before = {
        (r.record_id, r.cluster_id) for r in cat.read(spark, "clusters").collect()
    }

    info = ST.compact(spark, out, "sc")
    assert info["epoch"] == "c1" and info["n_epochs_folded"] == len(epochs_before)
    meta = cat.committed_meta("epoch")
    assert meta["epochs"] == ["c1"] and meta["n_compactions"] == 1
    assert {
        r.record_id for r in ST.read_er_records(spark, out, "sc").collect()
    } == rec_before
    assert {
        (r.record_id, r.cluster_id) for r in cat.read(spark, "clusters").collect()
    } == clu_before
    # compacting a single epoch is a no-op (no c2 table churn)
    assert ST.compact(spark, out, "sc")["n_epochs_folded"] == 0

    # wave 2 on top of compacted state: 56 files -> 7 more micro-batches
    # (>= 10 batches across the run), state reader stays 1 + 7 branches
    w2.repartition(56).write.mode("append").parquet(path)
    q2 = ST.incremental_er(
        spark, ST.read_pages_stream(spark, path), out,
        "sc", checkpoint_dir=str(tmp_path / "ck2"), cfg=cfg,
    )
    q2.awaitTermination(600)
    meta2 = cat.committed_meta("epoch")
    assert meta2["epochs"][0] == "c1" and len(meta2["epochs"]) >= 8
    assert meta2["n_compactions"] == 1  # generation survives epoch commits
    records = ST.read_er_records(spark, out, "sc")
    assert records.count() == 200

    # final clusters byte-equal to the batch pipeline
    brecords = P.build_records(pages, cfg).persist()
    bpairs = P.build_candidate_pairs(brecords, cfg)
    feats = P.build_features(brecords, bpairs, cfg)
    edges = (
        S.score_pairs(feats, cfg.model)
        .filter(F.col("score") >= cfg.score_threshold)
        .select("id_a", "id_b")
    )
    bclusters = P.cluster(brecords, edges, cfg)
    got = {(r.record_id, r.cluster_id) for r in cat.read(spark, "clusters").collect()}
    want = {(r.record_id, r.cluster_id) for r in bclusters.collect()}
    assert got == want


def test_incremental_er_auto_compaction(spark, tmp_path):
    """compact_every=2 keeps the visible epoch list bounded (compaction
    fires inside the sequential foreachBatch callback after every 2nd
    epoch) while the output stays a valid full partition of the corpus."""
    from nlp_entity_linking_spark.functions.similarity import ScoreModel
    from nlp_entity_linking_spark.plans import pipeline as P

    pages, _ = gen_pages(spark, 200)
    path = str(tmp_path / "pages_in")
    pages.repartition(40).write.mode("overwrite").parquet(path)  # 5 batches
    out = str(tmp_path / "cat")
    cfg = P.PipelineConfig(
        use_snb=False, model=ScoreModel(weights=(2.0, 8.0, 0.0), bias=-6.0)
    )
    q = ST.incremental_er(
        spark, ST.read_pages_stream(spark, path), out, "sa",
        cfg=cfg, compact_every=2,
    )
    q.awaitTermination(600)
    cat = Catalog(out, "sa")
    meta = cat.committed_meta("epoch")
    assert len(meta["epochs"]) <= 2, meta  # never grows past the knob
    assert meta["n_compactions"] >= 2, meta
    records = ST.read_er_records(spark, out, "sa")
    clusters = cat.read(spark, "clusters")
    assert records.count() == clusters.count() == 200
    assert clusters.groupBy("record_id").count().filter("count > 1").count() == 0


def test_incremental_er_foreach_batch(spark, tmp_path):
    """Incremental blocking: >=2 micro-batches, per-batch scored pairs are
    only the pairs TOUCHING that batch's new records (never a full corpus
    re-score), and the final clusters equal the batch pipeline's (with
    use_snb=False — SNB is global-order and not run incrementally)."""
    from nlp_entity_linking_spark.plans import pipeline as P

    from nlp_entity_linking_spark.functions.similarity import ScoreModel

    pages, _ = gen_pages(spark, 200)
    path = str(tmp_path / "pages_in")
    # 16 files + maxFilesPerTrigger=8 -> exactly 2 micro-batches
    pages.repartition(16).write.mode("overwrite").parquet(path)
    out = str(tmp_path / "cat")
    # pair-local model (zero cosine weight): TF-IDF weights depend on the
    # epoch-visible corpus, so corpus-dependent scores drift by design
    # (bounded staleness); exact batch equality is only well-defined for
    # pair-local features.
    cfg0 = None
    from nlp_entity_linking_spark.plans import pipeline as P0

    cfg0 = P0.PipelineConfig(
        use_snb=False, model=ScoreModel(weights=(2.0, 8.0, 0.0), bias=-6.0)
    )
    q = ST.incremental_er(
        spark, ST.read_pages_stream(spark, path), out, "s1", cfg=cfg0
    )
    q.awaitTermination(300)
    cat = Catalog(out, "s1")
    assert cat.is_committed("epoch") and cat.is_committed("clusters")

    records = ST.read_er_records(spark, out, "s1")
    clusters = cat.read(spark, "clusters")
    assert clusters.count() == records.count() == 200

    # batch-pipeline ground truth at the same config (no SNB)
    cfg = cfg0
    brecords = P.build_records(pages, cfg).persist()
    bpairs = P.build_candidate_pairs(brecords, cfg).persist()
    full_pairs = bpairs.count()

    epochs = cat.committed_meta("epoch")["epochs"]
    assert len(epochs) >= 2, epochs
    stats = [cat.committed_meta(f"epoch_stats_{e}") for e in epochs]
    per_epoch = [s["n_pairs_scored"] for s in stats]
    # bounded per-batch work: no epoch re-scores the whole corpus, and the
    # epochs together score each candidate pair exactly once
    assert all(p < full_pairs for p in per_epoch), (per_epoch, full_pairs)
    assert sum(per_epoch) == full_pairs, (per_epoch, full_pairs)

    # identical final clusters vs the batch pipeline
    feats = P.build_features(brecords, bpairs, cfg)
    from nlp_entity_linking_spark.functions import similarity as S

    edges = (
        S.score_pairs(feats, cfg.model)
        .filter(F.col("score") >= cfg.score_threshold)
        .select("id_a", "id_b")
    )
    bclusters = P.cluster(brecords, edges, cfg)
    got = {(r.record_id, r.cluster_id) for r in clusters.collect()}
    want = {(r.record_id, r.cluster_id) for r in bclusters.collect()}
    assert got == want


def test_incremental_vs_batch_divergence_fence(spark, tmp_path):
    """FENCE for the documented streamed-vs-batch hot-key approximation
    (incremental_candidate_pairs shards hot keys by committed/batch-local
    sizes where batch uses global sizes; 0.133% of assignments diverged at
    the 200k bench run): every candidate pair the two paths DISAGREE on has
    BOTH endpoints inside globally-hot blocks, and every divergent cluster
    assignment lies in a cluster containing a hot-block member.

    The pair fence is the mechanism bound (batch-local hot implies
    committed-size hot implies globally hot, so every salting decision the
    two paths make differently is confined to H x H); the cluster fence is
    its transitive consequence (an edge difference can only re-wire a
    cluster that contains one of its endpoints). Together: records outside
    hot blocks provably get IDENTICAL assignments."""
    from nlp_entity_linking_spark.functions.similarity import ScoreModel
    from nlp_entity_linking_spark.operators import blocking as B
    from nlp_entity_linking_spark.plans import pipeline as P

    # small salt_cap + template-heavy corpus -> real hot keys (58 members
    # at these settings) and a NON-EMPTY pair symmetric difference (19
    # pairs measured) — the fence is exercised, not vacuous
    cfg = P.PipelineConfig(
        use_snb=False,
        salt_cap=4,
        model=ScoreModel(weights=(2.0, 8.0, 0.0), bias=-6.0),
    )
    pages, _ = gen_pages(spark, 400)
    path = str(tmp_path / "pages_in")
    pages.repartition(16).write.mode("overwrite").parquet(path)
    out = str(tmp_path / "cat")
    q = ST.incremental_er(
        spark, ST.read_pages_stream(spark, path), out, "s1", cfg=cfg
    )
    q.awaitTermination(300)
    cat = Catalog(out, "s1")
    epochs = cat.committed_meta("epoch")["epochs"]
    assert len(epochs) >= 2, epochs

    # reconstruct the streamed candidate-pair set from committed blocks
    # (incremental_candidate_pairs is deterministic given the epoch order)
    spairs: set = set()
    old = None
    for e in epochs:
        nb = cat.read(spark, f"blocks_epoch_{e}")
        pe = ST.incremental_candidate_pairs(nb, old, cfg.salt_cap)
        spairs |= {(r.id_a, r.id_b) for r in pe.select("id_a", "id_b").collect()}
        old = nb if old is None else old.unionByName(nb)

    brecords = P.build_records(pages, cfg).persist()
    bpairs = P.build_candidate_pairs(brecords, cfg)
    bp = {(r.id_a, r.id_b) for r in bpairs.select("id_a", "id_b").collect()}

    blocks = B.lsh_blocks(
        brecords, "shingles", k=cfg.minhash_k, bands=cfg.bands
    ).persist()
    hot = B.hot_keys(blocks, cfg.salt_cap)
    H = {
        r.record_id
        for r in blocks.join(hot, "block_key", "left_semi")
        .select("record_id")
        .distinct()
        .collect()
    }
    assert H, "scenario must exercise salting (no hot keys -> vacuous fence)"

    # pair fence: both endpoints of every disagreed pair are hot members
    sym = (spairs - bp) | (bp - spairs)
    outside = [p for p in sym if p[0] not in H or p[1] not in H]
    assert not outside, outside[:10]

    # cluster fence: divergent assignments only in clusters touching H
    from nlp_entity_linking_spark.functions import similarity as S

    feats = P.build_features(brecords, bpairs, cfg)
    edges = (
        S.score_pairs(feats, cfg.model)
        .filter(F.col("score") >= cfg.score_threshold)
        .select("id_a", "id_b")
    )
    bm = {
        r.record_id: r.cluster_id
        for r in P.cluster(brecords, edges, cfg).collect()
    }
    sm = {
        r.record_id: r.cluster_id
        for r in cat.read(spark, "clusters").collect()
    }
    from collections import defaultdict

    def members(m):
        d = defaultdict(set)
        for rid, cid in m.items():
            d[cid].add(rid)
        return {rid: frozenset(d[cid]) for rid, cid in m.items()}

    bmem, smem = members(bm), members(sm)
    divergent = [r for r in bm if bmem[r] != smem[r]]
    unfenced = [r for r in divergent if not ((bmem[r] | smem[r]) & H)]
    assert not unfenced, unfenced[:10]

    # CONVERGENCE (r6): a converging compaction re-shards the committed hot
    # keys from GLOBAL sizes and rescores the fenced region with batch
    # semantics — the divergence the fence bounds must now be ZERO: the
    # post-compaction edge table and cluster assignments are byte-equal to
    # the batch pipeline (this fixture's score model is pair-local, the
    # regime the converge contract covers exactly). Non-vacuity anchor is
    # the PAIR-level symmetric difference (19 pairs at these settings) —
    # cluster assignments can already agree transitively pre-compaction.
    assert sym, "fixture must diverge pre-compaction (else vacuous)"
    res = ST.compact(spark, out, "s1", cfg=cfg)
    assert res["n_epochs_folded"] == len(epochs)
    cedges = {
        (r.id_a, r.id_b)
        for r in cat.read(spark, f"edges_epoch_{res['epoch']}").collect()
    }
    bedges = {(r.id_a, r.id_b) for r in edges.collect()}
    assert cedges == bedges, (
        len(cedges - bedges),
        len(bedges - cedges),
    )
    cm = {
        r.record_id: r.cluster_id
        for r in cat.read(spark, "clusters").collect()
    }
    assert cm == bm


def test_compact_converge_warns_on_snb_or_phonetic_cfg(spark, tmp_path):
    """converge's batch-equality claim only holds for cfgs whose blockers
    streaming actually runs (LSH): with use_snb or use_phonetic set the
    SNB/phonetic candidates batch would generate are never reconciled, so
    compact must warn the caller toward mode='rescore'. The warning fires
    before any catalog I/O, so an empty run dir keeps this test cheap."""
    import warnings as _w

    from nlp_entity_linking_spark.plans import pipeline as P

    for cfg in (
        P.PipelineConfig(use_snb=True),
        P.PipelineConfig(use_snb=False, use_phonetic=True),
    ):
        with _w.catch_warnings(record=True) as rec:
            _w.simplefilter("always")
            res = ST.compact(spark, str(tmp_path), "norun", cfg=cfg,
                             mode="converge")
        assert res == {"epoch": None, "n_epochs_folded": 0}
        assert any("rescore" in str(x.message) for x in rec)
    # the fenced regime (LSH-only cfg) stays silent
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        ST.compact(spark, str(tmp_path), "norun",
                   cfg=P.PipelineConfig(use_snb=False), mode="converge")
    assert not [x for x in rec if "rescore" in str(x.message)]


def test_compact_rescore_equals_batch_with_corpus_features(spark, tmp_path):
    """compact(mode="rescore") is periodic batch reconciliation: even with a
    CORPUS-DEPENDENT score model (nonzero TF-IDF cosine weight — the regime
    where converge mode still leaves bounded-staleness scores on non-hot
    edges), the recomputed edges and clusters are byte-equal to a batch run
    over the same corpus."""
    from nlp_entity_linking_spark.functions import similarity as S
    from nlp_entity_linking_spark.functions.similarity import ScoreModel
    from nlp_entity_linking_spark.plans import pipeline as P

    cfg = P.PipelineConfig(
        use_snb=False,
        salt_cap=4,
        model=ScoreModel(weights=(1.0, 5.0, 3.0), bias=-6.0),
    )
    pages, _ = gen_pages(spark, 300)
    path = str(tmp_path / "pages_in")
    pages.repartition(8).write.mode("overwrite").parquet(path)
    out = str(tmp_path / "cat")
    q = ST.incremental_er(
        spark, ST.read_pages_stream(spark, path), out, "s1", cfg=cfg
    )
    q.awaitTermination(300)
    cat = Catalog(out, "s1")

    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = ST.compact(spark, out, "s1", cfg=cfg, mode="rescore")
    assert res["epoch"] is not None
    # rescore is a periodically scheduled job in a long-lived streaming
    # driver: its internal pipeline persists (LSH blocks, SNB ranks, TF-IDF
    # weights) must NOT outlive the call, or they accumulate per invocation
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size() <= persisted_before
    )

    brecords = P.build_records(pages, cfg).persist()
    bpairs = P.build_candidate_pairs(brecords, cfg)
    feats = P.build_features(brecords, bpairs, cfg)
    bedges_df = (
        S.score_pairs(feats, cfg.model)
        .filter(F.col("score") >= cfg.score_threshold)
        .select("id_a", "id_b")
        .persist()
    )
    bedges = {(r.id_a, r.id_b) for r in bedges_df.collect()}
    assert bedges, "fixture must produce edges (else vacuous)"
    cedges = {
        (r.id_a, r.id_b)
        for r in cat.read(spark, f"edges_epoch_{res['epoch']}").collect()
    }
    assert cedges == bedges
    bm = {
        r.record_id: r.cluster_id
        for r in P.cluster(brecords, bedges_df, cfg).collect()
    }
    cm = {
        r.record_id: r.cluster_id
        for r in cat.read(spark, "clusters").collect()
    }
    assert cm == bm
    bedges_df.unpersist()
    brecords.unpersist()
