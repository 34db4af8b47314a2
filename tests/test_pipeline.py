"""End-to-end golden test: planted duplicates -> clusters -> F1 gate
(SURVEY.md §5.3) + determinism of the synthetic fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions import similarity as S
from nlp_entity_linking_spark.operators.evaluate import f1_metrics, gen_labeled_pairs
from nlp_entity_linking_spark.plans import pipeline as P
from nlp_entity_linking_spark.sources.synthetic import gen_pages


def test_generator_deterministic(spark):
    a, _ = gen_pages(spark, 400)
    b, _ = gen_pages(spark, 400)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pages_schema(spark):
    pages, gold = gen_pages(spark, 100)
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    kinds = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert kinds["html"] == "binary" and kinds["warc_ts"] == "timestamp"
    assert gold.count() == 100


def test_end_to_end_f1(spark):
    pages, gold = gen_pages(spark, 700)
    cfg = P.PipelineConfig()
    records = P.build_records(pages, cfg).persist()
    pairs = P.build_candidate_pairs(records, cfg).persist()
    features = P.build_features(records, pairs, cfg).persist()
    rg = records.join(gold, "url").select("record_id", "entity_id")
    labeled = gen_labeled_pairs(pairs, rg).persist()
    cfg = P.calibrate(features, labeled, cfg)
    # jw-ablation operating point: on this corpus the full fit gives jw a
    # non-positive weight, so calibrate refits on tsl+cos alone and scoring
    # stays fully JVM-side (the sf0.1 fit measured w1 < 0 too, making this
    # the production-relevant path)
    assert cfg.model.weights[0] == 0.0, cfg.model
    scored = S.score_pairs(features, cfg.model).persist()
    assert "MapIn" not in (  # neither Pandas nor Arrow
        scored._jdf.queryExecution().executedPlan().toString()
    )
    scored.count()
    thr, metrics = P.select_threshold(scored, records, labeled, cfg)
    # binding target (BASELINE.json): pairwise F1 >= 0.99 at the shared
    # blocking key — gate at the target, not below it.
    assert metrics["f1"] >= 0.99, metrics
    # cluster output is a valid partition of the records
    edges = scored.filter(F.col("score") >= thr)
    clusters = P.cluster(records, edges, cfg).persist()
    assert clusters.count() == records.count()
    assert clusters.groupBy("record_id").count().filter("count > 1").count() == 0
    for df in (clusters, scored, labeled, features, pairs, records):
        df.unpersist()


def test_phonetic_blocker_recall(spark):
    """use_phonetic buys pairs-completeness on spelling variants that defeat
    BOTH default blockers: zero-shingle-overlap respellings ('smith'/'smyth',
    'meier'/'meyer') separated in sort order by > snb_window filler records.
    Also regression-guards blocking_quality's dedup consistency: metrics
    stay in [0, 1] even when the candidate input carries duplicate rows."""
    from nlp_entity_linking_spark.functions.normalize import char_shingles, tokenize
    from nlp_entity_linking_spark.operators.evaluate import blocking_quality

    groups = [
        # (entity, [true spelling variants], [sort-separating fillers])
        (0, ["smith", "smyth"], ["smoke", "smolder", "smudge", "smug"]),
        (1, ["meier", "meyer"], ["mellow", "mentor", "messer", "mettle"]),
    ]
    rows, gold_rows, rid = [], [], 0
    for ent, variants, fillers in groups:
        for name in variants:
            rows.append((rid, name))
            gold_rows.append((rid, ent))
            rid += 1
        for name in fillers:
            rows.append((rid, name))
            gold_rows.append((rid, 1000 + rid))  # singleton entities
            rid += 1
    records = (
        spark.createDataFrame(rows, "record_id long, norm string")
        .withColumn("shingles", char_shingles("norm", 3))
        .withColumn("tokens", tokenize("norm"))
    )
    gold = spark.createDataFrame(gold_rows, "record_id long, entity_id long")
    base_cfg = P.PipelineConfig(salt_cap=16)
    without = P.build_candidate_pairs(records, base_cfg)
    with_ph = P.build_candidate_pairs(
        records, P.PipelineConfig(salt_cap=16, use_phonetic=True)
    )
    q0 = blocking_quality(without, gold)
    q1 = blocking_quality(with_ph, gold)
    # the planted respellings are invisible to LSH (disjoint shingles) and
    # SNB (> window apart in sort order) but identical under Soundex
    assert q0["pairs_completeness"] == 0.0, q0
    assert q1["pairs_completeness"] == 1.0, q1
    found = {(r.id_a, r.id_b) for r in with_ph.select("id_a", "id_b").collect()}
    assert {(0, 1), (6, 7)} <= found
    # duplicate candidate rows must not inflate any metric past 1
    dup = with_ph.unionByName(with_ph)
    qd = blocking_quality(dup, gold)
    assert qd["n_candidates"] == q1["n_candidates"]
    assert qd["pairs_completeness"] == q1["pairs_completeness"] <= 1.0
    assert 0 < qd["pair_quality"] <= 1.0


def test_end_to_end_f1_with_phonetic_blocker(spark):
    """The F1 gate holds with the third blocker enabled (extra candidates
    are precision-filtered by scoring, and completeness can only grow)."""
    pages, gold = gen_pages(spark, 500)
    cfg = P.PipelineConfig(use_phonetic=True)
    records = P.build_records(pages, cfg).persist()
    pairs = P.build_candidate_pairs(records, cfg).persist()
    features = P.build_features(records, pairs, cfg).persist()
    rg = records.join(gold, "url").select("record_id", "entity_id")
    labeled = gen_labeled_pairs(pairs, rg).persist()
    cfg = P.calibrate(features, labeled, cfg)
    scored = S.score_pairs(features, cfg.model).persist()
    scored.count()
    _, metrics = P.select_threshold(scored, records, labeled, cfg)
    assert metrics["f1"] >= 0.99, metrics


def test_blocking_quality_metrics(spark):
    """Blocker diagnostics: on the planted fixture the two-blocker merge
    must keep nearly every true pair (pairs completeness ~1) while
    eliminating almost all of the quadratic surface (reduction ratio ~1)."""
    from nlp_entity_linking_spark.operators.evaluate import blocking_quality

    pages, gold = gen_pages(spark, 500)
    cfg = P.PipelineConfig()
    records = P.build_records(pages, cfg).persist()
    pairs = P.build_candidate_pairs(records, cfg)
    rg = records.join(gold, "url").select("record_id", "entity_id")
    q = blocking_quality(pairs, rg)
    # direct-pair completeness is NOT cluster recall: pairs the blocker
    # misses pairwise are still merged transitively by connected components
    # (a-b and b-c blocked => a-c clustered), which is why cluster-level F1
    # is 0.9985 while raw completeness sits near 0.8 on this fixture.
    assert q["pairs_completeness"] >= 0.75, q
    assert q["reduction_ratio"] >= 0.95, q
    assert 0 < q["pair_quality"] <= 1.0, q


def test_record_id_collision_audit(spark):
    from nlp_entity_linking_spark.operators.records import audit_record_ids

    pages, _ = gen_pages(spark, 200)
    records = P.build_records(pages, P.PipelineConfig())
    assert audit_record_ids(records) == 0
    # a planted collision (two urls forced onto one record_id) must be seen
    forged = records.limit(2).withColumn("record_id", F.lit(12345))
    assert audit_record_ids(records.unionByName(forged)) == 1


def test_map_side_budget():
    """Both wmap copies plus the attach table must fit 1/8 of the heap,
    within the 2M-record cap; the token volume gates, not only the count."""
    heap = 4 * 2**30
    assert P.map_side_fits(10_000, 100_000, heap)
    assert not P.map_side_fits(10_000, 100_000, 1)
    # few records, fat token sets: the count alone would have passed
    assert not P.map_side_fits(10_000, 20_000_000, heap)
    # past the measured record cap, however large the heap
    assert not P.map_side_fits(2_000_001, 0, 2**50)
    assert P.map_side_fits(0, 0, heap)


def test_build_features_shuffle_path_matches_map_path(spark, monkeypatch):
    """A heap too small for the map-side broadcasts sends build_features
    down the shuffled-hash path: same pairs, same attached columns, cos
    within 1e-12 of the map path."""
    pages, _ = gen_pages(spark, 300)
    cfg = P.PipelineConfig()
    records = P.build_records(pages, cfg).persist()
    pairs = P.build_candidate_pairs(records, cfg).persist()

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    mapped = P.build_features(records, pairs, cfg)
    monkeypatch.setattr(P, "_driver_max_heap", lambda df: 1)
    registry: list = []
    shuffled = P.build_features(records, pairs, cfg, cache_registry=registry)
    # the map path builds per-record weight maps (collect_list); the shuffle
    # path pins shuffled-hash weight joins instead
    assert "collect_list" in plan(mapped)
    assert "collect_list" not in plan(shuffled)
    assert "ShuffledHashJoin" in plan(shuffled)
    assert len(registry) == 1  # the persisted weights, shuffle path only

    def rows(df):
        return {
            (r.id_a, r.id_b): (r.block_key, r.norm_a, r.norm_b, r.tsl, r.cos)
            for r in df.collect()
        }

    m, s = rows(mapped), rows(shuffled)
    assert set(m) == set(s) and len(m) > 0
    for k in m:
        assert m[k][:4] == s[k][:4], k
        assert abs(m[k][4] - s[k][4]) < 1e-12, (k, m[k][4], s[k][4])
    for df in registry:
        df.unpersist()
    pairs.unpersist()
    records.unpersist()


def test_calibration_sample_is_bounded(spark):
    """The driver-side calibration collect is capped: a labeled set far over
    the cap is deterministically down-sampled to ~cap rows before toPandas."""
    big = spark.range(0, 100_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    cap = 1_000
    sampled = P.bounded_labeled_sample(big, cap)
    n = sampled.count()
    assert n <= int(cap * 1.2), n  # ~n/ceil(n/cap), small hash variance
    assert n > 0
    # deterministic: same input -> same sample
    assert sampled.exceptAll(P.bounded_labeled_sample(big, cap)).count() == 0
    # under-cap inputs pass through untouched
    small = big.limit(10)
    assert P.bounded_labeled_sample(small, cap).count() == 10


def test_calibrate_drops_nonpositive_jw(spark):
    """On a corpus where jw is ANTI-predictive (matches have dissimilar
    surfaces, non-matches near-identical ones), the full fit must measure
    w1 < 0, and calibrate must refit without jw — pinning w1 to exactly 0.0
    so scoring takes the JVM fast path — while still classifying the sample
    correctly."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(200):
        # match: unlike surfaces (low jw) but strong token/context overlap
        rows.append(
            (2 * i, 2 * i + 1, f"alpha{i} beta", "zzz qqq",
             0.7 + 0.3 * rng.random(), 0.6 + 0.4 * rng.random(), True)
        )
        # non-match: near-identical surfaces (high jw), weak tsl/cos
        rows.append(
            (10_000 + 2 * i, 10_000 + 2 * i + 1,
             f"acme corporation {i}", f"acme corporatino {i}",
             0.3 * rng.random(), 0.3 * rng.random(), False)
        )
    feats = spark.createDataFrame(
        [(a, b, na, nb, t, c) for a, b, na, nb, t, c, _ in rows],
        "id_a long, id_b long, norm_a string, norm_b string, "
        "tsl double, cos double",
    )
    labeled = spark.createDataFrame(
        [(a, b, m) for a, b, _, _, _, _, m in rows],
        "id_a long, id_b long, is_match boolean",
    )
    # the full fit, on the same jw-materialized sample calibrate fits
    sample = (
        S.score_pairs(feats.join(labeled, ["id_a", "id_b"]), S.ScoreModel())
        .select("jw", "tsl", "cos", "is_match")
        .toPandas()
    )
    full, _ = S.fit_calibration(sample)
    assert full.weights[0] < 0.0, full  # jw measured harmful
    dropped = P.calibrate(feats, labeled, P.PipelineConfig())
    assert dropped.model.weights[0] == 0.0
    assert dropped.model.version == "fitted-tsl+cos-v1"
    scored = S.score_pairs(feats, dropped.model)
    assert "MapIn" not in (  # neither Pandas nor Arrow
        scored._jdf.queryExecution().executedPlan().toString()
    )
    verdicts = scored.join(labeled, ["id_a", "id_b"]).select(
        "is_match", (F.col("score") >= dropped.score_threshold).alias("pred")
    ).collect()
    assert all(r.pred == r.is_match for r in verdicts)


def test_score_edges_gate_byte_equal(spark):
    """The JVM cheap-reject gate must not change the edge set (or the
    clusters downstream): score_edges (gated) and the ungated reference
    score_pairs + threshold filter on the golden fixture produce identical
    (id_a, id_b, score) rows, while the gate provably prunes part of the
    Python surface."""
    pages, _ = gen_pages(spark, 500)
    cfg = P.PipelineConfig()
    records = P.build_records(pages, cfg).persist()
    pairs = P.build_candidate_pairs(records, cfg)
    feats = P.build_features(records, pairs, cfg).persist()
    feats.count()
    gated = P.score_edges(feats, cfg)
    ungated = S.score_pairs(feats, cfg.model).filter(
        F.col("score") >= cfg.score_threshold
    )
    rows_g = {
        (r.id_a, r.id_b, round(r.score, 12)) for r in gated.collect()
    }
    rows_u = {
        (r.id_a, r.id_b, round(r.score, 12)) for r in ungated.collect()
    }
    assert rows_g == rows_u and rows_g
    # the gate actually prunes on this fixture (certain rejects exist)
    n_all = feats.count()
    n_kept = feats.filter(
        S.may_reach_threshold(cfg.model, cfg.score_threshold)
    ).count()
    assert n_kept < n_all
