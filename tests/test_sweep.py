"""Threshold sweep: the one-pass small-graph path (one driver union-find
over every candidate, one confusion aggregate) must return exactly what
the per-candidate CC + F1 sweep returns, in a handful of jobs; and the
catalog-committed clusters stage takes the same small-graph CC path."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions import similarity as S
from nlp_entity_linking_spark.operators import cc as CC
from nlp_entity_linking_spark.operators.evaluate import gen_labeled_pairs
from nlp_entity_linking_spark.plans import pipeline as P
from nlp_entity_linking_spark.plans.run import run_with_catalog
from nlp_entity_linking_spark.sources.catalog import Catalog
from nlp_entity_linking_spark.sources.synthetic import gen_pages


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """The 700-page fixture up to calibration — records, labeled pairs, and
    the features scored under the default and the calibrated model —
    committed to parquet and read back, as run_with_catalog commits them.

    Not persisted frames: a persisted frame keeps the partitioning of the
    plan AQE finalized while materializing it, and gen_labeled_pairs' two
    joins finalize in one of two shapes depending on which of their shuffle
    stages finishes first. One leaves the labeled pairs hash-partitioned on
    id_a, the other on id_b, and then pairwise_confusion's id_a join needs
    one more exchange, hence one more job (test_sweep_job_audit counted 11
    in full-suite runs). A parquet scan has no partitioning to inherit."""
    base = tmp_path_factory.mktemp("sweep")
    pages, gold = gen_pages(spark, 700)
    cfg = P.PipelineConfig()
    records = P.build_records(pages, cfg).persist()
    pairs = P.build_candidate_pairs(records, cfg).persist()
    features = P.build_features(records, pairs, cfg).persist()
    rg = records.join(gold, "url").select("record_id", "entity_id")
    labeled = gen_labeled_pairs(pairs, rg)
    calibrated = P.calibrate(features, labeled, cfg)

    def commit(name, df):
        df.write.parquet(str(base / name))
        return spark.read.parquet(str(base / name))

    scored = {
        name: (commit(name, S.score_pairs(features, c.model)), c)
        for name, c in (("default", cfg), ("calibrated", calibrated))
    }
    committed = commit("records", records), commit("labeled", labeled)
    for df in (features, pairs, records):
        df.unpersist()
    return (*committed, scored)


def _per_candidate(monkeypatch, *args):
    """select_threshold forced onto its per-candidate (over-bound) path."""
    with monkeypatch.context() as m:
        m.setattr(CC, "SMALL_GRAPH_EDGES", -1)
        return P.select_threshold(*args)


@pytest.mark.parametrize("model", ["default", "calibrated"])
def test_one_pass_sweep_equals_per_candidate_sweep(spark, corpus, monkeypatch, model):
    records, labeled, scored = corpus
    df, cfg = scored[model]
    fast = P.select_threshold(df, records, labeled, cfg)
    slow = _per_candidate(monkeypatch, df, records, labeled, cfg)
    assert fast == slow
    assert fast[1]["f1"] >= 0.99, fast


def test_one_pass_sweep_edge_cases(spark, monkeypatch):
    """Scores exactly equal to each candidate, a chain that only connects
    below the top candidate, an empty edge set at the top candidate, and a
    labeled record with no edge at all."""
    records = spark.createDataFrame([(i,) for i in range(9)], "record_id long")
    scored = spark.createDataFrame(
        [
            (0, 1, 0.8), (1, 2, 0.65), (2, 3, 0.5),  # chain 0-1-2-3
            (4, 5, 0.65), (5, 6, 0.5), (6, 7, 0.5),  # false merge at 0.5
            (3, 4, 0.3),                             # below every candidate
        ],
        "id_a long, id_b long, score double",
    )
    labeled = spark.createDataFrame(
        [
            (0, 1, True), (0, 2, True), (0, 3, True), (1, 3, True),
            (4, 5, True), (4, 6, False), (5, 6, False), (6, 7, False),
            (4, 7, False), (5, 7, False), (2, 4, False), (0, 8, False),
        ],
        "id_a long, id_b long, is_match boolean",
    )
    cfg = P.PipelineConfig()
    fast = P.select_threshold(scored, records, labeled, cfg)
    slow = _per_candidate(monkeypatch, scored, records, labeled, cfg)
    assert fast == slow
    # 0.9: no edges (f1 0); 0.8: {0,1}; 0.65: {0,1,2},{4,5} -> p 1, r 3/5;
    # 0.5: {0..3},{4..7} -> r 1 but 5 false positives
    thr, m = fast
    assert thr == 0.65
    assert (m["tp"], m["fp"], m["fn"], m["tn"]) == (3, 0, 2, 7)


def test_sweep_job_audit(spark, corpus):
    """select_threshold on the materialized 700-page fixture fires at most
    10 Spark jobs (the per-candidate sweep fired ~50)."""
    records, labeled, scored = corpus
    df, cfg = scored["calibrated"]
    sc = spark.sparkContext
    sc.setJobGroup("sweep_job_audit", "select_threshold")
    try:
        P.select_threshold(df, records, labeled, cfg)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("sweep_job_audit")
    assert 1 <= len(jobs) <= 10, len(jobs)


def test_committed_clusters_take_small_graph_path(spark, tmp_path):
    """A run whose match graph is under CC.SMALL_GRAPH_EDGES commits no CC
    iteration, and its clusters equal the distributed star loop's."""
    out = str(tmp_path / "cat")
    pages, gold = gen_pages(spark, 300)
    run_with_catalog(spark, pages, out, "r", gold=gold)
    cat = Catalog(out, "r")
    assert not glob.glob(os.path.join(cat.base, "_commits", "cc_iter_*"))
    edges = cat.read(spark, "match_edges").select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    assert 0 < edges.count() <= CC.SMALL_GRAPH_EDGES
    labels = CC.connected_components(edges, small_graph_threshold=None)
    expected = CC.attach_singletons(labels, cat.read(spark, "records"))

    def rows(df):
        return {(r.record_id, r.cluster_id) for r in df.collect()}

    assert rows(cat.read(spark, "clusters")) == rows(expected)
