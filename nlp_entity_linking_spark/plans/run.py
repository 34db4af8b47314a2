"""Staged, resumable pipeline execution (SURVEY.md §3.1, §3.3).

Each stage = read committed inputs -> transform -> atomic catalog commit ->
per-partition lineage append. A crashed run relaunched with --resume
re-executes only stages missing a commit marker; inside the distributed CC
loop (graphs above CC.SMALL_GRAPH_EDGES) each iteration is individually
committed, so resume re-enters at iteration k+1.
"""

from __future__ import annotations

import dataclasses
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity as S
from ..operators import cc as CC
from ..operators import records as R
from ..operators.evaluate import f1_metrics, gen_labeled_pairs
from ..sources.catalog import Catalog
from . import pipeline as P


def run_with_catalog(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    resume: bool = False,
    gold: DataFrame | None = None,
    cfg: P.PipelineConfig | None = None,
) -> dict:
    cfg = cfg or P.PipelineConfig()
    cat = Catalog(out_dir, run_id)
    t_start = time.perf_counter()

    records = cat.stage(
        spark, "records", lambda: P.build_records(pages, cfg), resume
    )
    # collision audit for the hash-assigned record ids (README deployment
    # notes): one agg over the committed parquet; a 64-bit collision would
    # silently merge two urls' records, so fail loudly instead.
    n_collisions = R.audit_record_ids(records)
    if n_collisions:
        raise RuntimeError(
            f"record_id collision audit failed: {n_collisions} xxhash64(url) "
            "collisions — switch to the 128-bit id assignment"
        )
    pairs = cat.stage(
        spark,
        "candidate_pairs",
        lambda: P.build_candidate_pairs(records, cfg),
        resume,
    )
    features = cat.stage(
        spark, "features", lambda: P.build_features(records, pairs, cfg), resume
    )

    if gold is not None:
        rg = records.join(gold, "url").select("record_id", "entity_id")
        labeled = cat.stage(
            spark, "labeled_pairs", lambda: gen_labeled_pairs(pairs, rg), resume
        )
        if resume and cat.is_committed("calibration"):
            meta = cat.committed_meta("calibration")
            cfg = dataclasses.replace(
                cfg,
                model=S.ScoreModel(
                    tuple(meta["weights"]), meta["bias"], meta["version"]
                ),
                score_threshold=meta["threshold"],
            )
        else:
            cfg = P.calibrate(features, labeled, cfg)
    else:
        labeled = None

    # JVM cheap-reject gate before the Python JW pass. The scored table
    # feeds select_threshold's sweep over THRESHOLD_CANDIDATES, so the gate
    # must use the LOWEST threshold that will ever be applied to it — pairs
    # that cannot reach even that are certain non-edges at every candidate,
    # and the sweep (hence the chosen threshold, edges, clusters) is
    # byte-identical to ungated scoring.
    gate_tau = cfg.score_threshold
    if labeled is not None:
        gate_tau = min((gate_tau,) + P.THRESHOLD_CANDIDATES)
    gated = features.filter(S.may_reach_threshold(cfg.model, gate_tau))
    t_score0 = time.perf_counter()
    scored = cat.stage(
        spark, "scored_pairs", lambda: S.score_pairs(gated, cfg.model), resume
    )
    n_scored = scored.count()
    score_wall = time.perf_counter() - t_score0

    if labeled is not None:
        if resume and cat.is_committed("calibration"):
            pass  # threshold already restored above
        else:
            # cluster-level threshold selection (CC amplifies recall, so the
            # operating point is precision-first — SURVEY.md K-calibration)
            thr, _m = P.select_threshold(scored, records, labeled, cfg)
            cfg = dataclasses.replace(cfg, score_threshold=thr)
            cat.commit(
                "calibration",
                {**cfg.model.as_dict(), "threshold": cfg.score_threshold},
            )

    edges = cat.stage(
        spark,
        "match_edges",
        lambda: scored.filter(F.col("score") >= cfg.score_threshold).select(
            "id_a", "id_b", "block_key", "score"
        ),
        resume,
    )

    clusters = cat.stage(
        spark,
        "clusters",
        lambda: _clustered(spark, cat, records, edges, cfg, resume),
        resume,
    )

    summary: dict = {
        "run_id": run_id,
        "n_records": records.count(),
        "n_candidate_pairs": pairs.count(),
        "n_match_edges": edges.count(),
        "n_clusters": clusters.select("cluster_id").distinct().count(),
        "pairs_scored": n_scored,
        "score_stage_sec": round(score_wall, 3),
        "pairs_per_sec": round(n_scored / score_wall, 1) if score_wall else None,
        "threshold": cfg.score_threshold,
        "model": cfg.model.as_dict(),
        "wall_sec": round(time.perf_counter() - t_start, 3),
    }
    if labeled is not None:
        summary["eval"] = f1_metrics(labeled, clusters)
    cat.commit("run_summary", summary)
    return summary


def _clustered(
    spark: SparkSession,
    cat: Catalog,
    records: DataFrame,
    edges: DataFrame,
    cfg: P.PipelineConfig,
    resume: bool,
) -> DataFrame:
    """CC with per-iteration catalog commits above CC.SMALL_GRAPH_EDGES: a
    killed run resumes from the last committed iteration's edge state (north
    rule: "checkpointed iterations"). A graph within the bound is labeled by
    the driver union-find in one step and commits no iteration; the
    `clusters` stage commit is its resume point."""
    initial = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    start = 0
    if resume:
        while cat.is_committed(f"cc_iter_{start}"):
            start += 1
        if start > 0:
            initial = cat.read(spark, f"cc_iter_{start - 1}")

    def on_iteration(i: int, state: DataFrame) -> DataFrame:
        name = f"cc_iter_{start + i}"
        cat.write(state, name)
        # read back: truncates the iterative plan AND makes the commit the
        # source of truth for the next iteration.
        return cat.read(spark, name)

    labels = CC.connected_components(
        initial,
        max_iter=cfg.max_cc_iter,
        checkpoint=False,  # parquet round-trip per iteration already truncates
        on_iteration=on_iteration,
    )
    return CC.attach_singletons(labels, records)
