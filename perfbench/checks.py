"""Output checks run on every benchmark run. Each returns a list of failure
messages (empty = pass); a failure counts into the run's `failed` total and
is never dropped."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

F1_FLOOR = 0.99
EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected_counts.json")


def expected_counts(workload: str, seed: int) -> dict | None:
    """Exact output counts recorded for (workload, seed), if any."""
    with open(EXPECTED_PATH) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def check_counts(got: dict, expected: dict | None) -> list[str]:
    if expected is None:
        return []
    return [
        f"{k}: expected {v}, got {got.get(k)}"
        for k, v in expected.items()
        if got.get(k) != v
    ]


def check_clusters(records: DataFrame, clusters: DataFrame) -> list[str]:
    """Every record lands in exactly one cluster, and clusters hold nothing
    but records."""
    ids = records.select("record_id")
    row = clusters.agg(
        F.count("*").alias("rows"),
        F.countDistinct("record_id").alias("ids"),
        F.sum(F.col("cluster_id").isNull().cast("long")).alias("null_ids"),
    ).collect()[0]
    missing = ids.join(clusters, "record_id", "left_anti").count()
    foreign = clusters.select("record_id").join(ids, "record_id", "left_anti").count()
    out = []
    if row["rows"] != row["ids"]:
        out.append(f"clusters: {row['rows'] - row['ids']} records in more than one cluster")
    if row["null_ids"]:
        out.append(f"clusters: {row['null_ids']} rows without a cluster_id")
    if missing:
        out.append(f"clusters: {missing} records in no cluster")
    if foreign:
        out.append(f"clusters: {foreign} cluster rows for unknown records")
    return out


def check_records(records: DataFrame, n_urls: int) -> list[str]:
    """One record per distinct staged url."""
    row = records.agg(
        F.count("*").alias("rows"), F.countDistinct("record_id").alias("ids")
    ).collect()[0]
    out = []
    if row["rows"] != row["ids"]:
        out.append(f"records: {row['rows'] - row['ids']} duplicate record_ids")
    if row["ids"] != n_urls:
        out.append(f"records: {row['ids']} records for {n_urls} staged urls")
    return out


def check_edges_subset(edges: DataFrame, pairs: DataFrame) -> list[str]:
    """Match edges are a subset of the candidate pairs."""
    stray = edges.select("id_a", "id_b").join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).count()
    return [f"edges: {stray} match edges are not candidate pairs"] if stray else []


def check_f1(f1: float, floor: float = F1_FLOOR) -> list[str]:
    return [] if f1 >= floor else [f"pair_f1 {f1:.5f} below {floor}"]


def all_pairs_f1(assign) -> float:
    """Pairwise F1 over ALL record pairs: predicted = same cluster, true =
    same planted entity. assign: pandas frame (cluster_id, entity_id), one
    row per record."""

    def pairs(sizes) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    tp = pairs(assign.groupby(["cluster_id", "entity_id"]).size())
    pred = pairs(assign.groupby("cluster_id").size())
    true = pairs(assign.groupby("entity_id").size())
    return 2 * tp / (pred + true) if pred + true else 0.0
