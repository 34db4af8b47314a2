"""Evaluation: pairwise precision / recall / F1 at the shared blocking key
(SURVEY.md §2 K; BASELINE.json metric: "Pairwise match F1>=0.99 ... on
labeled pairs at the shared blocking key").

labeled_pairs carry (id_a, id_b, block_key, is_match): they were sampled
from candidate blocks, so evaluating on them IS the "at the shared blocking
key" semantics — predicted positive = the two records land in the same
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pairwise_confusion(
    labeled_pairs: DataFrame,
    clusters: DataFrame,
    label_cols: tuple[str, ...] = ("cluster_id",),
) -> DataFrame:
    """-> one row with one struct(tp, fp, fn, tn) column (longs) per label
    column of `clusters`, named after it: several clusterings of the same
    records are scored in ONE aggregate. Broadcast-free: clusters is
    joined twice on record id (shuffle equi-joins; cluster table is thin)."""
    ca = clusters.select(
        F.col("record_id").alias("id_a"),
        *(F.col(c).alias(f"_a{i}") for i, c in enumerate(label_cols)),
    )
    cb = clusters.select(
        F.col("record_id").alias("id_b"),
        *(F.col(c).alias(f"_b{i}") for i, c in enumerate(label_cols)),
    )
    j = labeled_pairs.join(ca, "id_a", "left").join(cb, "id_b", "left")
    m = F.col("is_match")
    cells = []
    for i, c in enumerate(label_cols):
        a, b = F.col(f"_a{i}"), F.col(f"_b{i}")
        pred = a.isNotNull() & b.isNotNull() & (a == b)
        cells.append(
            F.struct(
                F.sum((pred & m).cast("long")).alias("tp"),
                F.sum((pred & ~m).cast("long")).alias("fp"),
                F.sum((~pred & m).cast("long")).alias("fn"),
                F.sum((~pred & ~m).cast("long")).alias("tn"),
            ).alias(c)
        )
    return j.agg(*cells)


def f1_from_confusion(cell) -> dict:
    """One pairwise_confusion struct -> tp/fp/fn/tn + precision/recall/F1."""
    tp, fp, fn = cell["tp"] or 0, cell["fp"] or 0, cell["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "tn": cell["tn"] or 0,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }


def f1_metrics(labeled_pairs: DataFrame, clusters: DataFrame) -> dict:
    row = pairwise_confusion(labeled_pairs, clusters).collect()[0]
    return f1_from_confusion(row["cluster_id"])


def blocking_quality(
    candidate_pairs: DataFrame,
    records_with_gold: DataFrame,
) -> dict:
    """Blocking-stage diagnostics (standard record-linkage metrics —
    Christen, Data Matching '12, public knowledge):

    * pairs_completeness — fraction of TRUE matched pairs that survive into
      the candidate set (the blocker's recall ceiling: no scorer can find a
      match the blocker dropped);
    * reduction_ratio — 1 - |candidates| / C(n, 2): how much of the
      quadratic surface the blocker eliminated;
    * pair_quality — fraction of candidates that are true matches (the
      blocker's precision; drives scoring cost per found match).

    All three from thin joins + counts; gold = (record_id, entity_id).
    """
    g = records_with_gold.select("record_id", "entity_id")
    n = g.count()
    # n_cand and n_found MUST come from the same distinct projection: a
    # non-deduped candidate input (e.g. raw multi-blocker output) would
    # otherwise inflate n_found with duplicate rows and push
    # pairs_completeness / pair_quality past 1.
    cand = candidate_pairs.select("id_a", "id_b").distinct().persist()
    n_cand = cand.count()
    # true pairs: same-entity record pairs (id_a < id_b); entity group
    # sizes are small, so the self-join per entity is bounded
    a = g.select(F.col("record_id").alias("id_a"), "entity_id")
    b = g.select(F.col("record_id").alias("id_b"), "entity_id")
    true_pairs = (
        a.join(b, "entity_id").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    ).persist()
    n_true = true_pairs.count()
    n_found = cand.join(true_pairs, ["id_a", "id_b"], "left_semi").count()
    true_pairs.unpersist()
    cand.unpersist()
    total = n * (n - 1) / 2
    return {
        "n_records": n,
        "n_candidates": n_cand,
        "n_true_pairs": n_true,
        "n_true_found": n_found,
        "pairs_completeness": n_found / n_true if n_true else 1.0,
        "reduction_ratio": 1.0 - n_cand / total if total else 0.0,
        "pair_quality": n_found / n_cand if n_cand else 0.0,
    }


def gen_labeled_pairs(
    candidate_pairs: DataFrame,
    records_with_gold: DataFrame,
    neg_per_pos: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Build the eval fixture (FIXTURES.md §B labeled_pairs): all positive
    pairs among the candidates + deterministically sampled negatives from
    the SAME blocks at ~neg_per_pos:1.

    Two-pass deterministic sampling: count pos/neg (cheap aggregates), derive
    a fixed keep-permille, filter by seeded hash — same inputs, same fixture,
    any parallelism.
    """
    g = records_with_gold.select("record_id", "entity_id")
    lp = (
        candidate_pairs.join(
            g.select(F.col("record_id").alias("id_a"), F.col("entity_id").alias("_ea")),
            "id_a",
        )
        .join(
            g.select(F.col("record_id").alias("id_b"), F.col("entity_id").alias("_eb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "block_key",
            (F.col("_ea") == F.col("_eb")).alias("is_match"),
        )
    )
    lp = lp.persist()
    counts = lp.groupBy("is_match").count().collect()
    n_pos = sum(r["count"] for r in counts if r["is_match"])
    n_neg = sum(r["count"] for r in counts if not r["is_match"])
    if n_neg == 0 or n_pos == 0:
        return lp
    keep_permille = min(1000, int(1000 * neg_per_pos * n_pos / n_neg) + 1)
    sampled = lp.filter(
        F.col("is_match")
        | (
            F.pmod(F.xxhash64("id_a", "id_b", F.lit(seed)), 1000)
            < F.lit(keep_permille)
        )
    )
    return sampled
