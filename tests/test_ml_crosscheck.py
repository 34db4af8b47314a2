"""Cross-check the from-scratch minhash-LSH blocker against pyspark.ml's
MinHashLSH (SURVEY.md D1: "(a) pyspark.ml MinHashLSH ... (b) from-scratch
... prefer (b), (a) as cross-check"): both must retrieve the same planted
near-duplicate pairs on a small corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions.normalize import char_shingles, normalize
from nlp_entity_linking_spark.operators import blocking as B

DOCS = [
    (0, "international shipping and logistics company of norway"),
    (1, "international shipping and logistics company of norway!"),
    (2, "international shipping & logistics company, norway"),
    (3, "quarterly earnings report for the fiscal year twenty four"),
    (4, "quarterly earnings report for the fiscal year twenty five"),
    (5, "completely different zebra piano umbrella text"),
]


def _true_pairs_ml(spark):
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    df = spark.createDataFrame(DOCS, "record_id long, surface string")
    df = df.withColumn("norm", normalize("surface")).withColumn(
        "shingles", char_shingles("norm")
    )
    cv = CountVectorizer(inputCol="shingles", outputCol="vec", binary=True)
    model = cv.fit(df)
    v = model.transform(df)
    lsh = MinHashLSH(inputCol="vec", outputCol="hashes", numHashTables=16, seed=42)
    lm = lsh.fit(v)
    joined = lm.approxSimilarityJoin(v, v, 0.45, distCol="jaccard_dist")
    pairs = joined.select(
        F.col("datasetA.record_id").alias("a"),
        F.col("datasetB.record_id").alias("b"),
    ).filter(F.col("a") < F.col("b"))
    return {(r.a, r.b) for r in pairs.collect()}


def _our_pairs(spark):
    df = spark.createDataFrame(DOCS, "record_id long, surface string")
    df = df.withColumn("norm", normalize("surface")).withColumn(
        "shingles", char_shingles("norm")
    )
    blocks = B.lsh_blocks(df, "shingles", k=64, bands=16)
    return {(r.id_a, r.id_b) for r in B.pairs_from_blocks(blocks).collect()}


def test_tfidf_cosine_agrees_with_sparkml(spark):
    """SURVEY.md I3 cross-check: the from-scratch sparse TF-IDF cosine
    (tfidf_weights + pair_cosine) must agree with pyspark.ml's
    CountVectorizer + IDF (the collision-free form of HashingTF+IDF; both
    use the same smooth idf = ln((N+1)/(df+1))) to float tolerance."""
    import numpy as np
    from pyspark.ml.feature import CountVectorizer, IDF

    from nlp_entity_linking_spark.functions.similarity import (
        pair_cosine,
        tfidf_weights,
    )

    rows = [
        (0, ["spark", "query", "engine", "distributed", "join"]),
        (1, ["spark", "query", "planner", "distributed", "shuffle"]),
        (2, ["piano", "concert", "orchestra", "violin"]),
        (3, ["piano", "concert", "symphony", "violin", "cello"]),
        (4, ["unrelated", "zebra", "words", "entirely"]),
    ]
    records = spark.createDataFrame(rows, "record_id long, tokens array<string>")
    pair_rows = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")

    ours = {
        (r.id_a, r.id_b): r.cos
        for r in pair_cosine(pairs, tfidf_weights(records, "tokens")).collect()
    }

    cv = CountVectorizer(inputCol="tokens", outputCol="rawtf").fit(records)
    tf = cv.transform(records)
    idf = IDF(inputCol="rawtf", outputCol="vec").fit(tf)
    vecs = {r.record_id: r.vec.toArray() for r in idf.transform(tf).collect()}
    for (a, b), got in ours.items():
        va, vb = vecs[a], vecs[b]
        na, nb = np.linalg.norm(va), np.linalg.norm(vb)
        want = float(va @ vb / (na * nb)) if na and nb else 0.0
        assert abs(got - want) < 1e-9, ((a, b), got, want)
    # sanity: related pairs score high, unrelated ~0
    assert ours[(0, 1)] > 0.2 and ours[(2, 3)] > 0.2
    assert ours[(0, 4)] == 0.0


def test_from_scratch_lsh_agrees_with_sparkml(spark):
    expected = {(0, 1), (0, 2), (1, 2), (3, 4)}
    ours = _our_pairs(spark)
    ml = _true_pairs_ml(spark)
    assert expected <= ours
    assert expected <= ml
    # neither blocker pairs the unrelated doc
    assert all(5 not in p for p in ours | ml)
