"""I1-I7: Jaro-Winkler, token-set Levenshtein, TF-IDF cosine, scoring."""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nlp_entity_linking_spark.functions import similarity as S
from nlp_entity_linking_spark.functions.normalize import token_set, tokenize


def test_jaro_winkler_known_values():
    # classic published examples (Winkler 1990 family)
    assert abs(S.jaro_winkler_py("martha", "marhta") - 0.9611111111111111) < 1e-12
    assert abs(S.jaro_winkler_py("dixon", "dicksonx") - 0.8133333333333332) < 1e-12
    assert S.jaro_winkler_py("", "") == 1.0
    assert S.jaro_winkler_py("a", "") == 0.0
    assert S.jaro_winkler_py("abc", "abc") == 1.0


def test_jaro_winkler_properties():
    rng = random.Random(42)
    alphabet = "abcdef "
    for _ in range(300):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        ab, ba = S.jaro_winkler_py(a, b), S.jaro_winkler_py(b, a)
        assert abs(ab - ba) < 1e-12  # symmetry
        assert 0.0 <= ab <= 1.0
        assert S.jaro_winkler_py(a, a) == 1.0 or a == ""


def test_jw_batch_matches_reference():
    """The vectorized bit-parallel _jw_batch_np must be BIT-identical to the
    per-row reference (same IEEE ops, same association order) — including
    empty/equal/short strings, unicode past the BMP, dedup-colliding pairs,
    and the >63-char row-path fallback."""
    rng = random.Random(7)
    alphabet = "abcdefg "
    cases = [
        ("", ""), ("a", ""), ("", "a"), ("ab", "ab"), ("a", "b"),
        ("f", "f"), ("ff", ""), (None, "x"), (None, None),
        ("martha", "marhta"), ("dixon", "dicksonx"),
        ("café \U0001f600", "cafe \U0001f600"),
    ]
    for _ in range(100):  # >63-char fallback path
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(60, 90)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 90)))
        cases.append((a, b))
    for _ in range(5000):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        if rng.random() < 0.2:
            b = a
        cases.append((a, b))
    a_s = np.array([c[0] for c in cases], dtype=object)
    b_s = np.array([c[1] for c in cases], dtype=object)
    got = S._jw_batch_np(a_s, b_s, chunk=1024)
    ref = np.array(
        [S.jaro_winkler_py(a or "", b or "") for a, b in cases],
        dtype=np.float64,
    )
    mismatch = np.nonzero(ref != got)[0]
    assert len(mismatch) == 0, [
        (cases[i], ref[i], got[i]) for i in mismatch[:5]
    ]


def test_token_set_lev(spark):
    df = spark.createDataFrame(
        [("acme corp ltd", "ltd corp acme"), ("abc", "xyz"), ("", "")],
        "a string, b string",
    )
    got = df.select(
        S.token_set_lev_str(
            F.concat_ws(" ", token_set(tokenize(F.col("a")))),
            F.concat_ws(" ", token_set(tokenize(F.col("b")))),
        ).alias("t")
    ).collect()
    assert got[0].t == 1.0  # token reorder is free
    assert got[1].t < 0.34
    assert got[2].t == 1.0


def test_tfidf_pair_cosine_matches_numpy(spark):
    docs = {
        1: ["a", "b", "c"],
        2: ["a", "b", "c"],
        3: ["a", "x", "y"],
        4: ["q", "r", "s"],
    }
    records = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "record_id long, tokens array<string>"
    )
    weights = S.tfidf_weights(records, "tokens")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r.cos for r in S.pair_cosine(pairs, weights).collect()
    }
    # numpy oracle
    n = len(docs)
    vocab = sorted({t for v in docs.values() for t in v})
    dfreq = {t: sum(t in v for v in docs.values()) for t in vocab}
    idf = {t: math.log((n + 1) / (dfreq[t] + 1)) for t in vocab}

    def vec(toks):
        v = np.array([toks.count(t) * idf[t] for t in vocab])
        return v / np.linalg.norm(v)

    for (a, b), c in got.items():
        expect = float(vec(docs[a]) @ vec(docs[b]))
        assert abs(c - expect) < 1e-9, (a, b, c, expect)
    assert got[(1, 2)] > got[(1, 3)] > got[(1, 4)] == 0.0


def test_pair_cosine_map_attach_equals_shuffle_path(spark):
    """The zero-exchange broadcast-map cosine (r8) must agree with the join
    formulation to float ulps on every pair — including pairs whose records
    have NO weight rows (empty token sets), which exercise the left-join +
    coalesce(0.0) semantics on both paths."""
    records = spark.createDataFrame(
        [
            (1, ["a", "b", "c"]),
            (2, ["a", "b", "c"]),
            (3, ["a", "x", "y"]),
            (4, ["q", "r", "s"]),
            (5, []),  # no weight rows: cos must be exactly 0.0 with anyone
            (6, ["a"]),
        ],
        "record_id long, tokens array<string>",
    )
    weights = S.tfidf_weights(records, "tokens")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (5, 6), (3, 6)],
        "id_a long, id_b long",
    ).withColumn("block_key", F.lit(7).cast("long"))
    shuffled = {
        (r.id_a, r.id_b): r.cos for r in S.pair_cosine(pairs, weights).collect()
    }
    mapped_df = S.pair_cosine_map_attach(pairs, weights)
    mapped = {(r.id_a, r.id_b): r.cos for r in mapped_df.collect()}
    assert set(shuffled) == set(mapped) == {
        (1, 2), (1, 3), (1, 4), (1, 5), (5, 6), (3, 6)
    }
    for k in shuffled:
        assert abs(shuffled[k] - mapped[k]) < 1e-12, (k, shuffled[k], mapped[k])
    assert mapped[(1, 5)] == 0.0 and mapped[(5, 6)] == 0.0  # empty-token records
    assert mapped[(1, 4)] == 0.0  # disjoint token sets
    assert mapped[(3, 6)] > 0.0  # shared "a"
    # passthrough columns survive the map path
    assert set(mapped_df.columns) == {"id_a", "id_b", "block_key", "cos"}


def test_fit_calibration_separates():
    rng = np.random.RandomState(42)
    n = 400
    pos = pd.DataFrame(
        {
            "jw": rng.uniform(0.85, 1.0, n),
            "tsl": rng.uniform(0.7, 1.0, n),
            "cos": rng.uniform(0.5, 1.0, n),
            "is_match": True,
        }
    )
    neg = pd.DataFrame(
        {
            "jw": rng.uniform(0.2, 0.8, n),
            "tsl": rng.uniform(0.0, 0.5, n),
            "cos": rng.uniform(0.0, 0.4, n),
            "is_match": False,
        }
    )
    model, thr = S.fit_calibration(pd.concat([pos, neg], ignore_index=True))
    x = np.array([[0.95, 0.9, 0.8], [0.3, 0.2, 0.1]])
    z = x @ np.array(model.weights) + model.bias
    p = 1 / (1 + np.exp(-z))
    assert p[0] > thr > p[1]


def test_fit_calibration_feature_subset():
    """Ablation fits: dropping a feature pins its weight to EXACTLY 0.0
    (the score_pairs fast-path marker) and tags the model version; the
    reduced model still separates the planted bands."""
    rng = np.random.RandomState(7)
    n = 400
    df = pd.concat(
        [
            pd.DataFrame(
                {
                    "jw": rng.uniform(0.85, 1.0, n),
                    "tsl": rng.uniform(0.7, 1.0, n),
                    "cos": rng.uniform(0.5, 1.0, n),
                    "is_match": True,
                }
            ),
            pd.DataFrame(
                {
                    "jw": rng.uniform(0.2, 0.8, n),
                    "tsl": rng.uniform(0.0, 0.5, n),
                    "cos": rng.uniform(0.0, 0.4, n),
                    "is_match": False,
                }
            ),
        ],
        ignore_index=True,
    )
    model, thr = S.fit_calibration(df, features=("tsl", "cos"))
    assert model.weights[0] == 0.0
    assert model.version == "fitted-tsl+cos-v1"
    z = np.array([0.9, 0.8]) @ np.array(model.weights[1:]) + model.bias
    zl = np.array([0.2, 0.1]) @ np.array(model.weights[1:]) + model.bias
    assert 1 / (1 + np.exp(-z)) > thr > 1 / (1 + np.exp(-zl))


def test_score_pairs_jvm_fast_path(spark):
    """A w1==0 model must never cross into Python: no MapIn* node in the
    physical plan, jw comes back NULL, and the score is the JVM sigmoid of
    (w2*tsl + w3*cos + b). A w1!=0 model (positive control) does plan the
    Arrow pass."""
    import math

    df = spark.createDataFrame(
        [(1, 2, "acme corp", "acme corp", 1.0, 0.9),
         (3, 4, "acme corp", "zzz inc", 0.1, 0.0)],
        "id_a long, id_b long, norm_a string, norm_b string, tsl double, cos double",
    )
    model = S.ScoreModel(weights=(0.0, 4.7, 15.7), bias=-11.0, version="jvm")
    out = S.score_pairs(df, model)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapIn" not in plan  # neither Pandas nor Arrow
    got = out.orderBy("id_a").collect()
    assert [r.jw for r in got] == [None, None]
    for r in got:
        expect = 1.0 / (1.0 + math.exp(-(4.7 * r.tsl + 15.7 * r.cos - 11.0)))
        assert abs(r.score - expect) < 1e-12
    # logistic_expr on the fast-path output must not null out on jw
    rescored = out.withColumn("s2", S.logistic_expr(model)).collect()
    for r in rescored:
        assert r.s2 is not None and abs(r.s2 - r.score) < 1e-12
    # positive control: nonzero w1 still plans the Arrow pass
    arrow_plan = (
        S.score_pairs(df, S.ScoreModel())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in arrow_plan  # r8: scorer is mapInArrow


def test_score_pairs_fused(spark):
    df = spark.createDataFrame(
        [(1, 2, "acme corp", "acme corp", 1.0, 0.9),
         (3, 4, "acme corp", "zzz inc", 0.1, 0.0)],
        "id_a long, id_b long, norm_a string, norm_b string, tsl double, cos double",
    )
    model = S.ScoreModel()
    got = S.score_pairs(df, model).orderBy("id_a").collect()
    assert got[0].jw == 1.0
    assert got[0].score > 0.9
    assert got[1].score < 0.1
    # fused pass must keep every input row & column
    assert len(got) == 2 and "block_key" not in got[0].asDict()


def test_may_reach_threshold_gate_sound(spark):
    """Gate soundness: a pair rejected by may_reach_threshold can NEVER
    score >= threshold for ANY jw in [0,1]; a pair any jw could push over
    must be kept. Checked across both jw-weight signs on a (tsl, cos) grid
    that brackets the decision band."""
    grid = [
        (i, round(0.05 * (i % 21), 2), round(0.05 * (i // 21), 2))
        for i in range(21 * 21)
    ]
    df = spark.createDataFrame(grid, "pid long, tsl double, cos double")
    for weights in [(0.1, 4.7, 15.7), (-0.77, 7.0, 14.05), (2.0, 8.0, 0.0)]:
        model = S.ScoreModel(weights=weights, bias=-11.0)
        for tau in (0.5, 0.8):
            kept = {
                r.pid
                for r in df.filter(S.may_reach_threshold(model, tau)).collect()
            }
            w1, w2, w3 = weights
            for pid, tsl, cos in grid:
                best_z = w2 * tsl + w3 * cos + model.bias + max(w1, 0.0)
                best_score = 1.0 / (1.0 + math.exp(-best_z))
                if best_score >= tau:
                    assert pid in kept, (weights, tau, tsl, cos)
                else:
                    assert pid not in kept, (weights, tau, tsl, cos)


def test_gate_validates_threshold():
    import pytest

    with pytest.raises(ValueError, match="threshold"):
        S.may_reach_threshold(S.ScoreModel(), 1.0)
    with pytest.raises(ValueError, match="threshold"):
        S.may_reach_threshold(S.ScoreModel(), 0.0)
