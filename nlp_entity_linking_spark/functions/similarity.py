"""Pairwise similarity features + calibrated logistic score (SURVEY.md §2 I).

Division of labor (north rule: features "scored inside pandas UDF batches",
input_hint: "no per-row Python"):

* token-set Levenshtein — pure built-in column expression (JVM codegen):
  levenshtein() is a Spark built-in, so this never leaves the JVM.
* TF-IDF cosine — sparse join formulation: exact, fully distributed, zero
  UDFs (explode tokens -> idf weights -> pair·token equi-joins -> sum of
  weight products). This is the representation that scales: no dense
  vectors, no vocabulary broadcast into Python.
* Jaro-Winkler + the fused logistic score — ONE Arrow round-trip per batch
  via mapInPandas (SURVEY.md I7): jw has no built-in, so it rides the same
  batch pass that applies the calibrated sigmoid.
* calibration — Platt-style logistic fit on the labeled pairs, driver-side
  numpy on a collected sample (small by construction), coefficients become
  literals in the scoring expression.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Jaro-Winkler (batch python; called only from inside Arrow batches)
# ---------------------------------------------------------------------------


def jaro_winkler_py(s1: str, s2: str, p: float = 0.1, max_l: int = 4) -> float:
    """Standard Jaro-Winkler similarity (Winkler boost above 0.7).

    Reference implementation for the batch scorer and the property tests —
    public-knowledge algorithm (Winkler 1990); no external library exists in
    this environment (jellyfish/rapidfuzz absent), so it is hand-rolled.
    """
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / n1 + matches / n2 + (matches - t) / matches) / 3.0
    if jaro < 0.7:
        return jaro
    l = 0
    for a, b in zip(s1[:max_l], s2[:max_l]):
        if a != b:
            break
        l += 1
    return jaro + l * p * (1.0 - jaro)


# ---------------------------------------------------------------------------
# Vectorized batch Jaro-Winkler — numpy bit-parallel twin of jaro_winkler_py
# (guide §4.2: hand whole Arrow batches to vectorized native code instead of
# looping rows in Python). Equality with the reference is EXACT (same IEEE
# operations in the same association order), enforced bit-for-bit by
# tests/test_similarity.py::test_jw_batch_matches_reference.
# ---------------------------------------------------------------------------

_JW_PAD_A = 0x110000  # > any Unicode code point; A/B pads differ so a pad
_JW_PAD_B = 0x110001  # position can never equal anything, incl. the other pad


def _jw_encode_block(strs: list, width: int, pad: int) -> np.ndarray:
    """list[str] -> (B, max(width, 4)) uint32 code-point matrix, one
    vectorized scatter from a single utf-32 decode of the joined strings
    (min width 4 so the Winkler prefix compare never needs a bounds check).
    """
    n = len(strs)
    out = np.full((n, max(width, 4)), pad, dtype=np.uint32)
    joined = "".join(strs)
    if joined:
        codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
        lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        rows = np.repeat(np.arange(n), lens)
        cols = np.arange(len(codes)) - np.repeat(starts, lens)
        out[rows, cols] = codes
    return out


def _jw_chunk(s1_list: list, s2_list: list) -> np.ndarray:
    """Vectorized Jaro-Winkler over one chunk; requires len <= 63 on the
    second side (match state is one uint64 bitmask per row). The greedy
    window-matching loop runs once per s1 character POSITION over O(B)
    bitmask words — not O(B x L2) boolean matrices — so per-pair cost stays
    near the reference's while the constant factor drops to numpy's."""
    B = len(s1_list)
    n1 = np.fromiter((len(s) for s in s1_list), dtype=np.int64, count=B)
    n2 = np.fromiter((len(s) for s in s2_list), dtype=np.int64, count=B)
    L1 = int(n1.max()) if B else 0
    L2 = int(n2.max()) if B else 0
    A = _jw_encode_block(s1_list, L1, _JW_PAD_A)
    Bc = _jw_encode_block(s2_list, L2, _JW_PAD_B)

    # mask[r, i] = bitmask over j of (s2[r][j] == s1[r][i])
    mask = np.zeros((B, max(L1, 1)), dtype=np.uint64)
    for j in range(L2):
        mask[:, :L1] |= (
            A[:, :L1] == Bc[:, j : j + 1]
        ).astype(np.uint64) << np.uint64(j)

    window = np.maximum(np.maximum(n1, n2) // 2 - 1, 0)
    one = np.uint64(1)
    m2 = np.zeros(B, dtype=np.uint64)  # matched-position bitmask of s2
    m1 = np.zeros((B, max(L1, 1)), dtype=bool)
    matches = np.zeros(B, dtype=np.int64)
    # [lo, hi) window bitmask per row, advanced incrementally with i
    wmask = (one << np.minimum(n2, window + 1).astype(np.uint64)) - one
    for i in range(L1):
        if i > 0:
            # shift amounts clamped to < 64: lanes where the shift would
            # exceed the word are masked out by np.where, but the shift
            # itself must still be defined for them
            grow = (i + window) < n2  # hi grows by one until it hits n2
            g_sh = np.minimum(i + window, 63).astype(np.uint64)
            wmask = np.where(grow, wmask | (one << g_sh), wmask)
            shrink = (i - window) > 0  # lo grows by one once past the window
            s_sh = np.clip(i - window - 1, 0, 63).astype(np.uint64)
            wmask = np.where(shrink, wmask & ~(one << s_sh), wmask)
        avail = mask[:, i] & ~m2 & wmask
        j_bit = avail & (~avail + one)  # lowest set bit = greedy first match
        m2 |= j_bit
        has = avail != 0
        m1[:, i] = has
        matches += has

    mf = matches.astype(np.float64)
    maxm = int(matches.max()) if B else 0
    with np.errstate(divide="ignore", invalid="ignore"):
        if maxm > 0:
            # matched chars of each side in order -> transposition count
            j_idx = np.arange(max(L2, 1), dtype=np.uint64)[None, :]
            m2b = ((m2[:, None] >> j_idx) & one).astype(bool)
            mat1 = np.full((B, maxm), _JW_PAD_A, dtype=np.uint32)
            mat2 = np.full((B, maxm), _JW_PAD_B, dtype=np.uint32)
            p1 = np.cumsum(m1, axis=1) - 1
            p2 = np.cumsum(m2b, axis=1) - 1
            r_i, c_i = np.nonzero(m1)
            mat1[r_i, p1[r_i, c_i]] = A[r_i, c_i]
            r_i, c_i = np.nonzero(m2b)
            mat2[r_i, p2[r_i, c_i]] = Bc[r_i, c_i]
            k_idx = np.arange(maxm, dtype=np.int64)[None, :]
            t = (
                ((mat1 != mat2) & (k_idx < matches[:, None])).sum(axis=1) // 2
            ).astype(np.float64)
        else:
            t = np.zeros(B, dtype=np.float64)
        # same association order as the reference: bitwise-equal results
        jaro = (mf / n1 + mf / n2 + (mf - t) / mf) / 3.0
    eq4 = A[:, :4] == Bc[:, :4]
    l = np.cumprod(eq4, axis=1).sum(axis=1).astype(np.float64)
    boosted = jaro + l * 0.1 * (1.0 - jaro)
    out = np.where(jaro < 0.7, jaro, boosted)
    out = np.where(matches == 0, 0.0, out)
    out = np.where((n1 == 0) | (n2 == 0), 0.0, out)
    eq = np.fromiter(
        (x == y for x, y in zip(s1_list, s2_list)), dtype=bool, count=B
    )
    return np.where(eq, 1.0, out)


# cross-batch memo bound: ~100 B/entry -> ~200 MB/worker worst case; a
# task whose distinct-pair stream exceeds it just loses memo hits.
_JW_MEMO_MAX = 2_000_000


def _jw_batch_np(
    av: np.ndarray,
    bv: np.ndarray,
    chunk: int = 16384,
    memo: dict | None = None,
) -> np.ndarray:
    """Batch Jaro-Winkler: dedup identical (a, b) pairs (candidate batches
    repeat the same normalized surfaces heavily), then compute uniques in
    length-sorted vectorized chunks; pairs with a side > 63 chars take the
    reference row path (no uint64 bitmask).

    memo: optional per-TASK dict carried across Arrow batches by the
    scorer (guide §4.5 — amortize over every batch in the partition):
    looked up once per unique key (a few thousand dict ops per batch, not
    per row), so repeated surfaces across a task's ~50 batches skip the
    numpy pass entirely."""
    n = len(av)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    a_str = np.array(["" if x is None else x for x in av], dtype=object)
    b_str = np.array(["" if x is None else x for x in bv], dtype=object)
    # injective key: len-prefix (NB: pandas str concat drops NUL bytes, so a
    # separator char cannot be trusted to be unambiguous)
    sa = pd.Series(a_str)
    keys = (sa.str.len().astype(str) + ":" + sa + pd.Series(b_str)).to_numpy(
        dtype=object
    )
    codes, _ = pd.factorize(keys)
    first_idx = np.unique(codes, return_index=True)[1]
    ua, ub = a_str[first_idx], b_str[first_idx]
    u = len(ua)
    uo = np.empty(u, dtype=np.float64)
    todo = np.arange(u)
    if memo is not None:
        ukeys = keys[first_idx]
        hits = []
        misses = []
        for i in range(u):
            v = memo.get(ukeys[i])
            if v is None:
                misses.append(i)
            else:
                uo[i] = v
                hits.append(i)
        todo = np.asarray(misses, dtype=np.int64)
    if len(todo):
        ta, tb = ua[todo], ub[todo]
        la = np.fromiter((len(s) for s in ta), dtype=np.int64, count=len(todo))
        lb = np.fromiter((len(s) for s in tb), dtype=np.int64, count=len(todo))
        lens = np.maximum(la, lb)
        big = lens > 63
        if big.any():
            bi = np.nonzero(big)[0]
            uo[todo[bi]] = [
                jaro_winkler_py(x, y) for x, y in zip(ta[bi], tb[bi])
            ]
        small = np.nonzero(~big)[0]
        order = small[np.argsort(lens[small], kind="stable")]
        for s in range(0, len(order), chunk):
            idx = order[s : s + chunk]
            uo[todo[idx]] = _jw_chunk(list(ta[idx]), list(tb[idx]))
        if memo is not None:
            if len(memo) > _JW_MEMO_MAX:
                memo.clear()
            for i in todo:
                memo[ukeys[i]] = uo[i]
    return uo[codes]


# ---------------------------------------------------------------------------
# Token-set Levenshtein — pure built-in path (SURVEY.md I2)
# ---------------------------------------------------------------------------


def token_set_lev_str(ts_a: Column | str, ts_b: Column | str) -> Column:
    """Token-set Levenshtein: 1 - lev(a, b) / max_len, in [0, 1]; JVM-only.

    Inputs are ALREADY-JOINED sorted-unique token strings
    (`F.concat_ws(" ", token_set(tokens))`). The pipeline computes that
    canonical string once per RECORD before the pair attach joins
    (build_features) instead of re-sorting/deduping each record's tokens
    once per pair it appears in.
    """
    a = F.col(ts_a) if isinstance(ts_a, str) else ts_a
    b = F.col(ts_b) if isinstance(ts_b, str) else ts_b
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / denom
    )


# ---------------------------------------------------------------------------
# TF-IDF cosine — sparse, distributed, UDF-free (SURVEY.md I3/I4)
# ---------------------------------------------------------------------------


def tfidf_weights(
    records: DataFrame, tokens_col: str = "tokens", n_docs: int | None = None
) -> DataFrame:
    """records(record_id, tokens) -> (record_id, token, w) with L2-normalized
    smooth tf-idf weights: idf = ln((N+1)/(df+1)) — ubiquitous tokens
    (df≈N) get ~0 weight, which matters for short contexts.

    `token` is the xxhash64 SURROGATE of the token string, not the string:
    every downstream exchange ((record_id, token) tf groupBy, the df agg,
    and pair_cosine's two (id, token) equi-joins) shuffles a fixed 8-byte
    key instead of variable-length text. A 64-bit collision merges two
    tokens' df/weights — negligible against vocabulary sizes, and the cosine
    stays exact in the no-collision case (cross-checked vs pyspark.ml in
    tests/test_ml_crosscheck.py).

    Shuffle anatomy: explode+hash -> groupBy(record_id, token) [tf] ->
    groupBy(token) [df, map-side combined] -> broadcast-join idf back ->
    window-free norm via groupBy(record_id) + rejoin.

    n_docs: callers that already counted the records pass it to avoid a
    second count job (the pipeline counts once per features stage).
    """
    if n_docs is None:
        n_docs = records.count()
    tf = (
        records.select("record_id", F.explode(tokens_col).alias("_ts"))
        .select("record_id", F.xxhash64("_ts").alias("token"))
        .groupBy("record_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = df_.select(
        "token",
        F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1)).alias("idf"),
    )
    w = tf.join(F.broadcast(idf), "token").select(
        "record_id", "token", (F.col("tf") * F.col("idf")).alias("w_raw")
    )
    norms = w.groupBy("record_id").agg(
        F.sqrt(F.sum(F.col("w_raw") * F.col("w_raw"))).alias("_norm")
    )
    return w.join(norms, "record_id").select(
        "record_id", "token", (F.col("w_raw") / F.col("_norm")).alias("w")
    )


def pair_cosine_map_attach(pairs: DataFrame, weights: DataFrame) -> DataFrame:
    """pairs + cos via per-record weight MAPS attached by broadcast — the
    zero-shuffle formulation (guide §8: decide with small rows, move heavy
    bytes once; here the heavy bytes never move at all).

    The shuffle formulation below explodes pairs x tokens(a) (~pairs x
    tokens/record rows — 310M at 1M pages) through an (id_b, token)
    exchange to meet the b-side weights, then pays a (id_a, id_b) partial-
    agg exchange and a final left-join exchange. When the per-record weight
    table fits a broadcast (the same regime where build_features already
    broadcasts its attach sides), ALL of that machinery collapses: one
    1M-entry record_id -> map(token, w) broadcast, two map-side attach
    joins, and a row-local aggregate over a's entries with map lookups into
    b — the whole cosine becomes a single scan-stage projection with ZERO
    exchanges. Measured at 1M pages/33M pairs (quiet window): the cosine
    sub-chain dropped from ~23s (4 exchanges, biggest 310M rows) to the
    cost of the attach probes + ~7s of row-local dot products
    (OPTIMIZATION_r08.md §8).

    Numerics: the dot accumulates in ascending-token order (array_sort
    before map_from_entries), which is DETERMINISTIC across runs and
    layouts — unlike the shuffle path's arrival-order groupBy sum. The two
    paths therefore agree to float ulps, not bits; every bench invariant
    (pair/edge/cluster counts) was re-verified identical under both at
    sf0.1 and 1M pages, and the property tests pin map-path values to the
    numpy reference at 1e-12.

    Scale bound: one broadcast entry per record (~170 B at ~10 tokens per
    record), built twice (the a- and b-side copies differ by alias, so
    exchange reuse cannot dedupe them). build_features sizes both copies
    against the driver heap and falls back to `pair_cosine` beyond it — the
    10^12-row tier keeps the exchange formulation. element_at on Spark's
    ArrayBasedMapData is a linear probe, so per-pair cost is
    O(|tokens_a| x |tokens_b|) — fine at ~10 ctx tokens, another reason
    corpora with fat token sets should stay on the shuffle path.
    """
    wmap = weights.groupBy("record_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("token", "w")))
        ).alias("_wm")
    )
    ma = wmap.select(F.col("record_id").alias("id_a"), F.col("_wm").alias("_wma"))
    mb = wmap.select(F.col("record_id").alias("id_b"), F.col("_wm").alias("_wmb"))
    dot = F.aggregate(
        F.map_entries("_wma"),
        F.lit(0.0),
        lambda acc, e: acc
        + F.coalesce(
            e["value"] * F.try_element_at(F.col("_wmb"), e["key"]), F.lit(0.0)
        ),
    )
    # left joins: a record with zero ctx tokens has no wmap row; its pairs
    # must still come through (cos = 0.0), matching the shuffle path's
    # left-join + fillna semantics.
    return (
        pairs.join(F.broadcast(ma), "id_a", "left")
        .join(F.broadcast(mb), "id_b", "left")
        .withColumn("cos", F.coalesce(dot, F.lit(0.0)))
        .drop("_wma", "_wmb")
    )


def pair_cosine(pairs: DataFrame, weights: DataFrame) -> DataFrame:
    """pairs(id_a, id_b, ...) + weights(record_id, token, w) ->
    pairs + cos column (0.0 when no shared token).

    Exact sparse dot product of L2-normalized vectors: join a-side weights,
    then b-side on (id_b, token) — only shared tokens survive the inner
    join — then sum per pair. The shuffle formulation for corpora whose
    weight maps do not fit a broadcast (`pair_cosine_map_attach` below
    that size; build_features chooses).

    Both weight joins are pinned shuffled-hash with the weights as build
    side (guide §3.1). The planner can't see through a persisted weights
    frame (unknown stats -> sort-merge), but the build side is |weights| /
    shuffle-partitions rows per task — a few MB — while the PROBE side of
    the (id_b, token) join is the exploded pairs x tokens/record
    intermediate (~300M rows at 1M pages): sort-merge would sort it,
    shuffled-hash streams it unsorted (r8: the last SortMergeJoin in the
    features plan, plans/r08/features_after.txt). Broadcasting the weights
    instead lost its A/B at 1M pages (42-60s vs 35-36s): two ~9M-entry hash
    relations built serially on the driver against 64 L2-resident
    ~140k-entry maps built in parallel.
    """
    wa = weights.select(
        F.col("record_id").alias("id_a"), "token", F.col("w").alias("wa")
    ).hint("shuffle_hash")
    wb = weights.select(
        F.col("record_id").alias("id_b"), "token", F.col("w").alias("wb")
    ).hint("shuffle_hash")
    dots = (
        pairs.select("id_a", "id_b")
        .join(wa, "id_a")
        .join(wb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("cos"))
    )
    return pairs.join(dots, ["id_a", "id_b"], "left").fillna({"cos": 0.0})


# ---------------------------------------------------------------------------
# Calibrated logistic score (SURVEY.md I6) + fused batch scorer (I7)
# ---------------------------------------------------------------------------

FEATURES = ("jw", "tsl", "cos")


@dataclass(frozen=True)
class ScoreModel:
    """Versioned logistic coefficients; defaults hand-set, overridden by
    `fit_calibration` on the labeled pairs."""

    # defaults = IRLS fit on the t2-scale labeled fixture (frozen); a run
    # with labeled pairs re-fits via `fit_calibration`.
    weights: tuple[float, float, float] = (0.1, 4.7, 15.7)
    bias: float = -11.0
    version: str = "default-v1"

    def as_dict(self) -> dict:
        return {"weights": list(self.weights), "bias": self.bias,
                "version": self.version}


def fit_calibration(
    labeled_features: pd.DataFrame,
    iters: int = 25,
    ridge: float = 1e-4,
    features: tuple[str, ...] = FEATURES,
) -> tuple[ScoreModel, float]:
    """Platt-style logistic regression on (jw, tsl, cos, is_match) by
    Newton/IRLS — deterministic (zero init, fixed iterations, tiny ridge for
    conditioning). Driver-side numpy: the labeled sample is small by
    construction; fitted coefficients ship to executors as literals.

    features: the subset to fit (ablation / feature-drop refits — e.g.
    ("tsl", "cos") when the full fit assigns jw a non-positive weight);
    absent features get weight EXACTLY 0.0, which downstream scoring
    recognizes as "this feature cannot change any score" (score_edges
    skips the Arrow jw pass entirely when weights[0] == 0.0).

    Returns (model, threshold) where threshold maximizes pairwise F1 on the
    labeled sample (the calibrated decision point the north rule's
    "calibrated logistic match score" thresholds on).
    """
    feats = list(features)
    x = labeled_features[feats].to_numpy(dtype=np.float64)
    y = labeled_features["is_match"].to_numpy(dtype=np.float64)
    n = len(y)
    d = len(feats)
    if n == 0:
        return ScoreModel(), 0.5
    xb = np.hstack([x, np.ones((n, 1))])
    w = np.zeros(d + 1)
    for _ in range(iters):
        z = xb @ w
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = xb.T @ (p - y) / n + ridge * w
        r = np.maximum(p * (1 - p), 1e-9)
        h = (xb * r[:, None]).T @ xb / n + ridge * np.eye(d + 1)
        w -= np.linalg.solve(h, g)
    full = dict(zip(feats, (float(v) for v in w[:d])))
    version = "fitted-v1" if feats == list(FEATURES) else (
        "fitted-" + "+".join(feats) + "-v1"
    )
    model = ScoreModel(
        tuple(full.get(f, 0.0) for f in FEATURES), float(w[d]), version
    )
    # threshold sweep: maximize F1 over the labeled scores
    z = xb @ w
    p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
    best_t, best_f1 = 0.5, -1.0
    n_pos = y.sum()
    for t in np.arange(0.05, 0.96, 0.01):
        pred = p >= t
        tp = float((pred & (y == 1)).sum())
        fp = float((pred & (y == 0)).sum())
        fn = float(n_pos - tp)
        f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
        if f1 > best_f1:
            best_f1, best_t = f1, float(t)
    return model, best_t


def score_pairs(
    pairs: DataFrame,
    model: ScoreModel,
    n_partitions: int | None = None,
) -> DataFrame:
    """Fused feature+score batch pass (SURVEY.md I7).

    Input must carry the surfaces `norm_a`/`norm_b` and the JVM-computed
    `tsl` and `cos`. One mapInArrow pass per partition computes
    Jaro-Winkler and the calibrated sigmoid — a single Arrow round-trip;
    batch size bounded by spark.sql.execution.arrow.maxRecordsPerBatch.

    Fast path: when model.weights[0] == 0.0 (fit_calibration's marker for
    "jw dropped from the model") the pass never leaves the JVM — score is a
    codegen sigmoid over tsl/cos and `jw` comes back NULL (never computed).
    Same output schema, zero Python surface.

    Any incoming `jw`/`score` column is DROPPED and recomputed: both names
    are this pass's outputs, so keeping them would duplicate field names at
    analysis (the legitimate case — re-scoring previously scored pairs
    under a new calibration — wants exactly that recompute; callers who
    need the old jw kept should rescore via `logistic_expr` instead).

    n_partitions: explicit parallelism for the Python-worker pass. AQE's
    size-based coalescing targets ~64 MiB *JVM* partitions, which is far
    too coarse for a CPU-bound UDF stage — left alone it can funnel the
    whole table through 2-3 Python workers. Default: 2x defaultParallelism.
    The input is taken to be spark.sql.shuffle.partitions wide, the width
    of the shuffled joins that feed it in the pipeline.
    """
    stale = [c for c in ("jw", "score") if c in pairs.columns]
    if stale:
        pairs = pairs.drop(*stale)
    if model.weights[0] == 0.0:
        # jw weight EXACTLY 0.0 (the fit_calibration feature-drop marker, or
        # a hand-zeroed model): Jaro-Winkler cannot move any score, so the
        # whole pass stays JVM-side — no Arrow crossing, no Python workers,
        # no repartition for a worker pool, codegen sigmoid over the
        # existing tsl/cos columns. The engine's single most expensive
        # per-pair cost disappears whenever calibration proves jw carries no
        # signal (see the jw-ablation note in README). `jw` is emitted as
        # NULL, not a fake number: it was never computed, and downstream
        # must not mistake it for a similarity of 0.
        return pairs.withColumn("jw", F.lit(None).cast("double")).withColumn(
            "score", logistic_expr(model)
        )
    spark = pairs.sparkSession
    if n_partitions is None:
        n_partitions = 2 * spark.sparkContext.defaultParallelism
    # repartition only when the input is under-partitioned for the worker
    # pool: a redundant repartition costs a full disk shuffle — in local
    # mode shuffles share ONE disk, so gratuitous shuffles anti-scale.
    if int(spark.conf.get("spark.sql.shuffle.partitions")) < n_partitions // 2:
        pairs = pairs.repartition(n_partitions)
    w1, w2, w3 = model.weights
    b0 = model.bias
    in_names = [f.name for f in pairs.schema.fields]
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in pairs.schema.fields)
    out_schema = f"{in_fields}, jw double, score double"
    ia, ib = in_names.index("norm_a"), in_names.index("norm_b")
    it, ic = in_names.index("tsl"), in_names.index("cos")
    out_names = in_names + ["jw", "score"]

    def scorer(batches):
        # mapInArrow, not mapInPandas (guide §4.1/§4.2): only the four
        # columns the scorer READS are materialized into numpy; the
        # passthrough columns (ids, block key, surfaces) are re-emitted as
        # the ORIGINAL Arrow arrays with zero pandas round-trip. The old
        # pandas form paid an object-string conversion of every column both
        # ways — measured at 1M pages it was ~half the stage wall.
        import pyarrow as pa

        memo: dict = {}  # per-task, carried across this partition's batches
        for batch in batches:
            a = batch.column(ia).to_numpy(zero_copy_only=False)
            b = batch.column(ib).to_numpy(zero_copy_only=False)
            jw = _jw_batch_np(a, b, memo=memo)
            tsl = batch.column(it).to_numpy(zero_copy_only=False)
            cos = batch.column(ic).to_numpy(zero_copy_only=False)
            # identical numpy expression (and association order) as the
            # previous pandas scorer: scores are bit-for-bit unchanged
            z = w1 * jw + w2 * tsl + w3 * cos + b0
            score = 1.0 / (1.0 + np.exp(-z))
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [pa.array(jw), pa.array(score)],
                names=out_names,
            )

    return pairs.mapInArrow(scorer, schema=out_schema)


def may_reach_threshold(model: ScoreModel, threshold: float) -> Column:
    """JVM cheap-reject gate for the Python Jaro-Winkler pass: True iff
    SOME jw in [0, 1] could push this pair's score to `threshold`.

    score = sigmoid(w1*jw + w2*tsl + w3*cos + b) is monotone in z, and jw
    is bounded in [0, 1], so z_max = w2*tsl + w3*cos + b + max(w1, 0) is a
    mathematical upper bound; z_max < logit(threshold) proves score <
    threshold for EVERY possible jw. tsl and cos are already JVM columns,
    so the gate is a codegen filter — pairs it rejects are certain
    non-edges and never pay the Arrow crossing or the per-pair jw DP.

    Float honesty: the gate's JVM sum (w2*tsl + w3*cos) + (b + max(w1,0))
    and the scorer's numpy sum ((w1*jw + w2*tsl) + w3*cos) + b associate
    differently, and the scorer compares sigmoid(z) >= t while the gate
    compares z against log(t/(1-t)) — each a few-ulp discrepancy that
    could drop a pair sitting EXACTLY on the boundary. The comparison
    therefore concedes a 1e-9 margin in z-space (~10^4 ulps at |z|~20,
    vastly above the worst-case reordering error, and ~1e-10 in score
    units — no real pair is decided by it). The margin only ever ADMITS
    extra pairs, which the exact scorer then rejects like any other
    non-edge; it can never drop one. Net: the surviving set provably
    contains every pair score_pairs would pass at `threshold` (tests prove
    set equality of the edges).

    In a webtext ER pipeline most candidate pairs sit far below the match
    band, so this shrinks the Python surface to the band + accepts.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    import math

    w1, w2, w3 = model.weights
    z_max = (
        F.lit(w2) * F.col("tsl")
        + F.lit(w3) * F.col("cos")
        + F.lit(model.bias + max(w1, 0.0))
    )
    return z_max >= math.log(threshold / (1.0 - threshold)) - 1e-9


def logistic_expr(model: ScoreModel) -> Column:
    """Pure-JVM sigmoid over existing jw/tsl/cos columns — score_pairs's
    w1 == 0 fast path, and re-scoring pairs whose jw is already
    materialized under a new calibration.

    A w1==0 model (jw dropped by calibration) never references the jw
    column at all: the fast path emits jw as NULL for such models, and
    SQL's 0 * NULL = NULL would otherwise null the score. The explicit
    F.lit(1.0) operands keep Catalyst's printed expression as
    `1.0 / (1.0 + EXP(..))` (a bare Python 1.0 on the left flips it to
    `EXP(..) + 1.0`)."""
    w1, w2, w3 = model.weights
    z = (
        F.lit(w2) * F.col("tsl")
        + F.lit(w3) * F.col("cos")
        + F.lit(model.bias)
    )
    if w1 != 0.0:
        z = F.lit(w1) * F.col("jw") + z
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
