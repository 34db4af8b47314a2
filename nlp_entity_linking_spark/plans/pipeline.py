"""End-to-end entity-resolution pipeline (SURVEY.md §3.1 stage graph).

ingest -> extract/records -> block (minhash-LSH ∥ sorted-neighborhood, hot
keys salted) -> candidate pairs -> JVM features (token-set Levenshtein,
TF-IDF cosine) -> fused pandas-UDF batch scoring (Jaro-Winkler + calibrated
logistic) -> threshold -> large-star/small-star connected components ->
clusters (+ singletons) -> pairwise F1 vs labeled pairs.

This module is the *logic*; plans/run.py adds the catalog (atomic commits,
lineage, resume) around each stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity as S
from ..operators import blocking as B
from ..operators import cc as CC
from ..operators import evaluate as E
from ..operators import records as R


@dataclass(frozen=True)
class PipelineConfig:
    minhash_k: int = 64
    bands: int = 8  # 8 bands x 8 rows -> LSH threshold ~0.77 (precision-lean;
    # SNB + CC transitivity carry borderline recall)
    shingle_n: int = 3
    salt_cap: int = 64
    snb_window: int = 3
    # default = cluster-level-F1-optimal on the frozen fixtures; a labeled
    # run re-selects via `select_threshold` (precision-first: CC amplifies
    # recall transitively).
    score_threshold: float = 0.8
    use_snb: bool = True
    # third blocker family (Christen '12): Soundex keys on the leading
    # normalized tokens catch same-sounding spelling variants whose shingle
    # sets diverge past the LSH threshold AND whose sort keys diverge past
    # the SNB window ('smith'/'smyth'). Off by default — it buys recall on
    # phonetic-variant-heavy corpora at the cost of extra candidate pairs
    # (measured in test_pipeline.py::test_phonetic_blocker_recall).
    use_phonetic: bool = False
    model: S.ScoreModel = field(default_factory=S.ScoreModel)
    max_cc_iter: int = 25


def build_records(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return R.extract_records(pages, shingle_n=cfg.shingle_n)


def build_candidate_pairs(
    records: DataFrame,
    cfg: PipelineConfig,
    cache_registry: list | None = None,
) -> DataFrame:
    # persist: salting reads blocks twice (hot-key sizes + the salt join),
    # and recomputing blocks means recomputing minhash signatures.
    # cache_registry (as in build_features): long-running callers collect
    # the internal persists and unpersist them after materialization.
    blocks = B.lsh_blocks(
        records, "shingles", k=cfg.minhash_k, bands=cfg.bands
    ).persist()
    if cache_registry is not None:
        cache_registry.append(blocks)
    # hot keys are salted, and the salted shards bridged so connected
    # components can merge them again (B.salted_pairs); dedup once across
    # all enabled blockers (merge_pairs) — one (id_a, id_b) exchange total
    parts = [B.salted_pairs(blocks, B.hot_keys(blocks, cfg.salt_cap))]
    if cfg.use_snb:
        parts.append(
            B.snb_pairs(
                records, "norm", window=cfg.snb_window,
                cache_registry=cache_registry,
            )
        )
    if cfg.use_phonetic:
        ph = B.phonetic_blocks(records)
        parts.append(B.salted_pairs(ph, B.hot_keys(ph, cfg.salt_cap)))
    return B.merge_pairs(*parts)


def build_features(
    records: DataFrame,
    pairs: DataFrame,
    cfg: PipelineConfig,
    cache_registry: list | None = None,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """pairs + (norm_a, norm_b, tsl, cos) — everything here is JVM-side.

    tsl compares the normalized surface token sets; cos compares the page
    *context* (full extracted text) under TF-IDF — the disambiguator for
    near-identical names.

    cache_registry: long-running callers (streaming foreachBatch) pass a
    list to collect the internally persisted frames and unpersist them after
    materializing downstream results — otherwise cached TF-IDF weights
    accumulate per micro-batch and erode executor storage memory.
    """
    # ORDER MATTERS for shuffle bytes: run the TF-IDF cosine join while the
    # pair rows are THIN (ids + block_key only) — its (id_a, id_b) exchange
    # then moves 3 longs/row instead of two token arrays + surfaces — and
    # attach the per-record surfaces/tokens afterwards (those joins shuffle
    # the thin records table, same cost either way).
    # ONE aggregate job powers both tfidf's n_docs and the map-side
    # decision. corpus_stats=(n_docs, tok): callers that already KNOW both
    # (the streaming path accumulates them per epoch in the catalog marker)
    # pass them and this stage fires no corpus scan at all — per-batch
    # driver work stays O(batch) instead of one O(corpus) agg per
    # micro-batch.
    if corpus_stats is not None:
        n_docs, tok = corpus_stats
    else:
        stats = records.agg(
            F.count("*").alias("n"), F.sum(F.size("ctx_tokens")).alias("tok")
        ).collect()[0]
        n_docs, tok = stats["n"], stats["tok"]
    # one strategy for both the cosine and the attach joins. Map-side: the
    # per-record weight maps and the thin attach table are broadcast and the
    # whole features stage crosses ZERO exchanges on the pair spine
    # (S.pair_cosine_map_attach — r8 collapsed the 310M-row (id_b, token)
    # exchange, the partial-agg exchange and the dots left-join at 1M
    # pages). Otherwise the shuffled-hash joins — the 10^12-row path.
    map_side = map_side_fits(n_docs, tok or 0, _driver_max_heap(records))
    weights = S.tfidf_weights(records, "ctx_tokens", n_docs=n_docs)
    thin_pairs = pairs.select("id_a", "id_b", "block_key")
    if map_side:
        # the two wmap broadcasts each recompute the TF-IDF lineage — A/B-
        # measured CHEAPER than persisting it (22.2s vs 26.6s min-of-4 at
        # 1M pages): the duplicate builds run in parallel inside the two
        # broadcast jobs, while a persist serializes one 9.4M-row cache
        # materialization before either can start.
        cosed = S.pair_cosine_map_attach(thin_pairs, weights)
    else:
        # the weights feed three subplans on the shuffle path
        weights = weights.persist()
        if cache_registry is not None:
            cache_registry.append(weights)
        cosed = S.pair_cosine(thin_pairs, weights)
    # per-record token-set string computed ONCE per record BEFORE the attach
    # joins (guide §2.3 "project before the exchange"): a per-pair form
    # would re-sort/dedup each record's token array once per pair it
    # appears in (~pairs/records x duplicate work at 33M pairs / 1M
    # records) and ship the token ARRAYS through both attach exchanges;
    # the joined string is smaller and the tsl value is the same.
    from ..functions.normalize import token_set

    thin = records.select(
        "record_id",
        "norm",
        F.concat_ws(" ", token_set("tokens")).alias("_ts"),
    )
    a = thin.select(
        F.col("record_id").alias("id_a"),
        F.col("norm").alias("norm_a"),
        F.col("_ts").alias("_ts_a"),
    )
    b = thin.select(
        F.col("record_id").alias("id_b"),
        F.col("norm").alias("norm_b"),
        F.col("_ts").alias("_ts_b"),
    )
    # under the map-side budget the thin (id, norm, ts) record table is
    # broadcast too, and the 33M-pair fact table crosses ZERO attach
    # exchanges instead of two full exchanges + sorts of the fat pair rows.
    wrap = F.broadcast if map_side else (lambda d: d)
    feat = (
        cosed.join(wrap(a), "id_a")
        .join(wrap(b), "id_b")
        .withColumn("tsl", S.token_set_lev_str("_ts_a", "_ts_b"))
    )
    return feat.select(
        "id_a", "id_b", "block_key", "norm_a", "norm_b", "tsl", "cos"
    )


# Map-side features budget (build_features). Bytes per broadcast entry, as
# framed rows: a weight map costs ~170 B per record at ~10 ctx tokens — ~17 B
# per (token, w) entry — and is built twice (a- and b-side copies); the thin
# attach row (8-byte id + two short strings) costs ~60 B.
WMAP_BYTES_PER_TOKEN = 17
ATTACH_BYTES_PER_RECORD = 60
# The estimate must fit this share of the driver's max heap: the driver
# holds each broadcast's collected rows and its built hash relation at
# once, so the peak is about twice the estimate.
MAP_SIDE_HEAP_SHARE = 1 / 8
# ...and the record count within the cap r8 ran the map path under (it
# measured map-attach beating the shuffle path at 1M pages: 22.2s vs 35.8s).
MAP_SIDE_MAX_RECORDS = 2_000_000


def map_side_fits(n_docs: int, tok: int, heap_bytes: int) -> bool:
    """True when build_features' broadcasts — both weight-map copies plus
    the thin attach table — fit the driver heap budget. tok (total
    ctx-token instances) upper-bounds the distinct (record, token) entries,
    so the token volume gates the maps, not only the record count."""
    est = 2 * WMAP_BYTES_PER_TOKEN * tok + ATTACH_BYTES_PER_RECORD * n_docs
    return (
        n_docs <= MAP_SIDE_MAX_RECORDS
        and est <= MAP_SIDE_HEAP_SHARE * heap_bytes
    )


def _driver_max_heap(df: DataFrame) -> int:
    """The driver JVM's max heap, read over py4j — no Spark job."""
    jvm = df.sparkSession._jvm
    return int(jvm.java.lang.Runtime.getRuntime().maxMemory())


# IRLS needs thousands of labeled pairs, not millions: cap the driver-side
# collect so a caller with 10^8 labeled pairs can't OOM the driver.
CALIBRATION_SAMPLE_CAP = 1_000_000


def bounded_labeled_sample(labeled: DataFrame, cap: int) -> DataFrame:
    """Deterministic (seed-free, partition-layout-free) down-sample of a
    labeled-pair DataFrame to ~cap rows: keep pairs whose xxhash64 lands in
    1 of ceil(n/cap) residue classes. No-op when already under cap."""
    from ..functions.sampling import bounded_sample

    return bounded_sample(labeled, ("id_a", "id_b"), cap)


def calibrate(
    features: DataFrame, labeled_pairs: DataFrame, cfg: PipelineConfig
) -> "PipelineConfig":
    """Platt-style calibration (SURVEY.md I6): score a bounded labeled
    sample once with the default model to materialize jw, fit logistic
    coefficients + max-F1 threshold driver-side, return an updated config.

    The toPandas() is bounded by CALIBRATION_SAMPLE_CAP via a deterministic
    xxhash-residue filter — calibration quality saturates long before 10^6
    pairs, and an unbounded collect is a driver OOM at real labeled-set
    sizes.

    When the full fit gives Jaro-Winkler a NON-POSITIVE weight (measured at
    sf0.1: w = (-0.957, 3.566, 17.204) — jw is anti-predictive after
    tsl/cos on this corpus), the model is refit on (tsl, cos) alone. The
    refit pins jw's weight to EXACTLY 0.0, which score_pairs recognizes and
    skips the Arrow/Python pass entirely — scoring goes full-JVM. A w1 <= 0
    model buys nothing (the cheap-reject gate already ignores negative w1
    via max(w1, 0)), so the only cost is one more driver-side solve on the
    same sample (tests/test_pipeline.py::test_calibrate_drops_nonpositive_jw)."""
    import dataclasses

    lf = features.join(
        labeled_pairs.select("id_a", "id_b", "is_match"), ["id_a", "id_b"]
    )
    lf = bounded_labeled_sample(lf, CALIBRATION_SAMPLE_CAP)
    # the scoring model here exists only to MATERIALIZE jw for the fit (the
    # score column is unused); a w1==0 incoming model would take the JVM
    # fast path and return jw=NULL, so substitute one that computes it —
    # calibration must always be able to re-measure jw's predictive value
    # on a new corpus, even when the previous fit dropped it.
    mat_model = cfg.model if cfg.model.weights[0] != 0.0 else S.ScoreModel()
    scored = S.score_pairs(lf, mat_model)
    sample = scored.select("jw", "tsl", "cos", "is_match").toPandas()
    model, threshold = S.fit_calibration(sample)
    if model.weights[0] <= 0.0:
        model, threshold = S.fit_calibration(sample, features=("tsl", "cos"))
    return dataclasses.replace(cfg, model=model, score_threshold=threshold)


def score_edges(features: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Fused batch scoring -> thresholded undirected match edges (D4). The
    one edge-scoring step: batch, streaming epochs and compaction all call
    it (streaming callers `.select("id_a", "id_b")`, and Catalyst prunes
    the unused columns).

    Certain-rejects are dropped JVM-side BEFORE the Python Jaro-Winkler
    pass (S.may_reach_threshold): jw is bounded in [0, 1], so pairs whose
    best-case score can't reach the threshold never cross into Arrow. The
    gate is exact — it only removes pairs the score filter would drop — so
    the edges equal the ungated score_pairs + threshold filter; what shrinks
    is the Python surface, the dominant CPU cost of the engine.
    """
    features = features.filter(
        S.may_reach_threshold(cfg.model, cfg.score_threshold)
    )
    scored = S.score_pairs(features, cfg.model)
    return scored.select(
        "id_a",
        "id_b",
        "block_key",
        "score",
        F.struct("jw", "tsl", "cos").alias("features"),
    ).filter(F.col("score") >= cfg.score_threshold)


def cluster(records: DataFrame, edges: DataFrame, cfg: PipelineConfig) -> DataFrame:
    labels = CC.connected_components(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
        max_iter=cfg.max_cc_iter,
    )
    return CC.attach_singletons(labels, records)


THRESHOLD_CANDIDATES = (0.5, 0.65, 0.8, 0.9)


def select_threshold(
    scored: DataFrame,
    records: DataFrame,
    labeled_pairs: DataFrame,
    cfg: PipelineConfig,
) -> tuple[float, dict]:
    """Pick the edge threshold among THRESHOLD_CANDIDATES that maximizes
    CLUSTER-level F1 on the labeled pairs (not pair-level: connected components amplify recall
    transitively, so the operating point should be precision-first — a
    pair-level sweep systematically under-thresholds).

    Small graphs (the edges at min(candidates) within CC.SMALL_GRAPH_EDGES)
    are swept in one pass: the edges are collected once, one driver
    union-find labels every candidate (threshold subgraphs are nested), and
    ONE pairwise_confusion aggregate scores all of them — a handful of jobs
    instead of a CC + F1 evaluation per candidate.

    Larger graphs run one distributed CC + F1 per candidate. There `scored`
    must be persisted by the caller (it is re-read per candidate), and the
    independent evaluations run on a driver-side thread pool: Spark job
    submission is thread-safe, and a sequential sweep leaves the cluster
    idle between each CC iteration's jobs — concurrent submission overlaps
    them (measured ~3x on the test fixture; on a real cluster it fills
    executors the serial loop would leave cold).

    Either way result selection replays candidate order, so the winner
    (first strictly-greater F1) is identical to a serial sweep.
    """
    from concurrent.futures import ThreadPoolExecutor

    candidates = THRESHOLD_CANDIDATES
    swept = scored.filter(F.col("score") >= min(candidates)).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v"), "score"
    )
    if swept.count() <= CC.SMALL_GRAPH_EDGES:
        metrics = _sweep_small_graph(
            swept.collect(), records, labeled_pairs, candidates
        )
    else:

        def evaluate(t: float) -> dict:
            edges = scored.filter(F.col("score") >= t).select(
                F.col("id_a").alias("u"), F.col("id_b").alias("v")
            )
            labels = CC.connected_components(edges, max_iter=cfg.max_cc_iter)
            clusters = CC.attach_singletons(labels, records)
            return E.f1_metrics(labeled_pairs, clusters)

        with ThreadPoolExecutor(max_workers=len(candidates)) as pool:
            metrics = list(pool.map(evaluate, candidates))
    best = (0.5, {"f1": -1.0})
    for t, m in zip(candidates, metrics):
        if m["f1"] > best[1]["f1"]:
            best = (t, m)
    return best


def _sweep_small_graph(
    rows: list,
    records: DataFrame,
    labeled_pairs: DataFrame,
    candidates: tuple[float, ...],
) -> list[dict]:
    """F1 metrics per candidate from collected (u, v, score) edge rows: one
    driver union-find pass, one label column per candidate, one aggregate."""
    labelings = CC.driver_union_find(rows, candidates)
    cols = [f"c{i}" for i in range(len(candidates))]
    # the lowest threshold's graph holds every vertex of the others
    vertices = labelings[candidates.index(min(candidates))]
    labels = records.sparkSession.createDataFrame(
        [(x, *(lab.get(x) for lab in labelings)) for x in vertices],
        ", ".join(["record_id long"] + [f"{c} long" for c in cols]),
    )
    clusters = CC.attach_singletons(labels, records)
    row = E.pairwise_confusion(labeled_pairs, clusters, cols).collect()[0]
    return [E.f1_from_confusion(row[c]) for c in cols]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Run every stage lazily; returns the named stage DataFrames."""
    cfg = cfg or PipelineConfig()
    records = build_records(pages, cfg).persist()
    pairs = build_candidate_pairs(records, cfg)
    features = build_features(records, pairs, cfg)
    edges = score_edges(features, cfg)
    clusters = cluster(records, edges, cfg)
    return {
        "records": records,
        "candidate_pairs": pairs,
        "features": features,
        "match_edges": edges,
        "clusters": clusters,
    }


def evaluate(
    clusters: DataFrame, labeled_pairs: DataFrame
) -> dict:
    return E.f1_metrics(labeled_pairs, clusters)
