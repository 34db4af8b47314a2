"""Similarity search over embedding columns (driver brief: brute-force
cosine top-k baseline + an LSH-bucketed variant as the scale path).

Representations: embeddings as array<float>; all math is promoted to double
explicitly. Two paths:

* brute_force_topk — exact: broadcast the (small) query set, JVM-side
  sequential dot product via zip_with/aggregate (no Python), ranking window
  for top-k. O(|corpus| x |queries|) — the baseline and the verifier.
* lsh_topk — scale path: random-hyperplane (SimHash-for-vectors, Charikar
  '02) signatures bucket the corpus; only same-bucket candidates get exact
  cosine. Multiple hash tables raise recall. ALL tables' signatures come
  from ONE Arrow-batched pandas UDF pass whose hyperplanes are a seeded
  numpy matrix built worker-side — zero plan literals (a literal-plane plan
  at real embedding dims (768-3072) x 6-8 tables is 10^5-10^6 literal
  doubles: plan explosion, codegen fallback, driver OOM on explain), zero
  driver-side dim probes, and the corpus is scanned once (posexplode over
  tables, not one union branch per table).
* cosine_neardup_pairs — embedding near-duplicate detection (the 5th dedup
  family): LSH-bucketed self-join + exact cosine >= threshold.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    """Sequential double-precision dot product of two array columns —
    deterministic element order (matches DuckDB's list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    return dot(a, b) / (l2norm(a) * l2norm(b))


def guarded_l2norm(a) -> Column:
    """L2 norm floored at 1e-12 — the norm to ATTACH for verify stages: an
    all-zero embedding otherwise turns the ANSI-mode cosine division into a
    hard DIVIDE_BY_ZERO job failure; with the floor it scores cos=0 against
    everything (the UDF paths apply the same guard). For any non-zero
    vector greatest(norm, 1e-12) IS the norm bit-for-bit, so oracle rows
    are unaffected."""
    return F.greatest(l2norm(a), F.lit(1e-12))


def cosine_with_norms(a, b, norm_a, norm_b) -> Column:
    """Cosine when the per-record L2 norms are already materialized: ONE
    O(dim) interpreted-HOF dot per pair instead of three (HOF lambdas never
    reach codegen, so the verify stage of every candidate join pays them
    per element — and a record's norm was being recomputed for every pair
    it appears in). Same float ops in the same order as `cosine`, so
    results are bit-identical (oracle rows unaffected); measured 11.5x on
    the pair-verify stage at dim=768 under the scale-representative
    shuffle join — and ~3.5x faster than an Arrow/numpy dot, whose two
    vector columns pay the Python crossing (tools/bench_ann_verify.py)."""
    return dot(a, b) / (norm_a * norm_b)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cos_sim, rank).

    queries must be small (it is broadcast); the corpus is scanned once.
    Ties broken by corpus id for full determinism.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        guarded_l2norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        guarded_l2norm(F.col(vec_col)).alias("_cn"),
    )
    sims = c.join(F.broadcast(q)).select(
        query_id_col,
        id_col,
        cosine_with_norms(
            F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def rp_signatures(n_planes: int, n_tables: int, seed: int):
    """Pandas-UDF factory: array<float> embedding -> array<long> of
    `n_tables` random-hyperplane signatures (one bit per plane = sign of the
    projection, packed little-endian).

    The hyperplane matrix is seeded numpy built LAZILY inside the UDF from
    (seed, table, batch width): deterministic across runs and partitionings,
    independent of cluster layout, with zero literals in the logical plan
    and no driver-side `.first()` dim probe. One matmul per Arrow batch
    covers every table ((n, dim) @ (dim, tables*planes))."""
    if not 0 < n_planes <= 63:
        raise ValueError("n_planes must be in 1..63 (packed into a signed long)")

    @F.pandas_udf("array<long>")
    def sigs(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        planes_t = None  # (dim, n_tables * n_planes); built on first batch
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        for vecs in batches:
            if len(vecs) == 0:
                yield pd.Series([], dtype=object)
                continue
            v = np.stack(vecs.to_numpy()).astype(np.float64)
            if planes_t is None:
                dim = v.shape[1]
                planes_t = np.concatenate(
                    [
                        np.random.RandomState(seed + 1000 * t).randn(n_planes, dim)
                        for t in range(n_tables)
                    ]
                ).T
            bits = (v @ planes_t) > 0  # (n, tables*planes)
            packed = (
                bits.reshape(len(v), n_tables, n_planes) * weights
            ).sum(axis=2)  # (n, tables) int64
            yield pd.Series(list(packed))

    return sigs


def rp_probe_signatures(n_planes: int, n_tables: int, seed: int, n_probe: int):
    """Pandas-UDF factory for MULTI-PROBE query signatures (Lv et al.,
    VLDB'07): per table, the base random-hyperplane signature plus the
    (n_probe - 1) single-bit-flip variants at the planes with the smallest
    projection margin |v.p| — the buckets a near neighbor most likely fell
    into when it landed just across a hyperplane. Same seeded worker-side
    plane matrix as rp_signatures (bit-compatible base signatures), so
    probe buckets join directly against rp_buckets corpus output.

    Raises recall without more tables or corpus scans: only the (small)
    query side fans out x n_probe. Returns array<long> of length
    n_tables * n_probe, ordered [table0 probes..., table1 probes...]."""
    if not 0 < n_planes <= 63:
        raise ValueError("n_planes must be in 1..63 (packed into a signed long)")
    if n_probe < 1:
        raise ValueError("n_probe must be >= 1")
    if n_probe > n_planes + 1:
        # the flip loop indexes flip_rank[:, :, p-1] along the planes axis;
        # past n_planes+1 probes it would die with an opaque numpy
        # IndexError inside the executor UDF
        raise ValueError("n_probe must be <= n_planes + 1")

    @F.pandas_udf("array<long>")
    def sigs(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        planes_t = None
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        for vecs in batches:
            if len(vecs) == 0:
                yield pd.Series([], dtype=object)
                continue
            v = np.stack(vecs.to_numpy()).astype(np.float64)
            if planes_t is None:
                dim = v.shape[1]
                planes_t = np.concatenate(
                    [
                        np.random.RandomState(seed + 1000 * t).randn(n_planes, dim)
                        for t in range(n_tables)
                    ]
                ).T
            proj = v @ planes_t  # (n, tables*planes)
            bits = proj > 0
            packed = (
                bits.reshape(len(v), n_tables, n_planes) * weights
            ).sum(axis=2)  # (n, tables)
            # flip order: ascending |margin| per table
            margins = np.abs(proj).reshape(len(v), n_tables, n_planes)
            flip_rank = np.argsort(margins, axis=2)  # (n, tables, planes)
            out = np.empty((len(v), n_tables, n_probe), dtype=np.int64)
            out[:, :, 0] = packed
            for p in range(1, n_probe):
                out[:, :, p] = packed ^ weights[flip_rank[:, :, p - 1]]
            yield pd.Series(list(out.reshape(len(v), -1)))

    return sigs


def rp_buckets(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """(id, bucket) — one row per (row, table), bucket = xxhash64(table,
    sig): an 8-byte long key (same key-width policy as blocking.py — hash
    keys shuffle/compare cheaper than formatted strings). THIN by design:
    the embedding never rides the explode or the bucket shuffle; callers
    re-attach vectors to the (much smaller) candidate set.

    The bucket column carries its build params in column METADATA
    (rp_params = "p{planes}t{tables}s{seed}") — Spark persists StructField
    metadata through parquet, so an index staged at ingest self-describes
    and lsh_topk(corpus_buckets=...) can reject a staged table whose params
    differ from the query side (mismatched params make query buckets never
    hit corpus buckets: recall silently collapses to ~0)."""
    sig_udf = rp_signatures(n_planes, n_tables, seed)
    return df.select(
        F.col(id_col), F.posexplode(sig_udf(F.col(vec_col))).alias("_tbl", "_sig")
    ).select(
        id_col,
        F.xxhash64(F.col("_tbl").cast("int"), F.col("_sig")).alias(
            "bucket",
            metadata={"rp_params": _rp_params_tag(n_planes, n_tables, seed)},
        ),
    )


def _rp_params_tag(n_planes: int, n_tables: int, seed: int) -> str:
    return f"p{n_planes}t{n_tables}s{seed}"


def rp_probe_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    seed: int,
    n_probe: int,
) -> DataFrame:
    """Multi-probe QUERY buckets: n_tables * n_probe thin rows per query,
    bucket keys bit-compatible with rp_buckets corpus output (the probe
    index maps back to its table via pos div n_probe; the same int table
    index + long sig feed the same xxhash64)."""
    sig_udf = rp_probe_signatures(n_planes, n_tables, seed, n_probe)
    return df.select(
        F.col(id_col), F.posexplode(sig_udf(F.col(vec_col))).alias("_pos", "_sig")
    ).select(
        id_col,
        F.xxhash64(
            (F.col("_pos") / n_probe).cast("int"), F.col("_sig")
        ).alias("bucket"),
    )


def quantized_rp_bucket(vec_col, n_planes: int = 8) -> Column:
    """Oracle-checkable twin of `rp_signatures`: random-hyperplane bucketing
    in EXACT INTEGER arithmetic, cross-engine reproducible bit-for-bit.

    Vectors are quantized to round(x*1000) longs; plane components are
    Rademacher signs from a fixed LCG of (plane, dim) — so the projection is
    a pure int sum whose sign DuckDB computes identically (no float
    accumulation-order hazard at the sign boundary). HOF-interpreted, meant
    for oracle/verification use; the production scale path is the
    numpy-backed `rp_signatures`."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    qv = F.transform(v, lambda x: F.round(x.cast("double") * 1000, 0).cast("long"))
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        # sign(p, d) = 1 - 2 * bit16(LCG(d + 64p)) — deterministic +-1
        signs = F.transform(
            F.sequence(F.lit(1), F.size(qv)),
            lambda d: (
                F.lit(1).cast("long")
                - F.lit(2).cast("long")
                * F.shiftright(
                    F.pmod(
                        F.lit(1103515245).cast("long")
                        * (d.cast("long") + F.lit(64 * p).cast("long"))
                        + F.lit(12345).cast("long"),
                        F.lit(2147483648).cast("long"),
                    ),
                    16,
                ).bitwiseAND(F.lit(1).cast("long"))
            ),
        )
        proj = F.aggregate(
            F.zip_with(qv, signs, lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def quantized_ivf_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 1,
) -> DataFrame:
    """Oracle-checkable twin of the IVF coarse quantizer: cell assignment in
    EXACT INTEGER arithmetic, cross-engine reproducible bit-for-bit.

    Same machinery as production ivf_topk — score every (vector, cell),
    rank, keep the top n_probe cells per vector (corpus: n_probe=1 assigns
    the inverted list; queries: n_probe=k gives the probe set) — but the
    'centroids' are deterministic Rademacher sign rows from a fixed LCG of
    (dim index + 64*cell + 4096) over round(x*1000) quantized vectors, so
    the argmax is a pure integer comparison DuckDB reproduces exactly (no
    float-accumulation hazard at rank boundaries). HOF-interpreted, meant
    for oracle/verification use; the production path trains real KMeans
    centroids on a bounded sample. Returns (id, cell, rk)."""
    qv = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * 1000, 0).cast("long")
    )
    ex = df.select(F.col(id_col), qv.alias("_qv")).select(
        id_col,
        "_qv",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_cells - 1).cast("long"))
        ).alias("cell"),
    )

    def _sign(d, c):
        # 1 - 2 * bit16(LCG(d + 64c + 4096)) — deterministic +-1; every
        # literal cast to long (ANSI mode overflows int arithmetic loudly)
        arg = (
            F.lit(1103515245).cast("long")
            * (d.cast("long") + F.lit(64).cast("long") * c + F.lit(4096).cast("long"))
            + F.lit(12345).cast("long")
        )
        return F.lit(1).cast("long") - F.lit(2).cast("long") * F.shiftright(
            F.pmod(arg, F.lit(2147483648).cast("long")), 16
        ).bitwiseAND(F.lit(1).cast("long"))

    proj = F.aggregate(
        F.zip_with(
            F.col("_qv"),
            F.sequence(F.lit(1), F.size("_qv")),
            lambda x, d: x * _sign(d, F.col("cell")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_proj"), F.asc("cell"))
    return (
        ex.withColumn("_proj", proj)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_probe)
        .select(id_col, "cell", "rk")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    n_probe: int = 1,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = same random-hyperplane bucket in any
    of n_tables tables, exact cosine only on candidates.

    `corpus_buckets`: a staged rp_buckets(corpus, ...) output built with
    the SAME n_planes/n_tables/seed — skips the per-call corpus bucket
    scan (the O(corpus) INDEX-BUILD term, amortized across query batches
    in production where buckets are stored at ingest); bit-identical to
    the one-shot path by construction.

    Recall/cost dials: more tables or fewer planes -> more candidates;
    n_probe > 1 additionally probes each table's nearest
    single-bit-flip buckets (multi-probe LSH, Lv et al. VLDB'07) — recall
    comparable to more tables WITHOUT growing the corpus bucket table or
    rescanning the corpus; only the small query side fans out.

    Shuffle anatomy: corpus scanned once for thin buckets (id + bucket
    string — vectors do NOT ride the explode), broadcast bucket join against
    the (small) query buckets, candidate dedup, then ONE corpus join
    re-attaches vectors to the deduped candidate set for exact verification.
    The hyperplanes self-size from the data worker-side, so no driver scan
    happens."""
    if corpus_buckets is not None:
        cols = set(corpus_buckets.columns)
        if not {id_col, "bucket"} <= cols:
            raise ValueError(
                f"lsh_topk: corpus_buckets must have columns ({id_col!r}, "
                f"'bucket') — got {sorted(cols)}; build it with "
                "rp_buckets(corpus, ...)"
            )
        staged = corpus_buckets.schema["bucket"].metadata.get("rp_params")
        want = _rp_params_tag(n_planes, n_tables, seed)
        if staged is not None and staged != want:
            raise ValueError(
                f"lsh_topk: staged corpus_buckets was built with rp_params="
                f"{staged} but this call uses {want} — query buckets would "
                "never match corpus buckets (recall ~0). Rebuild the index "
                "or pass the matching n_planes/n_tables/seed."
            )
        if staged is None:
            import warnings

            warnings.warn(
                "lsh_topk: corpus_buckets carries no rp_params metadata "
                "(built by something other than rp_buckets?) — cannot "
                "verify it matches n_planes/n_tables/seed; a mismatch "
                "silently collapses recall to ~0.",
                stacklevel=2,
            )
    cb = (
        corpus_buckets
        if corpus_buckets is not None
        else rp_buckets(corpus, id_col, vec_col, n_planes, n_tables, seed)
    )
    qb = (
        rp_probe_buckets(
            queries, query_id_col, vec_col, n_planes, n_tables, seed, n_probe
        )
        if n_probe > 1
        else rp_buckets(queries, query_id_col, vec_col, n_planes, n_tables, seed)
    )
    cand = (
        cb.join(F.broadcast(qb), "bucket")
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    sims = _verify_cosine(cand, corpus, queries, id_col, vec_col, query_id_col)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def _verify_cosine(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Exact-cosine verify stage shared by every candidate-generating ANN
    path: re-attach vectors WITH their L2 norm (computed once per record in
    the same projection as the vector select, NOT once per candidate pair)
    and evaluate a single dot per pair."""
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cv"),
        guarded_l2norm(F.col(vec_col)).alias("_cn"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qv"),
        guarded_l2norm(F.col(vec_col)).alias("_qn"),
    )
    return (
        cand.join(c, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine_with_norms(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ).alias("cos_sim"),
        )
    )


def ivf_training_sample(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    n_cells: int,
    train_cap: int | None = None,
) -> DataFrame:
    """Bounded, deterministic coarse-quantizer training set.

    KMeans centroid quality saturates around a few hundred vectors per cell
    (standard IVF practice — FAISS trains its quantizer on a capped sample);
    a full-corpus fit does maxIter complete passes over every vector, a cost
    that grows with corpus size for no accuracy gain — at 100 TB the
    quantizer training would dwarf the search it accelerates. Default cap =
    max(256 x n_cells, 4096); sampling is the xxhash64-residue filter
    (partition-layout-free, seed-free), so the trained centroids are a pure
    function of the corpus contents."""
    from ..functions.sampling import bounded_sample

    if train_cap is None:
        train_cap = max(256 * n_cells, 4096)
    return bounded_sample(
        corpus.select(id_col, vec_col), (id_col,), train_cap
    ).select(vec_col)


def _lloyd_fit(x, k: int, seed: int, max_iter: int):
    """Seeded kmeans++ init + fixed-iteration Lloyd's over unit vectors
    (spherical k-means: on the unit sphere argmin-Euclidean == argmax-dot,
    so assignment is one GEMM against the centroid matrix). Deterministic:
    seeded RNG, row order fixed by the caller, empty cells keep their
    previous center, centers re-normalized every update. Returns
    (k x dim) unit-norm float64 centers."""
    import numpy as np

    n = x.shape[0]
    k = min(k, n)
    rng = np.random.default_rng(seed)
    # kmeans++ over cosine distance (1 - dot on unit vectors)
    centers = np.empty((k, x.shape[1]), dtype=np.float64)
    centers[0] = x[int(rng.integers(n))]
    d2 = np.maximum(1.0 - x @ centers[0], 0.0)
    for i in range(1, k):
        total = float(d2.sum())
        if total <= 0.0:
            centers[i:] = centers[0]  # degenerate: all points identical
            break
        centers[i] = x[int(rng.choice(n, p=d2 / total))]
        d2 = np.minimum(d2, np.maximum(1.0 - x @ centers[i], 0.0))
    for _ in range(max_iter):
        assign = np.argmax(x @ centers.T, axis=1)
        nxt = centers.copy()  # empty cell -> keep previous center
        for c in range(k):
            members = x[assign == c]
            if len(members):
                nxt[c] = members.mean(axis=0)
        centers = nxt / np.maximum(
            np.linalg.norm(nxt, axis=1, keepdims=True), 1e-12
        )
    return centers


def ivf_train(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    train_cap: int | None = None,
):
    """Train the IVF coarse quantizer once; returns the L2-normalized
    centroid matrix (n_cells x dim, numpy float64).

    Split out of ivf_topk because the two costs live on different axes:
    training is a FIXED cost (bounded sample, independent of corpus size —
    see ivf_training_sample) paid once per index, while assignment+probe
    scale with the corpus and recur per query batch. A production index
    trains here, persists the (tiny) centroid matrix, and serves every
    subsequent ivf_topk(..., centers=...) without refitting — exactly how
    FAISS separates train() from add()/search().

    The fit itself is DRIVER-SIDE numpy Lloyd's (same determinism contract
    as fit_calibration: bounded deterministic input, seeded init, fixed
    iterations). The bounded sample (cap = max(256*n_cells, 4096) rows)
    fits in driver RAM by construction — distributing a fit whose input is
    a few hundred MB is pure scheduler/serialization overhead: the former
    pyspark.ml.KMeans path took 445s on a 65k x 768 sample where this
    GEMM loop takes seconds (BENCH/ann_recall_r5.json vs _r6). Collected
    rows are sorted by id driver-side so the fit is independent of
    partition layout; ivf_train_ml keeps the distributed path as a pytest
    cross-check."""
    import numpy as np

    from ..functions.sampling import bounded_sample

    cap = train_cap if train_cap is not None else max(256 * n_cells, 4096)
    sample = bounded_sample(
        corpus.select(id_col, vec_col), (id_col,), cap
    ).toPandas()
    sample = sample.sort_values(id_col, kind="mergesort")
    x = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return _lloyd_fit(x, n_cells, seed, max_iter)


def ivf_train_ml(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    train_cap: int | None = None,
):
    """Distributed (pyspark.ml.KMeans) quantizer fit — kept as a
    cross-check for ivf_train's driver-side Lloyd's (pytest compares the
    two on a separable fixture) and as the escape hatch for a train_cap
    deliberately raised beyond driver RAM. Not the default: on the bounded
    default sample it is ~2 orders of magnitude slower for the same
    centroid quality."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def _norm_expr(c):
        n = F.greatest(F.sqrt(dot(c, c)), F.lit(1e-12))
        return F.transform(c, lambda x: x.cast("double") / n)

    sample = ivf_training_sample(corpus, vec_col, id_col, n_cells, train_cap)
    train = sample.select(
        array_to_vector(_norm_expr(F.col(vec_col))).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    centers = np.stack([np.asarray(c) for c in model.clusterCenters()])
    return centers / np.maximum(
        np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
    )


def _cell_assign_udf(centers, top: int):
    """Pandas UDF assigning each vector its `top` nearest (cosine)
    centroids. `centers` must already be L2-normalized rows (the ivf_train
    contract); vectors are normalized worker-side."""
    import numpy as np

    @F.pandas_udf("array<int>")
    def cells(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            if len(vecs) == 0:
                yield pd.Series([], dtype=object)
                continue
            v = np.stack(vecs.to_numpy()).astype(np.float64)
            v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            sims = v @ centers.T  # (n, n_cells)
            idx = np.argsort(-sims, axis=1)[:, :top].astype(np.int32)
            yield pd.Series(list(idx))

    return cells


def ivf_assign_cells(
    corpus: DataFrame,
    centers,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INDEX-BUILD half of IVF: assign every corpus vector to its nearest
    (cosine) centroid — the inverted-list table (id_col, cell int).

    This is the one IVF stage whose cost scales with the corpus
    (O(n x n_cells x dim) multiply-adds in one Arrow scan): a per-snapshot
    INDEXING cost, paid once when the corpus (or quantizer) changes and
    amortized across every query batch the index serves — production
    stores `cell` alongside the vector at ingest. Folding it into the
    probe wall (as the first 1M-vector recall run did) misattributes the
    dominant one-time term to every query batch, the same misattribution
    the linking bench fixed for kb_prep. Pass the staged result to
    ivf_topk(corpus_cells=...) — bit-identical to the one-shot path by
    construction (same UDF, same centers; pytest proves it)."""
    import numpy as np

    centers = np.asarray(centers, dtype=np.float64)
    centers = centers / np.maximum(
        np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
    )
    return corpus.select(
        F.col(id_col),
        F.element_at(_cell_assign_udf(centers, 1)(F.col(vec_col)), 1).alias(
            "cell"
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    train_cap: int | None = None,
    centers=None,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k (the coarse-quantizer inverted-list
    design, Jegou et al. '11 — public knowledge): a seeded pyspark.ml
    KMeans over L2-normalized vectors partitions the corpus into n_cells
    inverted lists; each query probes its n_probe nearest centroids and
    exact cosine runs only over those cells' members.

    Scale shape: centroids are tiny (n_cells x dim) and ride to workers as
    a numpy closure in ONE Arrow UDF pass per side; corpus scanned once for
    assignment; the probe is an equi-join on cell id, so candidates per
    query ~ (n_probe/n_cells) x |corpus|. Recall dial: n_probe. The
    LSH-bucketed path (lsh_topk) is the hash-based alternative; IVF adapts
    to the data distribution where LSH is oblivious.

    The quantizer trains on a BOUNDED deterministic sample (see
    ivf_training_sample; cap = train_cap or max(256 x n_cells, 4096)) —
    centroid quality saturates long before full-corpus scale, and the fit
    is the only stage whose cost would otherwise grow with corpus size.
    Pass `centers` (from ivf_train) to reuse an already-trained quantizer
    across query batches; training here is a convenience for one-shot use.
    Pass `corpus_cells` (from ivf_assign_cells, staged) to additionally
    skip the per-call corpus cell assignment — the O(corpus) INDEX-BUILD
    scan — leaving only true per-query-batch work; requires `centers`
    (the cells are only meaningful under the quantizer that assigned
    them)."""
    import numpy as np

    if corpus_cells is not None and centers is None:
        raise ValueError(
            "ivf_topk: corpus_cells requires the centers that assigned it "
            "(pass both from ivf_train/ivf_assign_cells)"
        )
    if centers is None:
        centers = ivf_train(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            n_cells=n_cells,
            seed=seed,
            max_iter=max_iter,
            train_cap=train_cap,
        )
    centers = np.asarray(centers, dtype=np.float64)
    # enforce the ivf_train contract on caller-supplied centers: cell
    # assignment below compares against L2-NORMALIZED query/corpus vectors,
    # so raw centroids would silently skew it. Idempotent for ivf_train
    # output (already unit-norm).
    centers = centers / np.maximum(
        np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
    )

    c_cells = (
        corpus_cells
        if corpus_cells is not None
        else ivf_assign_cells(corpus, centers, id_col=id_col, vec_col=vec_col)
    )
    q_cells = queries.select(
        F.col(query_id_col),
        F.explode(_cell_assign_udf(centers, n_probe)(F.col(vec_col))).alias(
            "cell"
        ),
    )
    cand = (
        c_cells.join(F.broadcast(q_cells), "cell")
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
    )
    sims = _verify_cosine(cand, corpus, queries, id_col, vec_col, query_id_col)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos_sim >= t):
    LSH self-join (thin buckets, salted) bounds the quadratic surface; exact
    cosine verifies on the candidates only."""
    from .blocking import pairs_from_blocks, salt_blocks

    buckets = rp_buckets(corpus, id_col, vec_col, n_planes, n_tables, seed).select(
        F.col(id_col).alias("record_id"), F.col("bucket").alias("block_key")
    )
    cand = pairs_from_blocks(salt_blocks(buckets, cap=512))
    # norms materialize ONCE per record in the vector re-attach projection;
    # the pair verify is then a single dot (see cosine_with_norms)
    c = corpus.select(
        F.col(id_col).alias("record_id"),
        F.col(vec_col).alias("_v"),
        guarded_l2norm(F.col(vec_col)).alias("_n"),
    )
    a = c.select(
        F.col("record_id").alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    b = c.select(
        F.col("record_id").alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_with_norms(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
