"""Blocking / candidate-pair generation (SURVEY.md §2 D1-D7).

Two independent blockers per the north rule ("LSH/minhash + sorted-
neighborhood blocking keyed on normalized surface forms"), merged and
deduped, with explicit hot-key salting ahead of AQE's skew-join safety net.

Scale design notes (the part that must survive 100 TB):

* MinHash signatures are k min-aggregates of the seeded hash family
  h_i(x) = xxhash64(i, x, MINHASH_SEED) over exploded shingles — no Python, no
  higher-order-function lambdas; the hashing stays in whole-stage codegen.
* Band keys are 64-bit hashes of signature slices — compact shuffle keys.
* The block->pairs self-join is the only quadratic surface; it is bounded by
  (a) band width (probability of co-blocking decays with dissimilarity),
  (b) explicit salting of hot keys (Zipfian surface forms), which shards a
  block of size s into ceil(s/cap) sub-blocks, and (c) AQE skew-join.
* Sorted-neighborhood avoids the classic single-partition global-window
  straggler: range repartition -> per-partition ranks -> small driver-side
  offset table (n_partitions rows, not data rows) -> global rank -> bucketed
  equi-join (theta join turned into an equi join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MINHASH_SEED = 42
# one seed for every shard assignment: a bridge representative
# (cross_shard_rep_pairs) is the min record_id of the shard apply_salt put
# it in, so both shard record ids through _shard()
SALT_SEED = 42


def lsh_blocks(
    records: DataFrame, shingles_col: str, k: int, bands: int
) -> DataFrame:
    """records(record_id, <shingles>) -> blocks(record_id, block_key).

    Fully unrolled column expressions (no higher-order-function lambdas —
    those run interpreted and re-evaluate subexpressions per element): the
    k min-hashes stay as k agg columns and each band key hashes its r
    columns directly via multi-arg xxhash64 into an 8-byte LONG key (family
    tag + band index folded into the hash) — compact shuffle keys for the
    pipeline's largest exchanges.

    The k min aggregates combine map-side: shuffle = |records| x k longs,
    independent of shingle count.
    """
    r = k // bands
    ex = records.select("record_id", F.explode(shingles_col).alias("_sh"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("_sh"), F.lit(MINHASH_SEED))).alias(
            f"_h{i}"
        )
        for i in range(k)
    ]
    per = ex.groupBy("record_id").agg(*aggs)
    band_cols = [
        F.xxhash64(
            F.lit("mh"),
            F.lit(b),
            *[F.col(f"_h{b * r + j}") for j in range(r)],
        )
        for b in range(bands)
    ]
    return per.select(
        "record_id", F.explode(F.array(*band_cols)).alias("block_key")
    )


def hot_keys(blocks: DataFrame, cap: int) -> DataFrame:
    """(block_key, _shards) for keys with more than `cap` member records —
    the tiny broadcast side of every salting decision. Exposed separately
    so incremental/streaming callers can size shards from COMMITTED state
    and salt both sides of a new-vs-old join consistently."""
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("_n"))
    return sizes.filter(F.col("_n") > cap).select(
        "block_key", F.ceil(F.col("_n") / cap).cast("int").alias("_shards")
    )


def _shard():
    """Shard of a hot-key row: xxhash64(record_id, SALT_SEED) mod _shards."""
    return F.pmod(F.xxhash64(F.col("record_id"), F.lit(SALT_SEED)), F.col("_shards"))


def apply_salt(blocks: DataFrame, hot: DataFrame) -> DataFrame:
    """Shard every row whose key appears in `hot` into xxhash64(key, shard)
    by a deterministic hash of record_id; other rows map to xxhash64(key).
    Output keys are always 8-byte LONGS regardless of the input key type
    (string bucket keys from ANN callers hash down to longs here too — the
    post-salt exchanges are the expensive ones). Two inputs salted against
    the SAME hot table land same-record-same-shard, so within-shard joins
    stay consistent across callers.

    A hot-derived xxhash64(key, shard) colliding with some other key's
    xxhash64(key') is a ~2^-64-per-pair event; the consequence is only a
    few spurious candidate pairs, which downstream verification scores and
    rejects like any other non-match — no correctness surface."""
    out = blocks.join(F.broadcast(hot), "block_key", "left")
    salted = F.when(
        F.col("_shards").isNotNull(),
        F.xxhash64(F.col("block_key"), _shard()),
    ).otherwise(F.xxhash64(F.col("block_key")))
    return out.select(F.col("record_id"), salted.alias("block_key"))


def salt_blocks(blocks: DataFrame, cap: int) -> DataFrame:
    """Explicit hot-key salting (SURVEY.md D4; north rule mandates it).

    Blocks larger than `cap` records are sharded into ceil(size/cap)
    sub-blocks keyed by a deterministic hash of record_id. Pairs across
    shards of one hot key are deliberately dropped — the documented recall
    cost of bounding quadratic blowup; F1 is evaluated "at the shared
    blocking key", i.e. on the salted keys (BASELINE.json metric).

    The hot-key table is tiny (keys with >cap records) and is broadcast.
    """
    return apply_salt(blocks, hot_keys(blocks, cap))


def cross_shard_rep_pairs(blocks: DataFrame, hot: DataFrame) -> DataFrame:
    """Bounded cross-shard recall recovery for salted hot keys.

    Salting deliberately drops pairs across shards of one hot key. For
    TRANSITIVE clustering that loss is bridgeable without the quadratic
    expansion: take one representative record per (hot key, shard) — the
    min record_id, matching apply_salt's shard assignment — and chain the
    representatives of adjacent shards (S-1 pairs per hot key, not C(n,2)
    and not even C(S,2)). If the hot block really is one entity (template
    pages, boilerplate surfaces — the common case that MAKES keys hot),
    the representative pairs score as matches and connected components
    merges the shard-local clusters. If the block is a mixed bag, the reps
    simply fail verification downstream and cost S-1 scored pairs.

    Work is O(sum over hot keys of shards) rows — driver-bounded by the
    same broadcast hot table salting already uses. Recall loss is bounded,
    not eliminated: cross-shard TRUE pairs whose cluster-mates are all
    non-representatives still rely on the chain holding (scored reps must
    match). Measured on a template-heavy fixture in test_blocking.
    """
    hot_rows = blocks.join(F.broadcast(hot), "block_key")
    reps = (
        hot_rows.select("block_key", _shard().alias("_shard"), "record_id")
        .groupBy("block_key", "_shard")
        .agg(F.min("record_id").alias("_rep"))
    )
    # chain shard s -> s+1 via an equi self-join (shard ids are contiguous
    # 0..S-1); join instead of a lag window — same S-1 pairs per key
    nxt = reps.select(
        F.col("block_key"),
        (F.col("_shard") - 1).alias("_shard"),
        F.col("_rep").alias("_rep_next"),
    )
    chained = reps.join(nxt, ["block_key", "_shard"])
    return chained.select(
        F.least("_rep", "_rep_next").alias("id_a"),
        F.greatest("_rep", "_rep_next").alias("id_b"),
        # family-tagged long key in the same 8-byte domain as apply_salt
        F.xxhash64(F.lit("xs"), F.col("block_key")).alias("block_key"),
    )


def salted_pairs(blocks: DataFrame, hot: DataFrame) -> DataFrame:
    """The hot-key expansion every salting blocker runs: within-shard pairs
    of `blocks` salted against `hot`, plus the cross-shard representative
    chain that lets connected components merge the shards again. Not
    deduped (dedup=False): callers merge blockers and dedup once
    (merge_pairs)."""
    return pairs_from_blocks(apply_salt(blocks, hot), dedup=False).unionByName(
        cross_shard_rep_pairs(blocks, hot)
    )


def pairs_from_blocks(blocks: DataFrame, dedup: bool = True) -> DataFrame:
    """Within-block self-join -> candidate pairs (id_a < id_b), one row per
    pair with the (deterministic min) shared block key.

    Shuffle anatomy: one hash exchange on block_key for the self-join (AQE
    splits residual skew; block sizes are salt-capped upstream), then one
    exchange on (id_a, id_b) for the dedup. Pass dedup=False when the
    caller merges multiple blockers and dedups once (merge_pairs) — saves
    a full (id_a, id_b) shuffle.

    r8: a plain equi self-join + id_a < id_b filter, replacing the
    collect_list + nested-transform pair expansion — identical pair set
    (same (min, max) orientation, same block_key), but the expansion runs
    in whole-stage codegen instead of an ObjectHashAggregate building
    per-block arrays and interpreted HOF lambdas slicing them (measured
    4.0s -> 1.26s min-of-3 on the 8M salted block rows -> 54M raw pairs
    at 1M pages; OPTIMIZATION_r08.md). Size-1 blocks need no pruning pass:
    they emit nothing through the < filter.
    """
    b = blocks.select("block_key", "record_id")
    a = b.select("block_key", F.col("record_id").alias("id_a"))
    c = b.select("block_key", F.col("record_id").alias("id_b"))
    pairs = (
        a.join(c, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "block_key")
    )
    if not dedup:
        return pairs
    return pairs.groupBy("id_a", "id_b").agg(F.min("block_key").alias("block_key"))


def snb_global_rank(
    records: DataFrame,
    key_col: str = "norm",
    n_partitions: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Global rank under total order (key_col, record_id) WITHOUT the
    single-partition-window straggler (SURVEY.md D3, §4.2).

    Deterministic bucketed form: seed-free sampled key boundaries ->
    per-BUCKET row_number window -> driver-side offsets (one row per
    bucket) -> global rank.

    Why not repartitionByRange + spark_partition_id (the previous form):
    RangePartitioner samples its boundaries with a seed derived from the
    fresh RDD id, so every physical RE-execution draws DIFFERENT
    boundaries — and the driver-collected offsets were baked against the
    partition ids of the execution that collected them. The persist that
    held the two in sync was CORRECTNESS-load-bearing: an evicted/cleared
    cache (inevitable under executor memory pressure at the 10^12 tier)
    silently recomputed ranks against stale offsets, yielding wrong/
    missing SNB pairs (measured: candidate-pair count drifted 811,485 ->
    887k-895k across clearCache re-executions at 100k records). Here the
    bucket of a row is a PURE FUNCTION of its key (boundaries come from a
    deterministic xxhash-residue sample, collected once as plan literals),
    so any recomputation — cache hit, eviction, resume — lands every row
    in the same bucket and the offsets stay valid forever.

    Window cardinality: one window partition per bucket (n_partitions
    knob). Boundaries are (key, record_id) TUPLES sampled from full rows,
    so bucket mass tracks ROW mass and a hot key's duplicate run is SPLIT
    across buckets at record_id cut points — key-only boundaries would
    funnel a Zipfian surface ('john smith' x 10^7) into one straggler
    window, the very thing this operator exists to avoid. The tuple-hash
    sample is also what bounds the driver collect: xxhash64(key,
    record_id) is unique per row, so the residue filter keeps ~cap rows
    under ANY key skew (a key-only hash would collect a sampled mega-key's
    entire row mass). NULL keys never enter the boundary list; their rows
    compare false against every boundary and land in bucket 0, matching
    the window's nulls-first order.
    """
    spark = records.sparkSession
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism
    keyed = records.select("record_id", key_col)
    # seed-free boundary sample (~128 rows per target bucket), sorted
    # driver-side by the (key, record_id) total order
    from ..functions.sampling import bounded_sample

    sample = sorted(
        (row[1], row[0])
        for row in bounded_sample(
            keyed, (key_col, "record_id"), 128 * n_partitions
        ).collect()
        if row[1] is not None
    )
    step = max(1, len(sample) // n_partitions)
    bounds = sorted({sample[i] for i in range(step, len(sample), step)})
    if bounds:
        # bucket = |{boundary <= (key, record_id)}| lexicographic: monotone
        # along the total order. Unrolled when-sum (not an array HOF):
        # lambda HOFs run interpreted per row while this stays whole-stage
        # codegen — the same unroll-over-HOF call phonetic_blocks/simhash
        # made; |bounds| ~ parallelism, so the per-row count is tiny.
        k, rid = F.col(key_col), F.col("record_id")
        terms = [
            F.when(
                (k > F.lit(bk)) | ((k == F.lit(bk)) & (rid >= F.lit(bi))),
                1,
            ).otherwise(0)
            for bk, bi in bounds
        ]
        bucket = terms[0]
        for t in terms[1:]:
            bucket = bucket + t
    else:
        bucket = F.lit(0)
    r = keyed.withColumn("_bucket", bucket)
    w = Window.partitionBy("_bucket").orderBy(F.col(key_col), F.col("record_id"))
    r = r.withColumn("_local", F.row_number().over(w))
    # persist is an OPTIMIZATION here (offsets count + final read share the
    # window), never a correctness dependency: recomputation reproduces
    # identical buckets/ranks bit-for-bit. Long-running callers pass
    # cache_registry to unpersist after downstream materialization.
    r = r.persist()
    if cache_registry is not None:
        cache_registry.append(r)
    counts = r.groupBy("_bucket").count().orderBy("_bucket").collect()
    offsets = {}
    acc = 0
    for row in counts:
        offsets[row["_bucket"]] = acc
        acc += row["count"]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ) if offsets else F.create_map()
    return r.select(
        "record_id",
        key_col,
        (F.col("_local") - 1 + off[F.col("_bucket")]).alias("rank"),
    )


def snb_pairs(
    records: DataFrame,
    key_col: str = "norm",
    window: int = 3,
    n_partitions: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Sorted-neighborhood pairs: all (a, b) with 0 < rank_b - rank_a <= w
    under the (key_col, record_id) total order.

    The theta join |rank_a - rank_b| <= w becomes an equi join on
    bucket = floor(rank / w): each left row probes its own bucket and the
    next one — 2x fan-out instead of a cross join.
    """
    ranked = snb_global_rank(records, key_col, n_partitions, cache_registry)
    a = ranked.select(
        F.col("record_id").alias("id_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.array(
                F.floor(F.col("rank") / window),
                F.floor(F.col("rank") / window) + 1,
            )
        ).alias("bucket"),
    )
    b = ranked.select(
        F.col("record_id").alias("id_b"),
        F.col("rank").alias("rank_b"),
        F.floor(F.col("rank") / window).alias("bucket"),
    )
    pairs = (
        a.join(b, "bucket")
        .filter(
            (F.col("rank_b") > F.col("rank_a"))
            & (F.col("rank_b") - F.col("rank_a") <= window)
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            # long key (family-tagged hash) so merge_pairs unions cleanly
            # with the other blockers' 8-byte keys
            F.xxhash64(F.lit("snb"), F.floor(F.col("rank_a") / window)).alias(
                "block_key"
            ),
        )
    )
    return pairs.groupBy("id_a", "id_b").agg(F.min("block_key").alias("block_key"))


def phonetic_blocks(
    records: DataFrame, norm_col: str = "norm", max_tokens: int = 2
) -> DataFrame:
    """Phonetic blocking (the third classic blocker family beside LSH and
    sorted-neighborhood — Christen '12): block key = Soundex code of each of
    the first `max_tokens` tokens of the normalized surface, catching
    same-sounding spelling variants ('smith'/'smyth') that survive
    normalization with different shingles. JVM built-in soundex; row-local;
    pair with salt_blocks before pairs_from_blocks like any blocker.

    Keys are family-tagged 8-byte longs, unrolled per token position (no
    interpreted HOF lambda). The null guard is load-bearing: xxhash64
    SKIPS null args rather than hashing them, so without it every record
    missing token i would share one giant bogus block.
    """
    toks = F.split(F.col(norm_col), " ")
    # try_element_at: ANSI mode makes plain element_at THROW past the end
    # of a short token list
    keys = [
        F.when(
            (F.try_element_at(toks, F.lit(i + 1)).isNotNull())
            & (F.try_element_at(toks, F.lit(i + 1)) != ""),
            F.xxhash64(
                F.lit("sx"), F.lit(i),
                F.soundex(F.try_element_at(toks, F.lit(i + 1))),
            ),
        )
        for i in range(max_tokens)
    ]
    return records.select(
        "record_id", F.explode(F.array_distinct(F.array(*keys))).alias("block_key")
    ).filter(F.col("block_key").isNotNull())


def merge_pairs(*pair_dfs: DataFrame) -> DataFrame:
    """Union candidate pairs from multiple blockers, one row per pair
    (SURVEY.md D7). Deterministic representative block_key = min."""
    out = pair_dfs[0]
    for df in pair_dfs[1:]:
        out = out.unionByName(df)
    return out.groupBy("id_a", "id_b").agg(F.min("block_key").alias("block_key"))
