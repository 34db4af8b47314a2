"""Structured Streaming slice (SURVEY.md §2 ST1-ST6): incremental page
ingest, watermarked windows, streaming dedup, sessionization, and
exactly-once incremental entity resolution via foreachBatch + the catalog.

Batch-first engine; streams reuse the same operators. For local smoke tests
a parquet-directory source + `processAllAvailable()` drives queries to
completion synchronously (memory sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """ST1: incremental crawl ingest — new parquet files under `path` are
    new micro-batches (prod: Kafka/Kinesis source, same downstream plan)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def dedup_pages_stream(pages: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST2+ST3: watermark late crawl records, drop duplicate urls within
    the watermark (streaming analog of latest-per-url)."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """ST4: tumbling/sliding event-rate aggregation with late-data bound."""
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """ST5: native session windows keyed by user."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "user_id",
            "n_events",
        )
    )


def join_event_streams(
    purchases: DataFrame,
    errors: DataFrame,
    watermark: str = "1 hour",
    bound: str = "30 minutes",
) -> DataFrame:
    """ST breadth: STREAM-STREAM inner join with an event-time range
    condition — each error event joins same-user purchases within
    [error_ts - bound, error_ts]. Both sides carry watermarks, so Spark can
    bound the join state it buffers (late rows beyond the watermark are
    dropped, matched state older than watermark + bound is evicted) — the
    state-size contract that makes the join viable on unbounded streams."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    e = errors.select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    ).withWatermark("e_ts", watermark)
    cond = F.expr(
        f"p_user = user_id AND p_ts BETWEEN e_ts - INTERVAL {bound} AND e_ts"
    )
    return e.join(p, cond, "inner").select(
        "error_id", "purchase_id", "user_id", "e_ts", "p_ts"
    )


def stateful_running_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """ST6 variant — CUSTOM stateful streaming operator via
    applyInPandasWithState (the arbitrary-state API, vs the declarative
    dropDuplicates/window state elsewhere): per-key running event count and
    value total carried across micro-batches in explicit GroupState; each
    batch a key appears in emits one updated row stamped with `update_idx`
    (how many batches have touched the key — the cross-batch state proof).

    Scale shape: state is per-key O(1) (three scalars), partitioned by the
    grouping key exactly like any streaming aggregate; Arrow-batched pandas
    on both sides of the state boundary.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("update_idx", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("upd", T.IntegerType()),
        ]
    )

    def fn(key: tuple, pdfs, state: GroupState):
        n, total, upd = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        upd += 1
        state.update((n, total, upd))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "update_idx": [upd],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def _read_state(
    spark: SparkSession, cat, name: str, epochs: list, cache: dict | None = None
) -> DataFrame | None:
    """Union of the committed per-epoch tables for one logical state table
    (records/blocks/edges). Plan width grows with len(epochs) — compact()
    folds the epoch list back to one table.

    cache: long-running callers (the foreachBatch loop) pass a dict keyed
    by (name, epoch) to memoize the per-epoch DataFrames — committed epoch
    tables are IMMUTABLE (compaction writes new c<n> names, never rewrites
    an epoch path), so re-reading their parquet footers and re-deriving
    their schemas every micro-batch is pure driver overhead that grows
    with the epoch list.

    Schema-version guard: block_key changed type string -> long when every
    blocker moved to 8-byte hash keys. Resuming over state committed by the
    old version must fail LOUDLY here — left alone, the new-vs-old blocks
    join would either throw a cryptic AnalysisException or (under an
    implicit cast) silently produce zero hot-key matches, i.e. lost
    candidate pairs with no error."""
    from pyspark.sql.types import LongType

    def _rd(e):
        key = (name, e)
        if cache is not None and key in cache:
            return cache[key]
        df = cat.read(spark, f"{name}_epoch_{e}")
        if cache is not None:
            cache[key] = df
        return df

    dfs = [_rd(e) for e in epochs if cat.is_committed(f"{name}_epoch_{e}")]
    if not dfs:
        return None
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    if "block_key" in out.columns:
        dt = out.schema["block_key"].dataType
        if not isinstance(dt, LongType):
            raise TypeError(
                f"committed '{name}' state has block_key of type "
                f"{dt.simpleString()}, but this version keys blocks by LONG "
                "(8-byte xxhash64). This state was written by an older "
                "version — rebuild it (re-run the stream from the source "
                "corpus) or recompact with the writing version before "
                "resuming; a mixed-version resume would silently drop "
                "new-vs-old candidate pairs."
            )
    return out


def incremental_candidate_pairs(
    new_blocks: DataFrame, old_blocks: DataFrame | None, salt_cap: int
) -> DataFrame:
    """Candidate pairs touching a new record: new x new within the batch
    (salted by batch-local sizes, like the batch pipeline) plus new x old
    against committed blocks.

    Hot committed keys (> salt_cap members) are SALTED, not dropped: both
    sides shard by the same deterministic record_id hash against the same
    committed-size hot table, and the join runs within shards — each new
    record meets ~cap old rows per hot key, reproducing the batch path's
    within-shard-pairs semantics (the earlier exclusion was a streaming-only
    recall hole on template-heavy corpora). Shard counts come from COMMITTED
    sizes, not the merged corpus — a bounded approximation of batch salting
    that refreshes at compaction.

    The batch pipeline's cross-shard recall bridge runs here too: rep-chain
    pairs are added for batch-local hot keys (B.salted_pairs) AND for
    committed hot keys TOUCHED by this batch (a key present in
    new_blocks). Untouched committed hot keys need no re-chain:
    their shard composition only changes when new rows arrive (which makes
    them touched) or at compaction (after which the next touch re-chains
    against the refreshed shard counts), so per-batch bridge work stays
    O(shards of touched hot keys), not O(corpus/cap)."""
    from ..operators import blocking as B

    nn = B.salted_pairs(new_blocks, B.hot_keys(new_blocks, salt_cap))
    if old_blocks is None:
        return B.merge_pairs(nn)
    hot = B.hot_keys(old_blocks, salt_cap)
    no = (
        B.apply_salt(new_blocks, hot)
        .withColumnRenamed("record_id", "_rid_new")
        .join(B.apply_salt(old_blocks, hot), "block_key")
        .select(
            F.least("_rid_new", "record_id").alias("id_a"),
            F.greatest("_rid_new", "record_id").alias("id_b"),
            "block_key",
        )
    )
    hot_touched = hot.join(
        new_blocks.select("block_key").distinct(), "block_key", "left_semi"
    )
    merged = new_blocks.unionByName(old_blocks)
    no = no.unionByName(B.cross_shard_rep_pairs(merged, hot_touched))
    return B.merge_pairs(nn, no)


def incremental_cluster(
    prev_clusters: DataFrame | None,
    new_records: DataFrame,
    edges_new: DataFrame,
    cfg,
) -> DataFrame:
    """Connected components touching ONLY the subgraph reachable from this
    batch's new edges, stitched onto the untouched prior labels.

    Prior clusters are a transitive closure, so each one is represented by
    its STAR EDGES (label -> member): CC over {star edges of touched
    clusters} U {new edges} yields exactly the labels a full CC over all
    historical edges would — min-id labels merge across the stars — while
    the iteration cost is bounded by the touched subgraph, not the corpus.
    Untouched clusters (including prior singletons) keep their rows
    verbatim; new records with no edge become their own cluster."""
    from ..operators import cc as CC

    new_ids = new_records.select("record_id")
    if prev_clusters is None:
        labels = CC.connected_components(
            edges_new.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")),
            max_iter=cfg.max_cc_iter,
        )
        return CC.attach_singletons(labels, new_records)
    endpoints = (
        edges_new.select(F.col("id_a").alias("record_id"))
        .unionByName(edges_new.select(F.col("id_b").alias("record_id")))
        .distinct()
    )
    touched_clusters = (
        prev_clusters.join(endpoints, "record_id")
        .select("cluster_id")
        .distinct()
    )
    touched = prev_clusters.join(
        F.broadcast(touched_clusters), "cluster_id", "left_semi"
    )
    star = touched.filter(F.col("record_id") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("u"), F.col("record_id").alias("v")
    )
    sub_edges = edges_new.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(star)
    sub_labels = CC.connected_components(sub_edges, max_iter=cfg.max_cc_iter)
    untouched = prev_clusters.join(
        F.broadcast(touched_clusters), "cluster_id", "left_anti"
    )
    new_singletons = (
        new_ids.join(sub_labels.select("record_id"), "record_id", "left_anti")
        .select("record_id", F.col("record_id").alias("cluster_id"))
    )
    return untouched.unionByName(sub_labels).unionByName(new_singletons)


def incremental_er(
    spark: SparkSession,
    pages_stream: DataFrame,
    out_dir: str,
    run_id: str = "stream",
    checkpoint_dir: str | None = None,
    cfg=None,
    compact_every: int | None = 64,
):
    """ST1+ST6: incremental entity resolution with INCREMENTAL BLOCKING —
    each micro-batch blocks only its NEW records against the committed
    block table (new x old, bounded) plus itself (new x new, salted), scores
    only pairs that touch a new record, appends the resulting match edges to
    committed state, and recomputes clusters from the (sparse) edge set.

    Scale shape: per-batch QUADRATIC work is bounded by the batch size — the
    previous full-re-block form rescored the whole merged corpus every
    micro-batch, degrading quadratically with stream length. Clustering is
    INCREMENTAL too (incremental_cluster): CC iterates only over the
    subgraph this batch's edges touch, stitched onto untouched prior
    labels. Residual per-batch LINEAR costs (committed-blocks key join,
    TF-IDF corpus weights, cluster rewrite) map onto bucketed catalog
    tables and incrementally maintained stats in a production deployment.
    Hot committed keys (> salt_cap members) are salted into within-shard
    new x old joins (incremental_candidate_pairs) — the same bounded-recall
    semantics as batch salting, not a drop — plus the same cross-shard
    rep-chain bridge the batch pipeline runs, over
    batch-local hot keys and committed hot keys touched by the batch
    (shard counts come from committed/batch-local sizes where batch uses
    global sizes — the one remaining hot-key approximation). Sorted-
    neighborhood is global-order by construction and is not run
    incrementally. With pair-local scoring features the final clusters
    equal the batch pipeline at use_snb=False exactly on inputs without
    hot blocking keys (no salting fires anywhere); with hot keys the
    committed-vs-global shard-size approximation can differ at the margin
    (measured 0.133% of assignments on the 200k-page scale run), and the
    divergence is FENCED: every candidate pair the two paths disagree on
    has both endpoints inside globally-hot blocks (batch-local hot implies
    committed hot implies globally hot), so records outside hot blocks get
    provably identical assignments
    (tests/test_streaming.py::test_incremental_vs_batch_divergence_fence
    proves both the pair fence and its cluster-level consequence). The
    corpus-dependent TF-IDF cosine is
    computed over the epoch-visible corpus, so early-epoch scores carry
    bounded-staleness IDF — the standard incremental-ER tradeoff, refreshed
    by periodic compact() (which also folds the growing per-epoch union
    plans back to single tables).

    State layout: records/blocks/edges are APPEND-ONLY epoch tables (each
    epoch writes only its new rows; per-batch write work is O(batch), not
    O(corpus)); clusters are rewritten per epoch (CC output is global).
    compact_every: auto-compaction period (default 64 — the visible epoch
    list, and with it every state reader's union-plan width, stays bounded
    at the knob; tools/bench_streaming.py measures uncompacted per-batch
    walls climbing ~linearly with stream length). None disables (callers
    that schedule compact() out-of-band).

    A single 'epoch' marker commit atomically advances which epochs are
    visible — a crash mid-batch leaves the previous state intact, and the
    re-delivered batch anti-joins its records away (exactly-once table
    state from at-least-once delivery). Every frame persisted during a
    batch is unpersisted in a finally block: long-running streams must not
    accumulate cached blocks/weights across epochs.
    """
    from ..operators import blocking as B
    from ..plans import pipeline as P
    from ..sources.catalog import Catalog

    cfg = cfg or P.PipelineConfig()
    cat = Catalog(out_dir, run_id)
    # per-epoch state tables are immutable once committed: memoize their
    # DataFrames across micro-batches (footer/schema reads otherwise repeat
    # per batch and grow with the epoch list)
    state_cache: dict = {}

    def _epoch_meta() -> dict:
        return cat.committed_meta("epoch") or {"epochs": [], "n_compactions": 0}

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        import time as _time

        t_batch = _time.perf_counter()
        phases: dict[str, int] = {}  # driver-phase walls -> epoch_stats

        def _mark(name: str, t0: float) -> float:
            now = _time.perf_counter()
            phases[name] = int((now - t0) * 1000)
            return now

        cached: list[DataFrame] = []
        try:
            t_ph = t_batch
            meta = _epoch_meta()
            epochs = list(meta["epochs"])
            # evict memoized per-epoch frames whose epoch was folded away by
            # compaction: without this, a long-lived stream with periodic
            # compaction accumulates stale DataFrame plan objects on the
            # driver forever (slow leak in exactly the long-running scenario
            # the memoization targets)
            live = set(epochs)
            for key in [k for k in state_cache if k[1] not in live]:
                del state_cache[key]
            prev_records = _read_state(spark, cat, "records", epochs, state_cache)
            new_records = P.build_records(batch_df, cfg)
            if prev_records is not None:
                new_records = new_records.join(
                    prev_records.select("record_id"), "record_id", "left_anti"
                )
            new_records = new_records.persist()
            cached.append(new_records)
            # ONE agg powers the empty-batch check AND the incremental
            # corpus stats (n_docs + ctx-token count) that let
            # build_features skip its per-batch O(corpus) stats scan
            _agg = new_records.agg(
                F.count("*").alias("n"),
                F.sum(F.size("ctx_tokens")).alias("tok"),
            ).collect()[0]
            n_new, tok_new = _agg["n"], _agg["tok"] or 0
            t_ph = _mark("records_ms", t_ph)
            if n_new == 0:
                return
            cstats = meta.get("corpus_stats")
            if cstats is None and epochs and prev_records is not None:
                # legacy marker (pre-stats version): one catch-up scan
                # over the committed corpus, then accumulation takes over
                _p = prev_records.agg(
                    F.count("*").alias("n"),
                    F.sum(F.size("ctx_tokens")).alias("tok"),
                ).collect()[0]
                cstats = {"n": _p["n"], "tok": _p["tok"] or 0}
            elif cstats is None:
                cstats = {"n": 0, "tok": 0}
            corpus_stats = (cstats["n"] + n_new, cstats["tok"] + tok_new)

            new_blocks = B.lsh_blocks(
                new_records, "shingles", k=cfg.minhash_k, bands=cfg.bands
            ).persist()
            cached.append(new_blocks)
            old_blocks = _read_state(spark, cat, "blocks", epochs, state_cache)
            pairs = incremental_candidate_pairs(
                new_blocks, old_blocks, cfg.salt_cap
            ).persist()
            cached.append(pairs)
            merged_records = (
                prev_records.unionByName(new_records)
                if prev_records is not None
                else new_records
            )

            feats = P.build_features(
                merged_records, pairs, cfg, cache_registry=cached,
                corpus_stats=corpus_stats,
            )
            edges_new = P.score_edges(feats, cfg).select("id_a", "id_b")

            # append-only epoch tables: ONLY this batch's rows are written.
            # The three writes + the pair count are independent actions over
            # persisted parents (records/blocks/pairs), so they submit from
            # a driver-side thread pool — serial submission leaves the
            # cluster idle between each small job's tail, the same
            # observation behind the threaded threshold sweep
            # (plans/pipeline.py). Concurrent materialization of a shared
            # persisted parent is safe: Spark's cache fills per-partition
            # under a lock, the second consumer waits, nothing recomputes.
            # The epoch marker commit stays strictly AFTER all four resolve
            # (result() re-raises), preserving the single atomic commit
            # point.
            from concurrent.futures import ThreadPoolExecutor

            t_ph = _mark("plan_ms", t_ph)  # lazy builds above: driver-only
            with ThreadPoolExecutor(max_workers=4) as tpool:
                futs = [
                    tpool.submit(
                        cat.write, new_records, f"records_epoch_{epoch_id}"
                    ),
                    tpool.submit(
                        cat.write, new_blocks, f"blocks_epoch_{epoch_id}"
                    ),
                    tpool.submit(cat.write, edges_new, f"edges_epoch_{epoch_id}"),
                    tpool.submit(pairs.count),
                ]
                n_pairs = [f.result() for f in futs][-1]
            t_ph = _mark("score_writes_ms", t_ph)  # blocks/pairs/features/
            # edges all materialize here (first action over the lazy plans)

            # INCREMENTAL clustering: CC runs only on the subgraph reachable
            # from this batch's edges (prior clusters re-enter as star
            # edges); untouched labels stream through from the previous
            # epoch's clusters table — a single parquet read, not a union
            # over all epochs' records/edges.
            prev_clusters = (
                cat.read(spark, f"clusters_epoch_{epochs[-1]}")
                if epochs and cat.is_committed(f"clusters_epoch_{epochs[-1]}")
                else None
            )
            committed_edges = cat.read(spark, f"edges_epoch_{epoch_id}")
            clusters = incremental_cluster(
                prev_clusters, new_records, committed_edges, cfg
            )
            cat.write(clusters, f"clusters_epoch_{epoch_id}")
            t_ph = _mark("cluster_ms", t_ph)

            all_epochs = epochs + [epoch_id]
            # SINGLE atomic commit point: advance the visible-epoch set
            # (n_compactions rides along so compact() generations never
            # reuse a table name a reader may still hold)
            cat.commit(
                "epoch",
                {
                    "epochs": all_epochs,
                    "n_compactions": int(meta.get("n_compactions", 0)),
                    "corpus_stats": {
                        "n": corpus_stats[0], "tok": corpus_stats[1]
                    },
                },
            )
            cat.commit(
                f"epoch_stats_{epoch_id}",
                {
                    "n_new_records": n_new,
                    "n_pairs_scored": n_pairs,
                    "n_visible_epochs": len(epochs),
                    "wall_ms": int((_time.perf_counter() - t_batch) * 1000),
                    **phases,
                },
            )
            # external-reader alias (flipped after the epoch commit;
            # staleness on crash is consistent-previous-state, never torn)
            cat.write_alias("clusters", f"clusters_epoch_{epoch_id}")
            # AUTO-COMPACTION: foreachBatch batches run strictly
            # sequentially, so right after this batch's commit is a safe
            # compaction point (no concurrent epoch-list writer exists);
            # a crash mid-compaction leaves this batch's committed state
            # visible and the next trigger retries nothing.
            if compact_every and len(all_epochs) >= compact_every:
                compact(spark, out_dir, run_id, cfg=cfg)
        finally:
            for df in cached:
                df.unpersist()

    q = (
        pages_stream.writeStream.foreachBatch(process_batch)
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{out_dir}/{run_id}/_stream_ckpt",
        )
        .trigger(availableNow=True)
        .start()
    )
    return q


def _converge_hot_key_edges(
    spark: SparkSession,
    records: DataFrame,
    blocks: DataFrame,
    edges: DataFrame,
    cfg,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Reconcile streamed edges with BATCH hot-key semantics at compaction.

    The one structural streamed-vs-batch divergence is hot-key sharding:
    incremental_candidate_pairs salts by committed/batch-local block sizes
    where batch salts by GLOBAL sizes, so the candidate sets disagree on
    (and only on) pairs with both endpoints in globally-hot blocks — the
    fence proven by test_incremental_vs_batch_divergence_fence. This
    recomputes exactly that fenced region from the now-global block table:

    * edges with an endpoint OUTSIDE every hot block came from a shared
      non-hot key both paths generate identically — kept verbatim;
    * suspect edges (both endpoints hot-block members) are kept only if
      they share a NON-hot key (a batch candidate regardless of salting);
    * the hot-derived candidate set is REBUILT with batch semantics
      (apply_salt + cross-shard rep bridge over GLOBAL shard counts) and
      scored fresh against the full-corpus features, replacing every
      streaming-salted hot edge.

    For pair-local score models the result is byte-equal to the batch edge
    set (the fence test asserts zero post-compaction divergence). For
    corpus-dependent features (TF-IDF cosine with nonzero weight) the hot
    region is additionally re-scored at full-corpus IDF; non-hot edges keep
    their admission-time scores — the documented bounded-staleness
    tradeoff, eliminated entirely by compact(mode="rescore").

    Work is O(hot blocks), not O(corpus pairs): hot keys are by definition
    few (count > salt_cap each), and every expansion below is salt-bounded.
    """
    from ..operators import blocking as B
    from ..plans import pipeline as P

    hot = B.hot_keys(blocks, cfg.salt_cap).persist()
    h_ids = None
    try:
        if hot.limit(1).count() == 0:
            return None  # no hot keys -> streamed edges already batch-equal
        hot_members = blocks.join(F.broadcast(hot), "block_key", "left_semi")
        h_ids = hot_members.select("record_id").distinct().persist()
        hot_pairs = B.merge_pairs(B.salted_pairs(hot_members, hot))

        flagged = edges.join(
            h_ids.select(F.col("record_id").alias("id_a"), F.lit(True).alias("_ha")),
            "id_a",
            "left",
        ).join(
            h_ids.select(F.col("record_id").alias("id_b"), F.lit(True).alias("_hb")),
            "id_b",
            "left",
        )
        is_suspect = F.col("_ha").isNotNull() & F.col("_hb").isNotNull()
        keep_outside = flagged.filter(~is_suspect).select("id_a", "id_b")
        suspects = flagged.filter(is_suspect).select("id_a", "id_b")
        nonhot_blocks = blocks.join(F.broadcast(hot), "block_key", "left_anti")
        keep_nonhot = (
            suspects.join(
                nonhot_blocks.select(
                    F.col("record_id").alias("id_a"), "block_key"
                ),
                "id_a",
            )
            .join(
                nonhot_blocks.select(
                    F.col("record_id").alias("id_b"), "block_key"
                ),
                ["id_b", "block_key"],
                "left_semi",
            )
            .select("id_a", "id_b")
            .distinct()
        )
        cached: list[DataFrame] = []
        feats = P.build_features(
            records, hot_pairs, cfg, cache_registry=cached,
            corpus_stats=corpus_stats,
        )
        fresh = P.score_edges(feats, cfg).select("id_a", "id_b")
        out = (
            keep_outside.unionByName(keep_nonhot)
            .unionByName(fresh)
            .distinct()
            .persist()
        )
        out.count()  # materialize before the TF-IDF weight cache is dropped
        for df in cached:
            df.unpersist()
        return out
    finally:
        hot.unpersist()
        if h_ids is not None:
            h_ids.unpersist()


def compact(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    cfg=None,
    mode: str | None = None,
) -> dict:
    """Fold every visible epoch of an incremental_er run into ONE
    records/blocks/edges table behind the same atomic epoch marker.

    Why: the state readers union one DataFrame per epoch, so after
    thousands of micro-batches the per-batch plans carry thousand-branch
    unions, and the new-vs-old hot-key shard counts drift from true corpus
    sizes. Compaction rewrites the union as a single parquet table per
    state name under a fresh generation id c<n> (never overwriting a path
    a live reader may hold), then flips the epoch marker to [c<n>] in one
    atomic commit — a crash mid-compaction leaves the previous epoch set
    fully intact. Superseded epoch tables stay on disk for still-running
    readers; production GC removes them after a retention window.

    mode (default "converge" when cfg is given, else "fold"):
    * "fold"     — rewrite state tables only; clusters re-pointed (the
                   pre-r6 behavior; the hot-key shard-size drift persists
                   until the next converging compaction).
    * "converge" — additionally reconcile the hot-key-fenced edge region
                   with batch GLOBAL-shard-size semantics and recompute
                   clusters (see _converge_hot_key_edges). Post-compaction
                   clusters are byte-equal to the batch pipeline for
                   pair-local score models WITH cfg.use_snb and
                   cfg.use_phonetic False — streaming only generates LSH
                   candidates, so SNB/phonetic candidate pairs the batch
                   pipeline would add are never reconciled here (a warning
                   fires when such a cfg is passed; use "rescore" for
                   full-blocker equality). Requires cfg.
    * "rescore"  — periodic batch reconciliation: rebuild candidate pairs,
                   features, edges, and clusters from the folded records
                   with the full batch pipeline (fresh corpus-wide IDF).
                   Byte-equal to batch for EVERY score model, including
                   cfg.use_snb blockers streaming never runs; costs one
                   batch run over the corpus — schedule accordingly.

    Run between triggers (the availableNow pattern: query finished or
    stopped) — process_batch snapshots the epoch list at batch start, so a
    concurrent flip mid-batch would be clobbered by that batch's commit.
    incremental_er(compact_every=N) runs this automatically right after
    every Nth epoch's commit, inside the (strictly sequential) foreachBatch
    callback — the always-safe compaction point.

    Returns {"epoch": c<n>, "n_epochs_folded": k}; no-op dict when there is
    nothing to fold."""
    from ..operators import cc as CC
    from ..plans import pipeline as P
    from ..sources.catalog import Catalog

    if mode is None:
        mode = "converge" if cfg is not None else "fold"
    if mode not in ("fold", "converge", "rescore"):
        raise ValueError(f"compact: unknown mode {mode!r}")
    if mode != "fold" and cfg is None:
        raise ValueError(f"compact(mode={mode!r}) needs the pipeline cfg")
    if mode == "converge" and (cfg.use_snb or cfg.use_phonetic):
        import warnings

        warnings.warn(
            "compact(mode='converge') with cfg.use_snb/use_phonetic set: "
            "streaming never generates SNB/phonetic candidates, so "
            "post-compaction clusters are NOT batch-equal under this cfg — "
            "converge only reconciles the hot-key LSH region. Use "
            "mode='rescore' for full-blocker batch equality.",
            stacklevel=2,
        )

    cat = Catalog(out_dir, run_id)
    meta = cat.committed_meta("epoch")
    if not meta or not meta["epochs"]:
        return {"epoch": None, "n_epochs_folded": 0}
    epochs = list(meta["epochs"])
    if len(epochs) == 1 and mode == "fold":
        return {"epoch": epochs[0], "n_epochs_folded": 0}
    gen = int(meta.get("n_compactions", 0)) + 1
    cid = f"c{gen}"
    state = {
        name: _read_state(spark, cat, name, epochs)
        for name in ("records", "blocks", "edges")
    }
    # records are carried verbatim through every compaction mode, so the
    # accumulated corpus stats (n_docs, ctx tokens) ride the marker flip
    cstats = meta.get("corpus_stats")
    stats_tuple = (cstats["n"], cstats["tok"]) if cstats else None
    converged = None
    rescore_cached: list[DataFrame] = []
    if mode == "converge":
        converged = _converge_hot_key_edges(
            spark, state["records"], state["blocks"], state["edges"], cfg,
            corpus_stats=stats_tuple,
        )
    elif mode == "rescore":
        # rescore runs as a periodically scheduled reconciliation inside a
        # long-lived streaming driver: collect the batch pipeline's internal
        # persists (LSH blocks, SNB ranks, TF-IDF weights) and drop them
        # after the edges table materializes, or each invocation leaks
        # cached frames into executor storage memory.
        pairs = P.build_candidate_pairs(
            state["records"], cfg, cache_registry=rescore_cached
        )
        feats = P.build_features(
            state["records"], pairs, cfg, cache_registry=rescore_cached,
            corpus_stats=stats_tuple,
        )
        converged = P.score_edges(feats, cfg).select("id_a", "id_b")
    if converged is not None:
        state["edges"] = converged
    for name in ("records", "blocks", "edges"):
        cat.write(state[name], f"{name}_epoch_{cid}")
    for df in rescore_cached:  # edges table is on disk; drop pipeline caches
        df.unpersist()
    if converged is not None:
        # recompute clusters from the reconciled edge table (read back:
        # truncates the converge plan so the cached frames can drop)
        clusters = P.cluster(
            state["records"], cat.read(spark, f"edges_epoch_{cid}"), cfg
        )
        if hasattr(converged, "unpersist"):
            converged.unpersist()
    else:
        # the last epoch's clusters are already the global labels —
        # re-point, don't recompute
        clusters = cat.read(spark, f"clusters_epoch_{epochs[-1]}")
    cat.write(clusters, f"clusters_epoch_{cid}")
    new_meta = {"epochs": [cid], "n_compactions": gen}
    if cstats:
        new_meta["corpus_stats"] = cstats
    cat.commit("epoch", new_meta)
    cat.write_alias("clusters", f"clusters_epoch_{cid}")
    return {"epoch": cid, "n_epochs_folded": len(epochs)}


def read_er_records(spark: SparkSession, out_dir: str, run_id: str) -> DataFrame:
    """Union of all committed per-epoch record tables (the logical
    'records' table of an incremental_er run)."""
    from ..sources.catalog import Catalog

    cat = Catalog(out_dir, run_id)
    meta = cat.committed_meta("epoch") or {"epochs": []}
    out = _read_state(spark, cat, "records", list(meta["epochs"]))
    if out is None:
        raise ValueError(
            f"incremental_er run '{run_id}' under {out_dir} has no committed "
            "epochs (the stream delivered zero non-empty batches)"
        )
    return out
