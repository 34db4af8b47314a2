"""Streaming ER at bench scale: a committed 100k-page corpus, then ~10
incremental 10k-page batches against it — the 100-TB operating shape
("new crawl wave vs committed corpus") measured beyond toy fixtures.

Reports per-batch walls for the incremental waves (flatness = the
incremental path's cost tracks the BATCH size, not the corpus size) and
verifies the final streamed clusters are IDENTICAL to the batch pipeline
over the union of all pages.

cfg uses use_snb=False (sorted-neighborhood is global-order by
construction and is not run incrementally). Both paths bridge salted hot
keys: the streaming blocker runs the same cross-shard rep-chain bridge as
batch (over batch-local hot keys plus committed hot keys the batch
touches), so the comparison exercises the production configuration. Residual divergence on hot keys comes from
shard counts (committed/batch-local sizes vs batch's global sizes) and
is quantified, not hidden, by the diff_fraction output.

r6: after the wave comparison, runs ST.compact() (converge mode — the
incremental_er auto-compaction default) and compares AGAIN: the converging
compaction re-shards committed hot keys from GLOBAL block sizes and
rescores exactly the fenced region against full-corpus features, so the
post-compaction divergence is the measured-at-scale check of the r6
zero-divergence claim (fence test proves it at fixture scale).

Usage: python tools/bench_streaming_scale.py [seed_pages] [n_waves] [wave_pages]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    seed_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_waves = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    wave_pages = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000

    from pyspark.sql import functions as F

    from nlp_entity_linking_spark.conf import get_spark
    from nlp_entity_linking_spark.plans import pipeline as P
    from nlp_entity_linking_spark.sources.catalog import Catalog
    from nlp_entity_linking_spark.sources.synthetic import gen_pages
    from nlp_entity_linking_spark.streaming import stream_ops as ST

    spark = get_spark(app_name="bench_streaming_scale")
    cfg = P.PipelineConfig(use_snb=False)
    work = tempfile.mkdtemp(prefix="bench_stream_scale_")
    src = f"{work}/pages_in"
    out = f"{work}/cat"
    run_id = "scale"

    total = seed_pages + n_waves * wave_pages
    # deterministic waves by url HASH range, not arrival order: all
    # re-crawls of one url must land in ONE wave, because the incremental
    # path is first-write-wins per record_id while the batch pipeline is
    # latest-per-url — a url straddling waves would make the two outputs
    # legitimately differ (same convention as tests/test_streaming.py)
    pages = gen_pages(spark, total)[0].withColumn(
        "_rn", F.pmod(F.xxhash64("url"), F.lit(total))
    )
    t0 = time.perf_counter()
    pages.filter(F.col("_rn") < seed_pages).drop("_rn").repartition(8).write.mode(
        "append"
    ).parquet(src)
    q = ST.incremental_er(
        spark, ST.read_pages_stream(spark, src), out, run_id, cfg=cfg
    )
    q.awaitTermination(3600)
    seed_wall = time.perf_counter() - t0

    wave_walls = []
    for w in range(n_waves):
        lo = seed_pages + w * wave_pages
        hi = lo + wave_pages
        pages.filter((F.col("_rn") >= lo) & (F.col("_rn") < hi)).drop(
            "_rn"
        ).repartition(8).write.mode("append").parquet(src)
        t1 = time.perf_counter()
        q = ST.incremental_er(
            spark, ST.read_pages_stream(spark, src), out, run_id, cfg=cfg
        )
        q.awaitTermination(3600)
        wave_walls.append(round(time.perf_counter() - t1, 3))

    # ---- equality vs the batch pipeline over the union ----
    cat = Catalog(out, run_id)
    epochs = cat.committed_meta("epoch")["epochs"]
    streamed = None
    last = max(epochs)
    streamed = cat.read(spark, f"clusters_epoch_{last}")
    s_rows = {
        (r.record_id, r.cluster_id) for r in streamed.collect()
    }

    batch = P.run_pipeline(spark, pages.drop("_rn"), cfg)
    b_rows = {
        (r.record_id, r.cluster_id) for r in batch["clusters"].collect()
    }
    # when hot keys exist, streaming salting shards by COMMITTED/batch-local
    # sizes while batch salting shards by global sizes — the documented
    # bounded approximation (stream_ops.incremental_candidate_pairs), so at
    # scale the two partitions can differ on hot-key members. Quantify it:
    # how many records sit in a differing assignment, not just a bool.
    diff_records = {r for r, _ in s_rows ^ b_rows}

    # ---- converging compaction, then compare again (r6) ----
    t2 = time.perf_counter()
    info = ST.compact(spark, out, run_id, cfg=cfg)
    compact_wall = round(time.perf_counter() - t2, 3)
    s2_rows = {
        (r.record_id, r.cluster_id)
        for r in cat.read(spark, "clusters").collect()
    }
    diff_after = {r for r, _ in s2_rows ^ b_rows}

    # ---- rescore compaction (batch reconciliation), compare once more ----
    # converge mode's residual with corpus-dependent score models is the
    # documented IDF staleness on non-hot edges kept verbatim; rescore
    # rebuilds pairs/features/edges/clusters from the folded records with
    # the full batch pipeline — byte-equal for EVERY model, at the cost of
    # one batch run over the corpus.
    t3 = time.perf_counter()
    ST.compact(spark, out, run_id, cfg=cfg, mode="rescore")
    rescore_wall = round(time.perf_counter() - t3, 3)
    s3_rows = {
        (r.record_id, r.cluster_id)
        for r in cat.read(spark, "clusters").collect()
    }
    diff_rescore = {r for r, _ in s3_rows ^ b_rows}

    # head/tail medians over thirds, clamped so n_waves < 3 still reports
    # (a 1-wave smoke run compares the wave against itself, ratio 1.0)
    if wave_walls:
        k = min(len(wave_walls), max(3, len(wave_walls) // 3))
        head = sorted(wave_walls[:k])[(k - 1) // 2]
        tail = sorted(wave_walls[-k:])[(k - 1) // 2]
    else:
        head = tail = None
    print(
        json.dumps(
            {
                "seed_pages": seed_pages,
                "n_waves": n_waves,
                "wave_pages": wave_pages,
                "seed_wall_sec": round(seed_wall, 3),
                "wave_walls_sec": wave_walls,
                "median_head_sec": head,
                "median_tail_sec": tail,
                "tail_over_head": round(tail / head, 3) if head else None,
                "clusters_byte_equal_to_batch": s_rows == b_rows,
                "n_records_in_differing_assignments": len(diff_records),
                "diff_fraction": round(len(diff_records) / max(len(s_rows), 1), 6),
                "compact_converge_wall_sec": compact_wall,
                "compact_epochs_folded": info["n_epochs_folded"],
                "post_compact_byte_equal_to_batch": s2_rows == b_rows,
                "post_compact_n_differing": len(diff_after),
                "rescore_wall_sec": rescore_wall,
                "post_rescore_byte_equal_to_batch": s3_rows == b_rows,
                "post_rescore_n_differing": len(diff_rescore),
                "n_records": len(s_rows),
                "n_clusters": len({c for _, c in s_rows}),
                "n_clusters_batch": len({c for _, c in b_rows}),
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
