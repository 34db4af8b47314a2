"""Spark-side half of the benchmark: opens the session, stages the inputs,
runs one workload in a closed loop, checks the outputs and writes a result
file. perfbench/run.py starts it; it is not meant to be run by hand.

  worker.py --workload W --seed N --seconds S --trace 0|1 --work DIR --result FILE
  worker.py --setup-only --work DIR

It prints READY on stdout as soon as the session is up, so the parent can
time process start -> session ready.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the repo root: the program
sys.path.insert(0, HERE)

# Input sizes. One unit of work (a pipeline run, or a whole stream) takes
# ~25-40 s on 4 cores, mostly fixed per-job cost, so these are far below
# the sizes the layer mix in README.md was first measured at.
LABELED_PAGES = 10_000
STREAM_FILES = 16  # read_pages_stream takes 8 files per trigger -> 2 triggers
STREAM_PAGES_PER_FILE = 125  # ~1000 pages per micro-batch
STREAM_COMPACT_EVERY = 1  # every trigger ends with a compaction
STREAM_TIMEOUT_S = 150


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ----------------------------------------------------------------------
# staging (before any timer)
# ----------------------------------------------------------------------

def stage_labeled(spark, seed: int, work: str) -> dict:
    from nlp_entity_linking_spark.sources.synthetic import gen_pages

    pages, gold = gen_pages(spark, LABELED_PAGES, seed=seed)
    src = os.path.join(work, "input", "pages")
    pages.write.parquet(src)
    gold.write.parquet(os.path.join(work, "input", "gold"))
    return {"pages_path": src}


def stage_stream(spark, seed: int, work: str) -> dict:
    """Pages as STREAM_FILES parquet files whose modification times follow
    their names, so every run cuts the same micro-batches."""
    from nlp_entity_linking_spark.sources.synthetic import gen_pages

    pages, gold = gen_pages(spark, STREAM_FILES * STREAM_PAGES_PER_FILE, seed=seed)
    src = os.path.join(work, "input", "pages")
    pages.repartition(STREAM_FILES, "url").write.parquet(src)
    files = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    base = time.time() - len(files) - 60
    for i, path in enumerate(files):
        os.utime(path, (base + i, base + i))
    gold.write.parquet(os.path.join(work, "input", "gold"))
    return {"pages_path": src}


# ----------------------------------------------------------------------
# one unit of work each
# ----------------------------------------------------------------------

def unit_labeled(spark, inputs: dict, out: str, run_id: str) -> dict:
    from nlp_entity_linking_spark.plans.run import run_with_catalog

    t0 = time.perf_counter()
    summary = run_with_catalog(spark, inputs["pages"], out, run_id, gold=inputs["gold"])
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "summary": summary}


def unit_stream(spark, inputs: dict, out: str, run_id: str) -> dict:
    from nlp_entity_linking_spark.streaming import stream_ops as SO

    t0 = time.perf_counter()
    q = SO.incremental_er(
        spark, SO.read_pages_stream(spark, inputs["pages_path"]), out, run_id,
        compact_every=STREAM_COMPACT_EVERY,
    )
    if not q.awaitTermination(STREAM_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream did not finish in {STREAM_TIMEOUT_S} s")
    wall = time.perf_counter() - t0
    batches = [p["durationMs"]["triggerExecution"] / 1000.0
               for p in q.recentProgress if p["numInputRows"] > 0]
    return {"wall_s": wall, "batch_s": batches}


# ----------------------------------------------------------------------
# output checks (after the timer)
# ----------------------------------------------------------------------

def check_labeled(spark, inputs: dict, out: str, run_id: str, unit: dict, seed: int):
    import checks as C
    from nlp_entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(out, run_id)
    records = cat.read(spark, "records")
    s = unit["summary"]
    counts = {k: s[k] for k in ("n_records", "n_candidate_pairs", "n_match_edges",
                                "n_clusters", "pairs_scored")}
    fails = (
        C.check_counts(counts, C.expected_counts("er_labeled", seed))
        + C.check_records(records, inputs["n_urls"])
        + C.check_clusters(records, cat.read(spark, "clusters"))
        + C.check_edges_subset(cat.read(spark, "match_edges"),
                               cat.read(spark, "candidate_pairs"))
        + C.check_f1(s["eval"]["f1"])
    )
    return s["eval"]["f1"], counts, fails


def check_stream(spark, inputs: dict, out: str, run_id: str, unit: dict, seed: int):
    import checks as C
    from nlp_entity_linking_spark.sources.catalog import Catalog
    from nlp_entity_linking_spark.streaming import stream_ops as SO

    records = SO.read_er_records(spark, out, run_id)
    clusters = Catalog(out, run_id).read(spark, "clusters")
    assign = (
        records.select("record_id", "url")
        .join(clusters, "record_id")
        .join(inputs["gold"], "url")
        .select("cluster_id", "entity_id")
        .toPandas()
    )
    f1 = C.all_pairs_f1(assign)
    counts = {
        "n_records": records.count(),
        "n_clusters": int(assign["cluster_id"].nunique()),
        "n_batches": len(unit["batch_s"]),
    }
    fails = (
        C.check_counts(counts, C.expected_counts("er_stream", seed))
        + C.check_records(records, inputs["n_urls"])
        + C.check_clusters(records, clusters)
    )
    return f1, counts, fails


WORKLOADS = {
    "er_labeled": (stage_labeled, unit_labeled, check_labeled),
    "er_stream": (stage_stream, unit_stream, check_stream),
}


# ----------------------------------------------------------------------
# traced-run extras
# ----------------------------------------------------------------------

def layer_extras(spark, workload: str, out: str, run_id: str, unit: dict,
                 counts: dict, input_bytes: int) -> dict:
    """Counts and ratios of single layers, read from the run's outputs."""
    run_dir = os.path.join(out, run_id)
    written = du(run_dir)
    m = {
        "records.rows": counts["n_records"],
        "catalog.mb_written": written / 2**20,
        "catalog.write_amp": written / input_bytes,
    }
    if workload == "er_labeled":
        s = unit["summary"]
        pairs, kept, edges = s["n_candidate_pairs"], s["pairs_scored"], s["n_match_edges"]
        m.update({
            "blocking.pairs": pairs,
            "blocking.match_yield": edges / pairs,
            "score.pairs_in": pairs,
            "score.gate_keep": kept / pairs,
            "score.edge_yield": edges / kept,
            "cc.iterations": len(glob.glob(os.path.join(run_dir, "_commits", "cc_iter_*.json"))),
        })
        return m
    from nlp_entity_linking_spark.sources.catalog import Catalog

    cat = Catalog(out, run_id)
    stats = []
    for path in glob.glob(os.path.join(run_dir, "_commits", "epoch_stats_*.json")):
        with open(path) as f:
            stats.append(json.load(f))
    pairs = sum(e["n_pairs_scored"] for e in stats)
    edges = sum(cat.read(spark, f"edges_epoch_{e}").count()
                for e in cat.committed_meta("epoch")["epochs"])
    state = sum(du(d) for d in glob.glob(os.path.join(run_dir, "*_epoch_*")))
    m.update({
        "blocking.pairs": pairs,
        "blocking.match_yield": edges / pairs,
        "score.pairs_in": pairs,
        "stream.records_s": statistics.median(e["records_ms"] for e in stats) / 1000,
        "stream.plan_s": statistics.median(e["plan_ms"] for e in stats) / 1000,
        "stream.score_writes_s": statistics.median(e["score_writes_ms"] for e in stats) / 1000,
        "stream.cluster_s": statistics.median(e["cluster_ms"] for e in stats) / 1000,
        "stream.visible_epochs": max(e["n_visible_epochs"] for e in stats),
        "stream.state_mb": state / 2**20,
        "stream.batches": len(unit["batch_s"]),
        "stream.batch_max_s": max(unit["batch_s"]),
    })
    return m


# ----------------------------------------------------------------------

def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=0.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--result")
    p.add_argument("--setup-only", action="store_true")
    args = p.parse_args(argv)

    from session import open_session

    os.makedirs(args.work, exist_ok=True)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    spark, details = open_session(args.work, bool(args.trace))
    print("READY", flush=True)
    phase("session_s")
    if args.setup_only:
        spark.stop()
        return 0

    stage, run_unit, check = WORKLOADS[args.workload]
    inputs = stage(spark, args.seed, args.work)
    inputs["pages"] = spark.read.parquet(inputs["pages_path"])
    inputs["gold"] = spark.read.parquet(os.path.join(args.work, "input", "gold"))
    n_pages = inputs["pages"].count()
    inputs["n_urls"] = inputs["gold"].count()
    input_bytes = du(os.path.join(args.work, "input", "pages"))
    out = os.path.join(args.work, "out")
    phase("stage_s")

    tracer = root = None
    if args.trace:
        from tracing import Tracer, instrument

        tracer = Tracer(spark.sparkContext)

    # closed loop, one client: the next unit starts when the previous one
    # has finished, until --seconds have passed (at least one unit)
    units, failures, attempted = [], [], 0
    deadline = time.perf_counter() + args.seconds
    while True:
        run_id = f"unit{len(units)}"
        attempted += 1
        try:
            if tracer is not None:
                # the stream's layers run inside one foreachBatch callback:
                # one top-level span covers them
                with instrument(tracer), tracer.span("run") as root, (
                    tracer.span("stream", "stream")
                    if args.workload == "er_stream" else contextlib.nullcontext()
                ):
                    unit = run_unit(spark, inputs, out, run_id)
            else:
                unit = run_unit(spark, inputs, out, run_id)
        except Exception:
            failures.append(f"{run_id} raised: {traceback.format_exc(limit=3)}")
            break
        unit["run_id"] = run_id
        units.append(unit)
        if tracer is not None or time.perf_counter() >= deadline:
            break

    phase("units_s")
    failed = len(failures)
    f1s, all_counts = [], []
    for unit in units:
        f1, counts, fails = check(spark, inputs, out, unit["run_id"], unit, args.seed)
        f1s.append(f1)
        all_counts.append(counts)
        if fails:
            failed += 1
            failures += [f"{unit['run_id']}: {f}" for f in fails]
    phase("checks_s")
    if args.workload == "er_stream":
        attempted = max(attempted, sum(len(u["batch_s"]) for u in units))

    result = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "details": {**details, "n_pages": n_pages, "n_urls": inputs["n_urls"],
                    "unit_walls_s": [round(u["wall_s"], 3) for u in units],
                    "counts": all_counts[0] if all_counts else None,
                    "phases": phases},
    }
    if units:
        walls = [u["wall_s"] for u in units]
        if args.workload == "er_stream":
            batch_p50 = statistics.median(b for u in units for b in u["batch_s"])
        else:
            batch_p50 = statistics.median(walls)
        result["unit_wall_s"] = statistics.median(walls)
        result["metrics"] = {
            "pages_per_s": n_pages / statistics.median(walls),
            "batch_p50_s": batch_p50,
            "pair_f1": statistics.median(f1s),
        }
        if tracer is not None:
            extras = layer_extras(spark, args.workload, out, units[0]["run_id"],
                                  units[0], all_counts[0], input_bytes)
            result["metrics"] = {"jvm.max_heap_mb": details["jvm_max_heap_mb"], **extras}
    spark.stop()
    if tracer is not None and units:
        from tracing import layer_metrics, read_event_log

        jobs, stages = read_event_log(os.path.join(args.work, "events"))
        result["metrics"].update(layer_metrics(tracer, root, jobs, stages))
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
