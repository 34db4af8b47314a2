"""E2E certification at 10x bench scale with a mid-CC kill/resume proof.

Every component is individually scale-certified (CC at 10^8 edges, ANN at
100k x 768, scaling efficiency at 300k records), but the COMPOSED stage
graph — records -> blocking -> features -> calibrate -> score -> edges ->
CC -> eval, with catalog commits between stages — needs its own
certification above bench scale, and the north rule's headline durability
claim (checkpointed resume) needs a proof at that scale too. This tool:

1. runs the full spark-submit launch form UNINTERRUPTED at `n_pages`
   (default 1,000,000 — 10x the per-round bench), recording per-stage
   walls from the committed lineage table, end-to-end wall, peak RSS of
   the whole process tree (driver JVM + Python workers), and F1;
2. runs the SAME job again under a different run id, SIGKILLs the entire
   process tree the moment the second CC iteration's commit marker lands
   (mid-loop, state half-written), relaunches with --resume, and proves
   the resumed output is BYTE-EQUAL to the uninterrupted run: identical
   clusters table, identical match-edge table, identical F1 — via DuckDB
   EXCEPT over the committed parquet (no Spark in the verdict path);
3. writes one JSON artifact (BENCH/e2e_1m_r6.json by default).

The synthetic corpus is deterministic (seed 42 inside gen_pages), so runs
A and B see byte-identical input without staging it.

Usage: python tools/bench_e2e_scale.py [n_pages] [out_root] [artifact]
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

REPO = "/root/repo"
ZIP = os.path.join(REPO, "dist", "nlp_entity_linking_spark.zip")


def _session_pids(sid: int) -> list[int]:
    """Every process in session `sid` (driver JVM forks + Python workers
    all inherit the launch session)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                # comm (field 2) may contain spaces — split after the ')'
                rest = f.read().rsplit(")", 1)[1].split()
            if int(rest[3]) == sid:  # session id
                pids.append(int(pid))
        except (OSError, IndexError, ValueError):
            continue
    return pids


def _tree_mem_bytes(sid: int) -> tuple[int, int]:
    """(pss_sum, rss_sum) over the process session.

    PSS (smaps_rollup) divides every shared page by its mapper count, so
    the sum over the JVM + its ~32 forked Python workers is the tree's TRUE
    unique-memory footprint. A plain RSS sum counts each COW/shared page
    once PER PROCESS — the r6 artifact reported 184.8 GiB 'peak RSS' on a
    125 GiB host that way — so RSS is kept only as the labeled upper bound.
    """
    pss = rss = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                got = 0
                for line in f:  # Rss: line precedes Pss: in rollup order
                    if line.startswith("Rss:"):
                        rss += int(line.split()[1]) * 1024
                        got += 1
                    elif line.startswith("Pss:"):
                        pss += int(line.split()[1]) * 1024
                        got += 1
                    if got == 2:
                        break
        except OSError:
            continue
    return pss, rss


# cgroup v1 memory controller of this container (the kernel's own
# accounting — what the OOM killer acts on). max_usage includes page cache
# (reclaimable), so it brackets the PSS number from above; usage is
# container-wide, so run benches on a quiet host.
def _cgroup_mem_dir() -> str | None:
    """v1: /sys/fs/cgroup/memory<path> with memory.max_usage_in_bytes;
    v2 (unified hierarchy, '0::<path>' line): /sys/fs/cgroup<path> with
    memory.peak. Without the v2 fallback the kernel-peak leg of the memory
    certification silently reported null on modern hosts."""
    try:
        with open("/proc/self/cgroup") as f:
            for line in f:
                parts = line.strip().split(":")
                if len(parts) == 3 and "memory" in parts[1].split(","):
                    d = f"/sys/fs/cgroup/memory{parts[2]}"
                    if os.path.exists(os.path.join(d, "memory.max_usage_in_bytes")):
                        return d
                if len(parts) == 3 and parts[0] == "0" and parts[1] == "":
                    d = f"/sys/fs/cgroup{parts[2]}"
                    if os.path.exists(os.path.join(d, "memory.peak")):
                        return d
    except OSError:
        pass
    return None


def _cgroup_peak_file(d: str) -> str:
    v1 = os.path.join(d, "memory.max_usage_in_bytes")
    return v1 if os.path.exists(v1) else os.path.join(d, "memory.peak")


def _cgroup_peak_reset(d: str | None) -> None:
    # v2's memory.peak is not resettable (write -> EINVAL, swallowed):
    # callers record a BASELINE read before the run and report the delta-
    # aware pair (see artifact fields) instead of a reset-then-read.
    if d:
        try:
            with open(_cgroup_peak_file(d), "w") as f:
                f.write("0")
        except OSError:
            pass


def _cgroup_peak_read(d: str | None) -> int | None:
    if not d:
        return None
    try:
        with open(_cgroup_peak_file(d)) as f:
            return int(f.read())
    except OSError:
        return None


def _launch(run_id: str, out_root: str, n_pages: int, resume: bool = False):
    # driver memory MUST be passed at spark-submit time: in spark-submit
    # mode the driver JVM is already up before conf.py's session builder
    # runs, so spark.driver.memory/extraJavaOptions set there are silently
    # ignored and the job runs on the 1g default — which is exactly how the
    # first 1M-page certification attempt died (24-minute GC-thrashed
    # records stage, then HashAggregate/broadcast OOMs in blocking).
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "96g")
    cmd = [
        "spark-submit",
        "--master",
        "local[32]",
        "--driver-memory",
        mem,
        "--conf",
        "spark.driver.extraJavaOptions=-Xms32g -XX:+UseG1GC",
        "--py-files",
        ZIP,
        os.path.join(REPO, "main.py"),
        "--n-pages",
        str(n_pages),
        "--run-id",
        run_id,
        "--out",
        out_root,
    ]
    if resume:
        cmd.append("--resume")
    return subprocess.Popen(
        cmd,
        cwd="/tmp",  # imports must come from the zip, not the repo
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,
    )


def _run_to_completion(run_id: str, out_root: str, n_pages: int, resume=False):
    """Run, polling tree PSS/RSS; return (summary, wall_sec, mem dict).

    mem = {peak_pss_gib, peak_rss_sum_gib, cgroup_peak_gib}: PSS is the
    true unique footprint (headroom vs the 125 GiB host reads off this);
    RSS-sum is the COW-double-counting upper bound kept for continuity with
    the r6 artifact; cgroup peak is the kernel's container-wide accounting
    including reclaimable page cache (reset before each run)."""
    cg = _cgroup_mem_dir()
    _cgroup_peak_reset(cg)
    t0 = time.perf_counter()
    proc = _launch(run_id, out_root, n_pages, resume)
    peak_pss = peak_rss = 0
    while proc.poll() is None:
        pss, rss = _tree_mem_bytes(proc.pid)
        peak_pss = max(peak_pss, pss)
        peak_rss = max(peak_rss, rss)
        # 3s, not 0.5s: each smaps_rollup read of a ~100 GiB-mapped JVM
        # walks page tables under the mmap lock — sub-second polling both
        # burns a core and contends with the JVM's own mmap traffic. Peak
        # detection at 3s granularity is ample for multi-minute stages,
        # and the kernel's cgroup peak catches anything the sampler skips.
        time.sleep(3)
    wall = time.perf_counter() - t0
    cg_peak = _cgroup_peak_read(cg)
    out = proc.stdout.read()
    if proc.returncode != 0:
        raise RuntimeError(f"run {run_id} failed rc={proc.returncode}: {out[-2000:]}")
    summary = json.loads(out.strip().splitlines()[-1])
    mem = {
        "peak_pss_gib": round(peak_pss / 2**30, 2),
        "peak_rss_sum_gib": round(peak_rss / 2**30, 2),
        "cgroup_peak_gib": (
            round(cg_peak / 2**30, 2) if cg_peak is not None else None
        ),
    }
    return summary, wall, mem


def _stage_walls(out_root: str, run_id: str) -> dict:
    import duckdb

    path = os.path.join(out_root, run_id, "lineage", "*.parquet")
    rows = duckdb.sql(
        f"SELECT stage, max(wall_ms)/1000.0 AS sec FROM read_parquet('{path}') "
        "GROUP BY stage ORDER BY sec DESC"
    ).fetchall()
    return {s: round(sec, 3) for s, sec in rows}


def _tables_equal(a: str, b: str, cols: str) -> tuple[bool, int, int]:
    import duckdb

    na = duckdb.sql(f"SELECT count(*) FROM read_parquet('{a}/*.parquet')").fetchone()[0]
    nb = duckdb.sql(f"SELECT count(*) FROM read_parquet('{b}/*.parquet')").fetchone()[0]
    diff = duckdb.sql(
        f"SELECT count(*) FROM ("
        f"(SELECT {cols} FROM read_parquet('{a}/*.parquet') EXCEPT "
        f" SELECT {cols} FROM read_parquet('{b}/*.parquet')) UNION ALL "
        f"(SELECT {cols} FROM read_parquet('{b}/*.parquet') EXCEPT "
        f" SELECT {cols} FROM read_parquet('{a}/*.parquet')))"
    ).fetchone()[0]
    return diff == 0 and na == nb, na, nb


def main() -> None:
    measure_only = "--measure-only" in sys.argv
    if measure_only:
        sys.argv.remove("--measure-only")
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    out_root = sys.argv[2] if len(sys.argv) > 2 else "/tmp/erlink_e2e_scale"
    artifact = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(REPO, "BENCH", "e2e_1m_r6.json")
    )
    subprocess.run(["bash", "scripts/package.sh"], cwd=REPO, check=True,
                   stdout=subprocess.DEVNULL)
    subprocess.run(["rm", "-rf", out_root], check=True)

    # ---- run A: uninterrupted -------------------------------------------
    print(f"run A (uninterrupted, {n_pages} pages) ...", flush=True)
    summary_a, wall_a, mem_a = _run_to_completion("full", out_root, n_pages)
    print(json.dumps({"run": "A", "wall_sec": round(wall_a, 1),
                      **mem_a,
                      "f1": summary_a.get("eval", {}).get("f1")}), flush=True)

    if measure_only:
        result = {
            "n_pages": n_pages,
            "master": "local[32]",
            "mode": "measure-only (run A, no kill/resume)",
            "uninterrupted": {
                "wall_sec": round(wall_a, 1),
                **mem_a,
                "stage_walls_sec": _stage_walls(out_root, "full"),
                "summary": summary_a,
            },
        }
        print(json.dumps(result))
        with open(artifact, "w") as fh:
            json.dump(result, fh, indent=1)
        return

    # ---- run B: SIGKILL mid-CC, then resume ------------------------------
    print("run B (kill mid-CC) ...", flush=True)
    kill_marker = os.path.join(out_root, "killed", "_commits", "cc_iter_1.json")
    done_marker = os.path.join(out_root, "killed", "_commits", "clusters.json")
    proc = _launch("killed", out_root, n_pages)
    killed_at = None
    t0 = time.perf_counter()
    while proc.poll() is None:
        if os.path.exists(kill_marker):
            killed_at = time.perf_counter() - t0
            os.killpg(proc.pid, signal.SIGKILL)
            break
        time.sleep(0.05)
    if killed_at is None:
        raise RuntimeError(
            "run B finished before cc_iter_1 committed — kill point missed; "
            "raise n_pages (a match graph within CC.SMALL_GRAPH_EDGES commits "
            "no iteration) or poll faster"
        )
    proc.wait()
    assert not os.path.exists(done_marker), "clusters committed despite kill"
    committed_iters = sorted(
        f for f in os.listdir(os.path.join(out_root, "killed", "_commits"))
        if f.startswith("cc_iter_")
    )
    print(json.dumps({"run": "B", "killed_after_sec": round(killed_at, 1),
                      "cc_iters_committed_at_kill": len(committed_iters)}),
          flush=True)

    print("run B resume ...", flush=True)
    summary_b, wall_b, mem_b = _run_to_completion(
        "killed", out_root, n_pages, resume=True
    )

    # ---- byte-equality verdict (DuckDB, no Spark) ------------------------
    clusters_eq, n_ca, n_cb = _tables_equal(
        os.path.join(out_root, "full", "clusters"),
        os.path.join(out_root, "killed", "clusters"),
        "record_id, cluster_id",
    )
    edges_eq, n_ea, n_eb = _tables_equal(
        os.path.join(out_root, "full", "match_edges"),
        os.path.join(out_root, "killed", "match_edges"),
        "id_a, id_b, score",
    )
    result = {
        "n_pages": n_pages,
        "master": "local[32]",
        "uninterrupted": {
            "wall_sec": round(wall_a, 1),
            **mem_a,
            "stage_walls_sec": _stage_walls(out_root, "full"),
            "summary": summary_a,
        },
        "kill_resume": {
            "killed_after_sec": round(killed_at, 1),
            "cc_iters_committed_at_kill": len(committed_iters),
            "resume_wall_sec": round(wall_b, 1),
            "resume_mem": mem_b,
            "resume_summary": summary_b,
        },
        "byte_equal": {
            "clusters": clusters_eq,
            "clusters_rows": [n_ca, n_cb],
            "match_edges": edges_eq,
            "match_edges_rows": [n_ea, n_eb],
            "f1_equal": summary_a.get("eval") == summary_b.get("eval"),
        },
    }
    print(json.dumps(result))
    with open(artifact, "w") as fh:
        json.dump(result, fh, indent=1)
    if not (clusters_eq and edges_eq and result["byte_equal"]["f1_equal"]):
        raise SystemExit(f"BYTE-EQUALITY FAILED: {result['byte_equal']}")


if __name__ == "__main__":
    main()
