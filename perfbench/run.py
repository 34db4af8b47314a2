"""Benchmark of the entity-resolution engine, end to end and layer by layer.

  python3 perfbench/run.py --workload er_labeled|er_stream --seed N \
      --seconds S --trace 0|1

Runs from the root of a checkout. The Spark work happens in a child process
(perfbench/worker.py); this process times its start-up, samples the memory
of its process tree, repeats the start-up to get a median, and prints one
JSON line as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (a traced run also makes one untraced pass, to report the
tracing overhead). See perfbench/README.md for definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER = os.path.join(HERE, "worker.py")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
PROGRAM = os.path.join(ROOT, "nlp_entity_linking_spark")

WORKLOADS = ("er_labeled", "er_stream")
SETUP_SAMPLES = 2  # the measured run's own start-up plus one more
BUDGET_S = 170  # the whole run, start-up probes included
PROBE_RESERVE_S = 30
RSS_INTERVAL_S = 1.0  # sub-second polling taxes a large JVM
PAGE = os.sysconf("SC_PAGE_SIZE")


def session_pids(sid: int) -> list[int]:
    """Live processes of the session `sid` (the worker, its JVM and the
    JVM's Python workers)."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def tree_rss(sid: int) -> int:
    """Resident bytes of the session's processes (page cache excluded:
    statm counts only pages mapped by the processes)."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class Worker:
    """One worker process in its own session, with a memory sampler."""

    def __init__(self, args: list[str], work: str, env: dict, log_path: str):
        self.log_path = log_path
        self.peak_rss = 0
        self.t_ready = None
        self._log = open(log_path, "wb")
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, WORKER, "--work", work, *args],
            stdout=subprocess.PIPE, stderr=self._log, env=env, cwd=ROOT,
            start_new_session=True,
        )
        self._done = threading.Event()
        self._threads = [threading.Thread(target=self._read, daemon=True),
                         threading.Thread(target=self._sample, daemon=True)]
        for t in self._threads:
            t.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.strip() == b"READY" and self.t_ready is None:
                self.t_ready = time.perf_counter()

    def _sample(self) -> None:
        while not self._done.wait(RSS_INTERVAL_S):
            self.peak_rss = max(self.peak_rss, tree_rss(self.proc.pid))

    @property
    def setup_s(self) -> float | None:
        return None if self.t_ready is None else self.t_ready - self.t_spawn

    def finish(self, timeout: float) -> bool:
        """Wait for the worker, then for every process it started. Kills the
        whole session on timeout. True if the worker exited with 0."""
        try:
            code = self.proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = None
        deadline = time.monotonic() + 20
        while session_pids(self.proc.pid):
            if code is None or time.monotonic() > deadline:
                try:
                    os.killpg(self.proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        if code is None:
            self.proc.wait()
        self._done.set()
        for t in self._threads:
            t.join(timeout=5)
        self._log.close()
        return code == 0

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def worker_env(work: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           # the program's own tuning knobs: measure its defaults
           if not k.startswith("SPARK_GRAFT_")}
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # spark-submit's short-lived launcher JVM: keep its files out of /tmp
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
    })
    return env


def clean_stale_work() -> None:
    """Remove work directories of benchmark runs that no longer exist."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def metric_units() -> tuple[dict, dict]:
    """-> ({end-to-end name: unit}, {per-layer name: unit}) from
    BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(PROGRAM):
        print(f"perfbench: the program is missing ({PROGRAM})", file=sys.stderr)
        return 2

    t_end = time.monotonic() + BUDGET_S
    units = metric_units()[args.trace]
    clean_stale_work()
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    env = worker_env(work)
    results, workers = [], []

    def run_worker(trace: int, seconds: float, reserve: float) -> dict | None:
        i = len(workers)
        result_path = os.path.join(work, f"result-{i}.json")
        w = Worker(["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--result", result_path],
                   os.path.join(work, f"w{i}"), env, os.path.join(work, f"worker-{i}.log"))
        workers.append(w)
        ok = w.finish(t_end - reserve - time.monotonic())
        if not ok or not os.path.exists(result_path):
            print(f"perfbench: worker {i} failed:\n{w.log_tail()}", file=sys.stderr)
            return None
        with open(result_path) as f:
            res = json.load(f)
        results.append(res)
        return res

    try:
        if args.trace:
            # one untraced unit, then the same unit traced
            plain = run_worker(0, 0, PROBE_RESERVE_S)
            traced = plain and run_worker(1, 0, 0)
            if traced is None or "metrics" not in traced:
                return 1
            metrics = dict(traced["metrics"])
            metrics["trace.overhead_s"] = traced["unit_wall_s"] - plain["unit_wall_s"]
            # layers a workload does not run report 0
            metrics = {name: metrics.get(name, 0.0) for name in units}
        else:
            res = run_worker(0, args.seconds, PROBE_RESERVE_S)
            if res is None or "metrics" not in res:
                return 1
            samples = [workers[0]]
            for i in range(1, SETUP_SAMPLES):
                if time.monotonic() > t_end - 15:
                    break
                probe = Worker(["--setup-only"], os.path.join(work, f"p{i}"),
                               env, os.path.join(work, f"probe-{i}.log"))
                probe.finish(t_end - time.monotonic())
                samples.append(probe)
            setups = [w.setup_s for w in samples if w.setup_s is not None]
            metrics = {
                **res["metrics"],
                "setup_s": statistics.median(setups),
                "peak_rss_mb": workers[0].peak_rss / 2**20,
            }
            res["details"]["setup_samples_s"] = [round(s, 3) for s in setups]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = [f for r in results for f in r["failures"]]
    for f in failures:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print("perfbench details: " + json.dumps(
        {"workload": args.workload, "seed": args.seed, "trace": args.trace,
         **results[-1]["details"]}))
    print(json.dumps({
        "correct": not failures,
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
