"""SparkSession construction with the explicit tuning the north rule demands.

BASELINE.json north_rule: "repartitioning, AQE skew handling, and broadcast
thresholds tuned explicitly rather than defaulted". Every knob below is set
on purpose; `get_spark` is the single session factory used by main.py,
bench.py, tests and the driver entry.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Host-fit heap: the driver takes this share of the memory the host (or its
# cgroup) lets the process commit, and -Xms this share of the heap — 4017m /
# -Xms1004m on a 16 GB host, ~31g / ~8g on a 125 GB one. A quarter leaves
# room for the Python workers and other tenants of a shared host.
HEAP_SHARE = 0.25
XMS_SHARE = 0.25


def _parse_mem_bytes(s: str) -> int | None:
    """'96g' / '512m' / '1t' -> bytes; None if unparseable.

    Suffix-less values default to MiB — matching Spark's readSizeAsMb
    semantics for spark.driver.memory ('4096' means 4096 MiB, not bytes).
    The old bytes default made check_driver_heap silently fail open for
    that spelling (4096 'bytes' fell under the toy threshold)."""
    s = s.strip().lower()
    if not s:
        return None
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    mult = units.get(s[-1])
    digits = s[:-1] if mult else s
    mult = mult or 2**20
    try:
        return int(float(digits) * mult)
    except ValueError:
        return None


def host_memory_bytes(
    meminfo: str = "/proc/meminfo",
    cgroup_max: str = "/sys/fs/cgroup/memory.max",
) -> int:
    """min(MemTotal, cgroup v2 memory.max): what this process may commit."""
    with open(meminfo) as f:
        total = next(
            int(line.split()[1]) * 1024
            for line in f
            if line.startswith("MemTotal:")
        )
    try:
        with open(cgroup_max) as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def host_driver_memory(host_bytes: int) -> str:
    """spark.driver.memory for a host with host_bytes of memory."""
    return f"{int(host_bytes * HEAP_SHARE) // 2**20}m"


def driver_java_options(driver_memory: str) -> str:
    """extraJavaOptions for a driver heap: -Xms pinned to XMS_SHARE of it
    (omitted when the heap string does not parse)."""
    heap = _parse_mem_bytes(driver_memory)
    xms = f"-Xms{int(heap // 2**20 * XMS_SHARE)}m " if heap else ""
    return f"{xms}-XX:+UseG1GC"


# Explicit tuning (SURVEY.md §4.2). These are the *local-mode* values; the
# cluster deployment section in README.md documents how they scale with
# executors (shuffle partitions ~ 2-3x total cores, broadcast threshold by
# driver memory).
_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_memory(
    host_memory_bytes()
)
DEFAULT_CONF: dict[str, str] = {
    # local mode = single JVM: driver memory is the only heap knob that
    # matters, sized from the host (SPARK_GRAFT_DRIVER_MEM overrides for
    # deployments). Must be set before JVM launch — which means these two
    # entries only take effect when the session is created FROM PYTHON
    # (python main.py / pytest / bench.py: py4j launches the JVM after the
    # builder runs). Under spark-submit the driver JVM is already up, both
    # are silently ignored, and the job runs on the 1g default — pass
    # `--driver-memory` (and `--conf spark.driver.extraJavaOptions=...`) on
    # the spark-submit line for any input beyond toy scale (README launch
    # form; tools/bench_e2e_scale.py does this).
    "spark.driver.memory": _DRIVER_MEMORY,
    # pin the initial heap: growing a heap from the ~1g default under many
    # allocating task threads causes GCLocker retry stalls in the Arrow
    # (native <-> JVM) path — first jobs run 3-5x slow until the heap grows.
    "spark.driver.extraJavaOptions": driver_java_options(_DRIVER_MEMORY),
    "spark.driver.maxResultSize": "4g",
    # shuffle width: 1x cores (r8, reverting r7's 2x). r7 widened to 64
    # because the sort-merge cosine join starved at 32 (110s vs 50s at 1M
    # pages) — but the 64 default cost the OFFICIAL sf0.1 bench 68%
    # round-over-round (BENCH_r07 rebench vs r06; er_blocking_pairs 2.7x).
    # r8 moved the big joins to shuffled-hash (no probe-side sorts), after
    # which width 64 no longer helps the features stage (33.6s vs 35.4s at
    # 32, min-of-3) while blocking clearly
    # prefers 32 (14.0s vs 16.6s min-of-3) and small scale factors stop
    # paying the wide-exchange tax. AQE coalescing still treats this as a
    # ceiling. Cluster guidance: 1-2x total cores (README deployment
    # notes); SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for A/B runs and
    # deployments whose core count is not the right sizing signal.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(os.cpu_count() or 8)
    ),
    # explicit broadcast threshold (64 MiB): dimension tables / IDF maps /
    # hot-key sets are broadcast; candidate-pair fact tables never are.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # join strategy (guide §3.1): allow shuffled-hash join when a build side
    # fits per-partition instead of defaulting to sort-merge. The engine's
    # dominant join — the sparse-cosine (id_b, token) equi-join — streams a
    # ~pairs x tokens/record exploded probe side (~300M rows at 1M pages)
    # against a build side of |weights|/partitions rows (~140k); sort-merge
    # SORTS the 300M-row side, shuffled-hash does not (measured r8:
    # features 74.6 -> 60.1s min-of-3, 3 SortMergeJoin -> 0 in the plan,
    # plans/r08/features_{before,after}.txt). Skew safety is unchanged:
    # AQE skew-join splitting handles shuffled-hash joins too, and every
    # blocking-side hot key is salted before any join. The AQE threshold
    # below additionally converts sort-merge to shuffled-hash at RUNTIME
    # from actual partition sizes (128 MiB = 2x the advisory partition
    # size, so any normally-coalesced partition qualifies) — estimates can
    # miss, measured bytes don't.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        128 * 1024 * 1024
    ),
    # AQE: runtime coalescing + skew-join splitting as the *second* line of
    # defense behind explicit hot-key salting (operators/blocking.py).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 * 1024 * 1024),
    # Arrow boundary: every Python crossing is a columnar batch. Batch size
    # capped so wide binary (html) rows don't blow the Python worker heap.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Determinism: timestamps pinned to UTC so duckdb-oracle comparison and
    # cross-run hashes are stable.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(
    app_name: str = "nlp_entity_linking_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    master precedence: explicit arg > $SPARK_GRAFT_MASTER >
    local[$SPARK_GRAFT_CPUS] > local[*].
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    check_driver_heap(
        conf.get("spark.driver.memory", ""),
        int(spark._jvm.Runtime.getRuntime().maxMemory()),
    )
    # Reliable checkpoint dir for the iterative connected-components loop
    # (plan-lineage truncation; SURVEY.md §4.2 "iterative-plan blowup").
    if not spark.sparkContext.getCheckpointDir():
        spark.sparkContext.setCheckpointDir(
            tempfile.mkdtemp(prefix="erlink_ckpt_")
        )
    return spark


def check_driver_heap(
    intended: str, jvm_max_heap_bytes: int, warn=None
) -> bool:
    """Detect the spark-submit heap trap AT SESSION BUILD instead of 24
    minutes into a GC-thrashed job.

    Under spark-submit the driver JVM exists before this builder runs, so
    `spark.driver.memory`/`extraJavaOptions` set here are SILENTLY ignored
    and the job runs on the 1g default — exactly how the first 1M-page
    certification attempt died (records stage GC-thrashed 24 min, then
    HashAggregate/broadcast OOMs in blocking). Compare the live JVM max
    heap against the intended conf and warn loudly with the remedy when
    they disagree beyond toy scale. Returns True when the heap matches (or
    the check is inapplicable), False when the trap fired.

    A warning rather than a hard error: a deliberately small
    `--driver-memory` on a toy input is legitimate, and Xmx never equals
    the requested size exactly (G1 reserves survivor space — observed
    ~85-98% of request), hence the 2x slack below."""
    if warn is None:
        import warnings

        warn = lambda m: warnings.warn(m, stacklevel=3)  # noqa: E731
    want = _parse_mem_bytes(intended)
    if want is None or want <= 2 * 2**30:
        return True  # toy-scale intent: the 1g default is not a trap
    # JVM Xmx reports slightly under the request; 2x slack only catches
    # order-of-magnitude mismatches (96g intended vs 1g actual), never
    # rounding.
    if jvm_max_heap_bytes * 2 >= want:
        return True
    warn(
        f"driver JVM max heap is {jvm_max_heap_bytes / 2**30:.1f} GiB but "
        f"spark.driver.memory={intended} was requested — the JVM was "
        "launched before this session builder ran (spark-submit mode), so "
        "builder heap settings were SILENTLY IGNORED. Beyond toy inputs "
        "this GC-thrashes and OOMs. Pass the heap on the launch line: "
        f"spark-submit --driver-memory {intended} --conf "
        f"'spark.driver.extraJavaOptions={driver_java_options(intended)}' ..."
    )
    return False
