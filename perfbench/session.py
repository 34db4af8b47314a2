"""Spark session for the benchmark: the program's own tuned session, fitted to
the host only where the program asks for more memory than the host has.

The benchmark never edits the program's configuration. It calls
``conf.get_spark`` with ``extra_conf`` that

* clamps ``spark.driver.memory`` and ``-Xms`` when ``conf.DEFAULT_CONF``
  requests a heap larger than the host's memory (the JVM cannot even start
  otherwise). Once the program sizes itself from the host, the clamp is a
  no-op and the program's own sizing is what gets measured;
* keeps the JVM's temp files inside the benchmark's work directory;
* enables the JSON event log, for traced runs only.
"""

from __future__ import annotations

import os
import re

# A clamped heap takes this share of host memory, and -Xms this share of
# the clamped heap: 4g / 1g on a 16 GB host. A quarter leaves room for other
# tenants of a shared host and is ample for the benchmark's inputs.
CLAMP_HEAP_SHARE = 0.25
CLAMP_XMS_SHARE = 0.25


def host_memory_bytes() -> int:
    """Memory this host (or its cgroup) lets the process commit."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            total = min(total, int(raw))
    except OSError:
        pass
    return total


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_clamp(default_conf: dict, host_bytes: int) -> dict:
    """extra_conf entries that fit the requested heap to the host; empty
    when the program's own request already fits."""
    from nlp_entity_linking_spark.conf import _parse_mem_bytes

    want = _parse_mem_bytes(default_conf.get("spark.driver.memory", ""))
    if want is None or want <= host_bytes:
        return {}
    heap_mib = int(host_bytes * CLAMP_HEAP_SHARE) // 2**20
    xms_mib = int(heap_mib * CLAMP_XMS_SHARE)
    opts = default_conf.get("spark.driver.extraJavaOptions", "")
    opts = re.sub(r"-Xms\S+", f"-Xms{xms_mib}m", opts)
    return {
        "spark.driver.memory": f"{heap_mib}m",
        "spark.driver.extraJavaOptions": opts,
    }


def session_conf(work: str, trace: bool) -> tuple[dict, dict]:
    """-> (extra_conf for get_spark, the heap clamp it contains)."""
    from nlp_entity_linking_spark import conf

    clamp = heap_clamp(conf.DEFAULT_CONF, host_memory_bytes())
    java_opts = clamp.get(
        "spark.driver.extraJavaOptions",
        conf.DEFAULT_CONF.get("spark.driver.extraJavaOptions", ""),
    )
    # keep JVM temp files and the hsperfdata file out of the shared /tmp
    java_opts = f"{java_opts} -Djava.io.tmpdir={work} -XX:-UsePerfData".strip()
    extra = {**clamp, "spark.driver.extraJavaOptions": java_opts}
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return extra, clamp


def open_session(work: str, trace: bool):
    """-> (spark, details). details records the clamp and the heap the JVM
    actually got."""
    from nlp_entity_linking_spark.conf import get_spark

    extra, clamp = session_conf(work, trace)
    spark = get_spark(
        app_name="perfbench", master=f"local[{n_cores()}]", extra_conf=extra
    )
    max_heap = int(spark._jvm.Runtime.getRuntime().maxMemory())
    return spark, {
        "heap_clamp": clamp or None,
        "jvm_max_heap_mb": round(max_heap / 2**20, 1),
        "master": spark.sparkContext.master,
    }
