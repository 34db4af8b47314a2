"""Session sizing: the host-fit driver heap, the env vars the package reads,
and the spark-submit heap trap guard (conf.check_driver_heap).

Under spark-submit the driver JVM pre-exists the session builder, so
builder-time spark.driver.memory is silently ignored and big jobs run on
the 1g default — discovered the hard way during the 1M-page certification
(conf.py docstring). The guard turns that 24-minute silent failure into an
immediate loud warning at session build.
"""

from __future__ import annotations

from nlp_entity_linking_spark import conf as C

GIB = 2**30


def test_parse_mem_bytes():
    assert C._parse_mem_bytes("96g") == 96 * GIB
    assert C._parse_mem_bytes("512m") == 512 * 2**20
    assert C._parse_mem_bytes("1t") == 2**40
    # suffix-less = MiB, matching Spark's readSizeAsMb for driver.memory:
    # '4096' (4 GiB intent) must NOT parse as 4096 bytes, which made
    # check_driver_heap fail open for that spelling
    assert C._parse_mem_bytes("2048") == 2048 * 2**20
    assert C._parse_mem_bytes("4096") == 4 * GIB
    assert C._parse_mem_bytes("1.5g") == int(1.5 * GIB)
    assert C._parse_mem_bytes("") is None
    assert C._parse_mem_bytes("lots") is None


def _run(intended: str, heap_bytes: int):
    msgs: list[str] = []
    ok = C.check_driver_heap(intended, heap_bytes, warn=msgs.append)
    return ok, msgs


def test_trap_detected_96g_intent_on_1g_jvm():
    # the exact failure mode from the first 1M-page run
    ok, msgs = _run("96g", 1 * GIB)
    assert not ok
    assert msgs and "--driver-memory" in msgs[0] and "96g" in msgs[0]


def test_matching_heap_passes_despite_jvm_rounding():
    # Xmx reports under the request (G1 survivor reservation): 85% of 96g
    ok, msgs = _run("96g", int(0.85 * 96 * GIB))
    assert ok and not msgs


def test_toy_intent_never_warns():
    # a deliberately small driver on a toy input is legitimate
    for intended in ("", "1g", "2g", "512m"):
        ok, msgs = _run(intended, 1 * GIB)
        assert ok and not msgs


def test_unparseable_intent_is_inapplicable():
    ok, msgs = _run("whatever", 1 * GIB)
    assert ok and not msgs


def test_remedy_derives_xms_from_the_intended_heap():
    ok, msgs = _run("96g", 1 * GIB)
    assert "-Xms24576m" in msgs[0] and "-Xms32g" not in msgs[0]


def _fake_host(tmp_path, mem_total_kb: int, cgroup_max: str | None):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kb} kB\nMemFree:        1024 kB\n"
    )
    cgroup = tmp_path / "memory.max"
    if cgroup_max is not None:
        cgroup.write_text(cgroup_max + "\n")
    return C.host_memory_bytes(str(meminfo), str(cgroup))


def test_sizing_on_a_16gb_host(tmp_path):
    host = _fake_host(tmp_path, 16 * 2**20, "max")
    assert host == 16 * GIB
    mem = C.host_driver_memory(host)
    assert mem == "4096m"
    assert C.driver_java_options(mem) == "-Xms1024m -XX:+UseG1GC"
    # the heap the JVM will actually get passes the spark-submit guard
    ok, msgs = _run(mem, int(0.9 * 4 * GIB))
    assert ok and not msgs
    # a 16 GB cgroup limit on a bigger box sizes the same way
    assert _fake_host(tmp_path, 125 * 2**20, str(16 * GIB)) == 16 * GIB


def test_sizing_on_a_125gb_host(tmp_path):
    host = _fake_host(tmp_path, 125 * 2**20, None)  # no cgroup v2 limit
    assert host == 125 * GIB
    mem = C.host_driver_memory(host)
    assert mem == "32000m"
    assert C.driver_java_options(mem) == "-Xms8000m -XX:+UseG1GC"


def test_unparseable_heap_gets_no_xms():
    assert C.driver_java_options("lots") == "-XX:+UseG1GC"


def test_package_reads_only_deployment_env_vars():
    """Tuning knobs must not creep back as env vars: the package reads only
    the deployment settings below."""
    import pathlib
    import re

    allowed = {
        f"SPARK_GRAFT_{n}"
        for n in ("DRIVER_MEM", "SHUFFLE_PARTITIONS", "MASTER", "CPUS", "SF_DIR")
    }
    pkg = pathlib.Path(C.__file__).parent
    found = {
        (m, str(p.relative_to(pkg)))
        for p in pkg.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_[A-Z_]+", p.read_text())
    }
    assert {m for m, _ in found} <= allowed, sorted(
        f for f in found if f[0] not in allowed
    )


def test_live_session_heap_matches_conf(spark):
    """Integration: sessions launched from python (pytest/bench/main) must
    actually get the conf'd heap — i.e. the guard passes on the real JVM."""
    intended = spark.conf.get("spark.driver.memory", "")
    heap = int(spark._jvm.Runtime.getRuntime().maxMemory())
    assert C.check_driver_heap(intended, heap, warn=lambda m: (_ for _ in ()).throw(AssertionError(m)))
