"""Connected components via alternating large-star / small-star iterations
(SURVEY.md §2 J; algorithm: Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14 — public knowledge; converges in O(log n)
rounds vs O(diameter) for naive label propagation).

Pure DataFrame ops (groupBy min + self-joins) — no GraphX/GraphFrames (no
PySpark GraphX API; GraphFrames not installed). Each iteration is eagerly
checkpointed: (a) truncates the logical plan, which otherwise doubles per
iteration and stalls Catalyst (SURVEY.md §4.2); (b) with a durable
checkpoint/catalog dir, a crashed run resumes from the last finished
iteration (north rule's checkpointed-iterations requirement — the pipeline
layer additionally commits iterations through the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected form: (u=min, v=max), u != v, distinct."""
    return (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    m = min(N(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.col("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges u > v; for each u connect all smaller neighbors and u
    itself to m = min(N_smaller(u))."""
    e = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = e.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfe = mins.select(F.col("u"), F.col("m").alias("v"))
    return nbrs.unionByName(selfe)


def _ckpt_uv(df: DataFrame) -> tuple[DataFrame, int | None]:
    """localCheckpoint + a fresh (u, v) projection. The re-alias mints new
    attribute ids, working around a Spark 4.1 optimizer failure
    (java.util.NoSuchElementException: key not found: u#N during
    lazyOptimizedPlan) that reproducibly hits the first star iteration when
    the checkpointed edges came from a multi-branch merge_pairs plan whose
    branches share one cached subtree (e.g. lsh pairs + cross-shard rep
    pairs over the same persisted blocks). The projection is fused into the
    next stage's codegen — no extra pass.

    Returns (df, rdd_id): the id of the checkpoint's backing LogicalRDD —
    captured from the BARE checkpointed frame, before the select wraps the
    plan in a Project — so the loop can later release its storage blocks
    (see _release_ckpt_blocks). rdd_id is None if the plan shape drifts."""
    ck = df.localCheckpoint(eager=True)
    try:
        rdd_id = ck._jdf.queryExecution().analyzed().rdd().id()
    except Exception:
        rdd_id = None
    return ck.select(F.col("u").alias("u"), F.col("v").alias("v")), rdd_id


def _release_ckpt_blocks(df: DataFrame, rdd_id: int | None) -> None:
    """Free a SUPERSEDED iteration's localCheckpoint storage blocks now,
    instead of waiting for driver GC + ContextCleaner.

    Why this exists: each iteration's eager checkpoint holds the full edge
    set as storage blocks (~6-10 GiB per iteration at 10^8 edges), and the
    lazy reclamation path (Python ref drop -> py4j detach -> JVM GC ->
    ContextCleaner unpersist) measurably never keeps up with a hot loop —
    the first 10^8-edge certification run accumulated ~13 iterations of
    blocks and was kernel-OOM-killed at 103 GiB RSS with a 96 GiB heap.
    An explicit unpersist of the previous iteration bounds live checkpoint
    storage to <= 2 iterations regardless of graph size; on a real cluster
    the same leak would instead evict the executor block caches and other
    jobs' persists. Best-effort by design: on any API drift this degrades
    to the old (leaky-but-correct) behavior, never to a wrong answer, and
    it must only ever run on a checkpoint whose successor is already
    eagerly materialized (a released checkpoint is NOT recomputable)."""
    if rdd_id is None:
        return
    try:
        jrdd = df.sparkSession.sparkContext._jsc.getPersistentRDDs().get(rdd_id)
        if jrdd is not None:
            jrdd.unpersist(False)
    except Exception:
        pass


def driver_union_find(rows, thresholds) -> list[dict[int, int]]:
    """Exact min-id component labels for a SMALL scored edge list,
    driver-side, at every threshold in ONE pass.

    rows are (u, v, score). Returns one {vertex: min id} labeling per
    threshold, in the given order: the components of the rows with
    score >= t. Threshold subgraphs are nested, so rows are unioned in
    descending score order and the labels are snapshotted as the pass
    crosses each threshold — the sweep over k thresholds costs one sort
    plus k O(V) snapshots, not k union-finds.

    Path-compressed union-find, each component labeled by its minimum
    member id — the same labeling large-star/small-star converges to, so
    the two paths are interchangeable row-for-row
    (tests/test_cc.py::test_small_graph_fast_path_equals_distributed)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    ranked = sorted(rows, key=lambda row: row[2], reverse=True)
    snaps: dict[float, dict[int, int]] = {}
    i = 0
    for t in sorted(set(thresholds), reverse=True):
        while i < len(ranked) and ranked[i][2] >= t:
            u, v = ranked[i][0], ranked[i][1]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)  # union by min keeps roots minimal
            i += 1
        snaps[t] = {x: find(x) for x in parent}
    return [snaps[t] for t in thresholds]


# Below this many (distinct, canonical) edges the star-iteration loop costs
# more in job round-trips than the data is worth: a collect of <= 2 longs x
# threshold rows (~1.6 MB) + driver union-find replaces 3-6 distributed
# iterations x ~3 jobs each. The DISTRIBUTED path is the 100-TB design;
# this bound only short-circuits the tail where the subgraph is tiny —
# exactly the common case for incremental streaming batches, whose touched
# subgraph is O(batch), not O(corpus).
SMALL_GRAPH_EDGES = 100_000


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    checkpoint: bool = True,
    on_iteration=None,
    small_graph_threshold: int | None = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """edges(u: long, v: long) -> labels(record_id: long, cluster_id: long)
    for every vertex appearing in `edges` (cluster_id = min id in component).

    `on_iteration(i, edges_df)` — optional hook the pipeline uses to commit
    per-iteration state to the catalog (resume support; the hook's parquet
    round-trip then truncates lineage, so pass checkpoint=False with it).
    It fires only on the distributed loop: graphs of at most
    `small_graph_threshold` canonical edges take the driver union-find path
    and never iterate.
    Default checkpoint=True uses localCheckpoint: plan truncation without
    disk round-trips (durability comes from the catalog layer, not here).

    Constraint with checkpoint=True: iteration i's checkpoint storage is
    explicitly released once iteration i+1 materializes (see
    _release_ckpt_blocks), and a released localCheckpoint is NOT
    recomputable — so an on_iteration hook must not retain iteration-i
    frames for use after the loop advances; a hook that needs per-iteration
    state must copy it out (e.g. write to storage) before returning.
    """
    def _stats(df: DataFrame) -> tuple:
        # set identity summary: (row count, order-insensitive hash XOR —
        # overflow-free under ANSI mode; edges are distinct so no XOR
        # cancellation). Equal stats => equal canonical edge sets (collision
        # odds ~2^-64 per check; a false convergence would need a star step
        # emitting a *different* colliding set — negligible).
        row = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    cur = _canon(edges.select(F.col("u").cast("long"), F.col("v").cast("long")))
    cur_id = None
    if checkpoint:
        cur, cur_id = _ckpt_uv(cur)
    cur_stats = _stats(cur)
    # small-graph fast path: the convergence-stats job above already counts
    # the canonical edges, so this decision costs the big-graph path ZERO
    # extra jobs. Under the bound, collect + driver union-find replaces the
    # whole iteration loop with identical labels — also when an on_iteration
    # hook is installed: a graph this small is cheaper to recompute than to
    # resume, so the hook never fires and the caller's own commit of the
    # result is the resume point. small_graph_threshold=None disables it.
    if small_graph_threshold and cur_stats[0] <= small_graph_threshold:
        rows = [(u, v, 0.0) for u, v in cur.collect()]
        labels = driver_union_find(rows, (0.0,))[0]
        _release_ckpt_blocks(cur, cur_id)  # abandoned checkpoint's blocks
        spark = edges.sparkSession
        return spark.createDataFrame(
            list(labels.items()), "record_id long, cluster_id long"
        )
    for i in range(max_iter):
        nxt = _canon(_small_star(_large_star(cur)))
        nxt_id = None
        if checkpoint:
            nxt, nxt_id = _ckpt_uv(nxt)  # eager: fully materialized here
        if on_iteration is not None:
            nxt = on_iteration(i, nxt) or nxt
        nxt_stats = _stats(nxt)  # single job per iteration
        if checkpoint:
            # nxt no longer depends on cur -> free cur's storage blocks
            # (bounds live checkpoint storage to 2 iterations; see
            # _release_ckpt_blocks for the 10^8-edge OOM this prevents)
            _release_ckpt_blocks(nxt, cur_id)
        if nxt_stats == cur_stats:
            cur = nxt
            break
        cur, cur_stats, cur_id = nxt, nxt_stats, nxt_id
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} iters")
    # converged state is a collection of stars; in canonical (min, max) form
    # each edge is (root, member) with root = component min.
    members = cur.select(F.col("v").alias("record_id"), F.col("u").alias("cluster_id"))
    roots = cur.select(F.col("u").alias("record_id"), F.col("u").alias("cluster_id"))
    return members.unionByName(roots).distinct()


def attach_singletons(labels: DataFrame, records: DataFrame) -> DataFrame:
    """Records with no match edge form their own cluster (SURVEY.md J7).

    Every label column of `labels` (all but record_id: `cluster_id`, or one
    column per threshold for the sweep) falls back to the record's own id."""
    cols = [c for c in labels.columns if c != "record_id"]
    return (
        records.select("record_id")
        .join(labels, "record_id", "left")
        .select(
            "record_id",
            *(F.coalesce(c, "record_id").alias(c) for c in cols),
        )
    )
