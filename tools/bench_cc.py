"""Stress the connected-components loop well past pipeline scale.

The driver bench's CC stage runs sub-second because planted ER clusters are
tiny; this tool builds a chain + star + Zipf edge mixture (default 10^7;
run with 100000000 for the 10^8 certification point):

* CHAINS of length L — the O(diameter) killer for naive label propagation;
  alternating large-star/small-star must close them in O(log L) rounds
  (Kiveris et al., SoCC'14).
* STARS of size L — wide components exercising the groupBy-min skew path.
* ZIPF region — a random graph whose endpoint degrees follow a ~1/x law
  (log-uniform inverse-CDF over a deterministic xxhash64 stream): the
  hub-dominated shape real webtext ER edge sets have. Component structure
  is not closed-form, so this region is checked by INVARIANT, not count:
  every edge's endpoints share a label, and every label is its component's
  min node id.

Chains/stars keep exact expected-count checks (every block collapses to
its min node id; component count exact). Reports iteration count (the
O(log n) claim: expect ~log2(L) + small constant, NOT ~L) and wall.

Usage: python tools/bench_cc.py [total_edges] [chain_len]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    total_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    L = int(sys.argv[2]) if len(sys.argv) > 2 else 1024

    from pyspark.sql import functions as F

    from nlp_entity_linking_spark.conf import get_spark
    from nlp_entity_linking_spark.operators.cc import connected_components

    spark = get_spark(app_name="bench_cc")

    # 40% chains, 40% stars (exact-count regions), 20% Zipf (skew region)
    half = int(total_edges * 0.4)
    # chains over node ids [0, half): edges (i, i+1) within each block of L
    chains = (
        spark.range(half)
        .filter(F.pmod("id", F.lit(L)) != L - 1)
        .select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    )
    # stars over node ids [half, 2*half): hub = block start, spokes direct
    stars = (
        spark.range(half, 2 * half)
        .filter(F.pmod("id", F.lit(L)) != 0)
        .select(
            ((F.col("id") / L).cast("long") * L).alias("u"),
            F.col("id").alias("v"),
        )
    )
    # Zipf region over node ids [zbase, zbase + m): endpoint u is
    # log-uniform (pmf ~ 1/x, the Zipf(1) inverse CDF) over the m-node
    # space, v uniform; both from deterministic xxhash64 streams. Hubs at
    # the low end of the id space accumulate huge degree — the skew shape.
    n_z = total_edges - 2 * half
    zbase = 2 * half
    m = max(n_z // 8, L)
    u01 = (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1 << 32)).cast("double")
           / float(1 << 32))
    v01 = (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1 << 32)).cast("double")
           / float(1 << 32))
    import math

    zipf = spark.range(n_z).select(
        (F.lit(zbase)
         + F.least(
             F.floor(F.exp(u01 * math.log(float(m)))) - 1, F.lit(m - 1)
         ).cast("long")).alias("u"),
        (F.lit(zbase) + F.floor(v01 * m).cast("long")).alias("v"),
    ).filter(F.col("u") != F.col("v"))

    edges = chains.unionByName(stars).unionByName(zipf).persist()
    n_edges = edges.count()
    # expected components in the exact-count region [0, 2*half): global
    # L-blocks (the block straddling the chain/star boundary fuses both
    # halves into ONE component, so count blocks, not regions)
    n_components = -(-2 * half // L)

    iters = []

    def on_iteration(i, df):
        iters.append(i)
        return df

    t0 = time.perf_counter()
    # small_graph_threshold=None: time the star loop at every size
    labels = connected_components(
        edges, max_iter=30, on_iteration=on_iteration, small_graph_threshold=None
    )
    labels = labels.persist()
    n_labeled = labels.count()
    wall = time.perf_counter() - t0

    # exact-count checks, restricted to the chain/star region
    cs = labels.filter(F.col("record_id") < 2 * half)
    got_components = cs.select("cluster_id").distinct().count()
    bad = cs.filter(
        F.col("cluster_id") != (F.col("record_id") / L).cast("long") * L
    ).count()
    # global invariants (cover the Zipf region too):
    # 1) every edge's endpoints carry the same label
    lu = labels.select(F.col("record_id").alias("u"),
                       F.col("cluster_id").alias("cu"))
    lv = labels.select(F.col("record_id").alias("v"),
                       F.col("cluster_id").alias("cv"))
    edge_viol = (
        edges.join(lu, "u").join(lv, "v")
        .filter(F.col("cu") != F.col("cv")).count()
    )
    # 2) every label is the min node id of its component
    label_viol = (
        labels.groupBy("cluster_id").agg(F.min("record_id").alias("mn"))
        .filter(F.col("cluster_id") != F.col("mn")).count()
    )
    n_iter = len(iters)

    result = {
        "n_edges": n_edges,
        "n_zipf_edges": n_z,
        "zipf_nodes": m,
        "chain_len": L,
        "n_components_expected_chain_star": n_components,
        "n_components_got_chain_star": got_components,
        "n_nodes_labeled": n_labeled,
        "bad_labels_chain_star": bad,
        "edge_label_violations": edge_viol,
        "label_not_min_violations": label_viol,
        "iterations": n_iter,
        "log2_chain_len": round(math.log2(L), 1),
        "wall_sec": round(wall, 1),
        "sec_per_iteration": round(wall / max(n_iter, 1), 1),
    }
    print(json.dumps(result))
    assert bad == 0 and got_components == n_components
    assert edge_viol == 0 and label_viol == 0
    assert n_iter <= math.log2(L) + 6, f"not O(log n): {n_iter} iterations"
    spark.stop()


if __name__ == "__main__":
    main()
