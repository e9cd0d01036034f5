"""Scale demonstration for textops.connected_components: a synthetic
near-dup-shaped graph (many small cliques + a few long chains — the
worst case for min-label propagation) at ~1M edges, verified against
ground truth by construction.

Run: python tools/cc_scale_demo.py [n_clusters] [chain_len]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from newsleak_spark.session import get_spark
from newsleak_spark.textops import connected_components


def main() -> None:
    n_clusters = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    chain_len = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    spark = get_spark(app_name="cc_scale_demo")

    # cliques of 5 over ids [base, base+5): ground-truth comp = base
    base = spark.range(n_clusters).select((F.col("id") * 5).alias("b"))
    pairs = base.select(
        F.explode(
            F.expr(
                "transform(flatten(transform(sequence(0, 4), i -> "
                "transform(sequence(0, 4), j -> struct(i, j)))), "
                "p -> struct(b + p.i AS u, b + p.j AS v))"
            )
        ).alias("e")
    ).select("e.u", "e.v").filter(F.col("u") < F.col("v"))
    # one long chain (diameter stress) living above the clique id space,
    # shuffled ids so the min is in the middle of the path
    top = n_clusters * 5
    chain = (
        spark.range(chain_len - 1)
        .select(
            (top + ((F.col("id") * 7919) % chain_len)).alias("u"),
            (top + (((F.col("id") + 1) * 7919) % chain_len)).alias("v"),
        )
    )
    edges = pairs.union(chain)
    n_edges = edges.count()

    t0 = time.time()
    labels = connected_components(edges).cache()
    n_nodes = labels.count()
    wall = time.time() - t0

    # verification by construction: clique nodes label to their base;
    # every chain node labels to the chain's minimum id
    bad_clique = (
        labels.filter(F.col("node") < top)
        .filter(F.col("comp") != (F.col("node") - F.col("node") % 5))
        .count()
    )
    chain_comps = (
        labels.filter(F.col("node") >= top).select("comp").distinct().collect()
    )
    ok_chain = len(chain_comps) == 1 and chain_comps[0]["comp"] == top
    print(
        f"edges={n_edges} nodes={n_nodes} wall={wall:.1f}s "
        f"({n_edges / wall:.0f} edges/s) bad_clique={bad_clique} "
        f"chain_single_comp={ok_chain}"
    )
    assert bad_clique == 0 and ok_chain
    spark.stop()


if __name__ == "__main__":
    main()
