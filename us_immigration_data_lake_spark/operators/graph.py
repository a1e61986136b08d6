"""Graph operators over edge-list DataFrames.

Connected components (min-label propagation) live in
operators/dedup.py where dedup clustering needs them; this module
holds the counting-shaped graph ops.

Triangle counting — the standard two-join formulation over a
CANONICALIZED edge list (src < dst, distinct): a triangle a<b<c is
found exactly once as edges (a,b), (b,c), (a,c), so no per-triangle
dedup pass is needed. Cost: one self-join on the shared endpoint plus
one membership join — both equi-joins that shuffle on node ids. This
is the plan GraphX/GraphFrames lower to as well; the quadratic risk
is high-degree hubs (a node of degree d contributes O(d²) wedge
candidates), capped here the same way basket.py caps group size:
``max_degree`` drops hub nodes' edges before the join, a declared
semantic for the adversarial tail, not silent truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_edges(
    df: DataFrame, src: str, dst: str, max_degree: int | None = None
) -> DataFrame:
    """Undirected edge list → canonical (a < b) distinct edges, with
    self-loops dropped and optional hub capping."""
    e = (
        df.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    if max_degree is not None:
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("n"))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") > max_degree)
            .select("n")
        )
        e = e.join(
            deg.select(F.col("n").alias("a")), "a", "left_anti"
        ).join(deg.select(F.col("n").alias("b")), "b", "left_anti")
    return e.select("a", "b")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over a canonical (a<b,
    distinct) edge list of (a, b) rows: (node, n_triangles). Nodes in
    no triangle emit nothing.

    Wedges (a,b)+(b,c) with a<b<c close into triangles via one
    membership join on (a,c); each triangle contributes exactly one
    (a,b,c) row, then explodes to its three corners for the count.
    """
    e = edges.select("a", "b")
    wedge = e.alias("x").join(
        e.select(
            F.col("a").alias("b"), F.col("b").alias("c")
        ).alias("y"),
        "b",
    )
    tri = wedge.join(
        e.select(F.col("a"), F.col("b").alias("c")).withColumn(
            "__closed", F.lit(1)
        ),
        ["a", "c"],
    )
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def pagerank_quantized(edges: DataFrame) -> DataFrame:
    """Weighted PageRank over (src, dst, n) edges with micro-unit
    INTEGER quantization: ranks live as bigint micro-ranks and every
    iteration is exact integer arithmetic, so the fixpoint path is
    bit-identical in any engine (double summation order never enters).

    Per iteration (integer ops only):
        contrib_e = (rank[src] * w_e) div out[src]        -- floor div
        rank'[v]  = (1-d)·scale/N + (d · Σ contrib_e(v)) div 1000

    with d = 850 permille, scale = 10^6 and 3 iterations.

    Dangling nodes (no outgoing edges) keep only the teleport term —
    a declared semantic (their mass exits the system), matching the
    "remove dangling mass" PageRank variant.

    Scale: each iteration is ONE equi-join of the rank vector onto the
    edge list (shuffle on src) + ONE groupBy dst — the standard
    distributed PageRank plan; each iteration adds 2 shuffles,
    all on node ids, never materialized on the driver. The iteration
    count is fixed (plan-unrolled), which is how a 100 TB run bounds
    the job DAG; convergence-tested variants re-run the same job.
    """
    e_all = edges.select(
        F.col("src").alias("__s"), F.col("dst").alias("__d"),
        F.col("n").cast("long").alias("__w"),
    )
    nodes = (
        e_all.select(F.col("__s").alias("node"))
        .unionByName(e_all.select(F.col("__d").alias("node")))
        .distinct()
    )
    # zero-weight edges introduce nodes but carry no mass; dropping
    # them here also keeps __out > 0 (no div-by-zero under ANSI for a
    # source whose edges are all zero-weight).
    e = e_all.filter(F.col("__w") > 0)
    out = e.groupBy("__s").agg(F.sum("__w").alias("__out"))
    e = e.join(out, "__s")  # small dim in practice; Spark broadcasts under AQE
    n_nodes = nodes.count()  # scalar only — the one driver value needed
    if n_nodes == 0:
        raise ValueError("pagerank_quantized: empty edge list — no nodes")
    scale = 1_000_000
    teleport = ((1000 - 850) * scale) // (1000 * n_nodes)
    rank = nodes.withColumn("rank", F.lit(scale // n_nodes).cast("long"))
    for _ in range(3):
        contrib = (
            e.join(rank.withColumnRenamed("node", "__s"), "__s")
            .select(
                F.col("__d").alias("node"),
                F.expr("(rank * __w) div __out").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("sc"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr("(850 * coalesce(sc, 0L)) div 1000")
                ).cast("long").alias("rank"),
            )
        )
    return rank
