"""Link-graph centrality for web-corpus curation.

Web-scale training pipelines rank hosts/pages by link-graph centrality
(Common Crawl publishes harmonic-centrality/PageRank host rankings; curation
recipes weight or gate sources by them).  This module provides a
deterministic, fully-oracle-able PageRank over a ``(src, dst)`` edge table.

All arithmetic is FIXED-POINT INTEGER (ranks in micro-units, contributions
integer-divided by out-degree): iterations are exact, order-independent and
bit-portable across engines, so the DuckDB oracle recomputes every
iteration instead of trusting a float fixpoint that could drift in the last
ulp.  The trade is the standard quantized-PageRank one: each division
floors away < 1 micro-unit per edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ONE_MICRO = 1_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_micro: int = 850_000,
    src_col: str = "src",
    dst_col: str = "dst",
    cache_registry: list | None = None,
) -> DataFrame:
    """Fixed-point PageRank over a directed edge list: ``iters`` exact
    power iterations of ``r'(v) = (1 - d) + d * sum(r(u) div outdeg(u))``
    with ranks in integer micro-units (initial rank 1.0 per node — the
    per-node normalization variant, so ranks average ~1 and a host ranking
    is a sort, not a probability).  Returns one row per node:
    ``(node, rank_micro bigint, rank double)`` with ``rank`` rounded to
    6dp.

    Standard simplifications, documented not silent: dangling nodes (no
    out-edges) keep receiving but stop forwarding mass (their outflow is
    dropped, the common web-graph treatment), and multi-edges must be
    pre-deduplicated by the caller (``distinct()``) or they count as
    parallel links.

    Scale shape (a 10^9-host graph): out-degrees join the edge list ONCE
    before the loop and the weighted edge list is persisted — each
    iteration is then one ``src``-keyed shuffle join (ranks are node-sized)
    plus one ``dst``-keyed partial-agg'd groupBy, the canonical 2-shuffle
    PageRank step; bucketing edges by ``src`` co-locates the join side at
    deployment.  ``iters`` is a fixed small constant (rank ordering
    stabilizes long before convergence for curation purposes), so the plan
    is a finite chain — no driver-side convergence loop reading results.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 < damping_micro < ONE_MICRO:
        raise ValueError(f"damping_micro must be in (0, 1e6), got {damping_micro}")
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    # weighted = every edge + its source out-degree.  The inner join keeps
    # every edge (each edge's _src has out-degree >= 1), so weighted's
    # (_src, _dst) IS the edge list — nodes derive from the CACHED frame
    # below instead of re-running the (often expensive) upstream edge
    # subtree a second time for a separate nodes.persist() (round 7: the
    # old shape materialized two persists, each re-executing the caller's
    # link-extraction pipeline — exchange reuse never crosses separate
    # cache-materialization jobs).
    outdeg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    weighted = e.join(outdeg, on="_src").persist()
    if cache_registry is not None:
        cache_registry.append(weighted)
    base = ONE_MICRO - int(damping_micro)
    d = int(damping_micro)
    # Iterate on the per-node incoming SUM s_k instead of the full rank
    # table: rank_k(v) = base + d * coalesce(s_k(v), 0) div 1e6 is folded
    # into the next iteration's contribution expression, which removes the
    # nodes-left-join per iteration (one join less per iteration, identical
    # integer arithmetic).  Iteration 1 starts from the constant rank 1e6,
    # so it needs no rank join at all.
    contrib = (
        weighted.select(
            F.col("_dst").alias("node"),
            F.expr(f"{ONE_MICRO}L div _deg").alias("_c"),
        )
        .groupBy("node")
        .agg(F.sum("_c").alias("_s"))
    )
    for _ in range(int(iters) - 1):
        contrib = (
            weighted.join(
                contrib.select(F.col("node").alias("_src"), "_s"),
                on="_src",
                how="left",
            )
            .select(
                F.col("_dst").alias("node"),
                F.expr(
                    f"(({base}L + ({d}L * coalesce(_s, 0L)) div {ONE_MICRO})"
                    " div _deg)"
                ).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
    nodes = (
        weighted.select(F.col("_src").alias("node"))
        .unionByName(weighted.select(F.col("_dst").alias("node")))
        .distinct()
    )
    ranks = nodes.join(contrib, on="node", how="left").select(
        "node",
        (
            F.lit(base)
            + F.expr(f"({d} * coalesce(_s, 0L)) div {ONE_MICRO}")
        )
        .cast("bigint")
        .alias("rank_micro"),
    )
    return ranks.withColumn(
        "rank", F.round(F.col("rank_micro") / F.lit(float(ONE_MICRO)), 6)
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = 10_000,
) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced by
    the edge list — the link-farm / community-density signal host-graph
    curation reads next to PageRank (a clique of mutually-linking spam
    hosts is triangle-dense; an organically linked host is not).  Returns
    one row per node that survives the degree cap:
    ``(node, degree, n_triangles, capped)`` — ``degree`` counts distinct
    neighbors, ``capped`` marks nodes EXCLUDED from enumeration (their
    triangles through capped nodes are not counted — conservative, the
    LSH ``max_bucket`` convention) but still emitted with their degree.
    The clustering coefficient is ``2*n_triangles / (degree*(degree-1))``
    — left to the caller (float division is not bit-portable; both
    integers are).

    Direction and multiplicity are erased first (canonical ``a < b``
    pairs, distinct, self-loops dropped): a triangle is counted ONCE per
    node regardless of how many parallel/reciprocal links express it.

    Scale shape: the standard two-join enumeration over canonicalized
    edges — e(a,b) ⋈ e(b,c) builds ordered wedges (``a<b<c`` by
    construction, so each triangle materializes exactly once), one more
    join verifies the closing (a,c) edge; both joins shuffle on a single
    key with map-side-combinable counts after.  The wedge fan-out is
    Σ d(v)² — the hub problem — so ``max_degree`` excludes super-hubs
    (every host links to google.com; those wedges are link-ubiquity, not
    community structure).  At 10^9 edges the cap is what makes the
    enumeration tractable; pass ``None`` to disable.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull()
               & (F.col("a") != F.col("b")))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    if max_degree is not None:
        deg = deg.withColumn(
            "capped", F.col("degree") > F.lit(int(max_degree))
        )
        hubs = deg.where(F.col("capped")).select(F.col("node").alias("_hub"))
        e = (
            e.join(hubs, e["a"] == hubs["_hub"], "left_anti")
            .join(hubs, e["b"] == hubs["_hub"], "left_anti")
        )
    else:
        deg = deg.withColumn("capped", F.lit(False))
    wedges = e.alias("e1").join(
        e.alias("e2"), F.col("e1.b") == F.col("e2.a")
    ).select(
        F.col("e1.a").alias("x"),
        F.col("e1.b").alias("y"),
        F.col("e2.b").alias("z"),
    )
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        on=["x", "z"],
    )
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.join(per_node, on="node", how="left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0).cast("bigint")).alias(
                "n_triangles"
            ),
            "capped",
        )
    )
