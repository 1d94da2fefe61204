"""Iterative graph algorithms as composable DataFrame plans.

``dedup.duplicate_clusters`` (label propagation / connected components)
covers the "which docs are the same" question; this module covers
"which docs are HUBS" — PageRank over the near-duplicate graph ranks
template/boilerplate source documents whose content radiates through
the corpus (high centrality = the page every mirror copied), a signal
connected components flattens away.

Design for both scale and verification:

* Each iteration is one equi-join (edge src → current rank, 8-byte
  keys) + one grouped sum — the classic message-passing shape; the
  edge list with degrees is localCheckpointed once so ``iters``
  iterations reuse a single materialization instead of re-deriving
  the similarity join per step.
* The iteration count is FIXED and each iterate is rounded to 10
  decimals — the same fixed, SQL-expressible recipe as the PCA power
  iteration (`similarity.pca_power_scores`), which is what lets a
  DuckDB oracle reproduce the whole computation value-for-value
  (float group-sum order differs across engines by ~1e-15; the
  per-step rounding absorbs it before it can compound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    damping: float = 0.85,
    iters: int = 3,
    max_degree: int | None = None,
    weight: str = "jaccard",
) -> DataFrame:
    """PageRank over an UNDIRECTED unique-pair edge list.

    ``edges`` carries each pair once (``src < dst``); both directions
    are materialized here. Nodes are the vertices with ≥ 1 edge (an
    isolated document has no centrality to measure — and at corpus
    scale materializing rank state for every isolated doc would
    dominate the actual graph). Uniform ``1/|V|`` init, teleport
    ``(1-damping)/|V|``; every node of the symmetrized graph has
    out-degree ≥ 1, so there is no dangling-mass term.

    ``max_degree`` sparsifies the symmetrized graph before message
    passing: each node keeps only its ``max_degree`` strongest OUTGOING
    edges by ``weight`` (descending, deterministic tie-break on the
    neighbor id), so |E| ≤ max_degree·|V| no matter how dense the
    overlap graph is. On a real overlapping corpus a weak-tie threshold
    (Jaccard ≥ 0.02) makes |E| the scale driver — boilerplate hubs can
    touch a large fraction of the corpus, and an uncapped hub
    contributes degree² join work downstream. The cap makes the edge
    phase worst-case-bounded while keeping each spoke's strongest link
    to its hub (spokes keep A→hub even when the hub drops hub→A, so
    hub in-mass — the centrality signal — survives; the capped graph is
    directed by construction). The cap is a per-source window rank —
    SQL-expressible, so the capped recipe stays oracle-checkable
    end-to-end. Every node keeps ≥ 1 outgoing edge, so the no-dangling
    invariant is unchanged.

    Returns (node, degree, pagerank) with pagerank rounded to 4;
    ``degree`` is the post-cap out-degree.
    """
    fwd = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t"), F.col(weight).alias("_w")
    ) if max_degree is not None else edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    )
    # checkpoint BEFORE the degree aggregation: deg and the join below
    # are two separate consumers of sym, and without the cut each one
    # re-derives the (often expensive) upstream similarity pipeline —
    # measured 2x the whole edge-build cost on the Jaccard graph
    if max_degree is not None:
        rev = edges.select(
            F.col(dst).alias("s"), F.col(src).alias("t"), F.col(weight).alias("_w")
        )
        wnd = Window.partitionBy("s").orderBy(F.desc("_w"), F.asc("t"))
        sym = (
            fwd.unionByName(rev)
            .withColumn("_rn", F.row_number().over(wnd))
            .filter(F.col("_rn") <= max_degree)
            .select("s", "t")
            .localCheckpoint(eager=False)
        )
    else:
        sym = fwd.unionByName(
            edges.select(F.col(dst).alias("s"), F.col(src).alias("t"))
        ).localCheckpoint(eager=False)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    # one materialization feeds every iteration (and the degree/node
    # side) — each unrolled join reuses this single small edge table.
    # localCheckpoint, NOT persist (r18, reverting r17): the unrolled
    # iterations are many consumers of this frame, and each one's action
    # re-analyzes the FULL lineage under persist — measured 1.8x slower
    # (pagerank_degree_capped, BENCH_r17 vs r16 at afb445c); the
    # checkpoint truncates every iteration's plan at a Scan ExistingRDD
    # stub
    ed = sym.join(deg, "s").localCheckpoint(eager=False)
    nodes = ed.select(F.col("s").alias("node"), "deg").distinct()
    n = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    ranks = nodes.join(n).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("r")
    )
    for _ in range(iters):
        contribs = (
            ed.join(ranks, ed["s"] == ranks["node"])
            .select(F.col("t").alias("node"), (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        # Under max_degree the update must be TOTAL over the node set
        # (left join + coalesce): the capped graph is directed, so a node
        # all neighbors dropped has zero in-edges and must keep its
        # teleport-only rank (and keep SENDING its mass in later
        # iterations) rather than silently vanishing from the state. The
        # symmetric uncapped graph has no such nodes — every out-edge has
        # a reverse — so it skips the extra node-set join (same values,
        # one fewer shuffle per iteration; plan-gate pinned).
        if max_degree is not None:
            update_base = nodes.select("node").join(contribs, "node", "left")
            in_sum = F.coalesce("in_sum", F.lit(0.0))
        else:
            update_base = contribs
            in_sum = F.col("in_sum")
        ranks = (
            update_base.join(n)
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n_nodes")
                    + F.lit(damping) * in_sum,
                    10,
                ).alias("r"),
            )
        )
    return (
        nodes.join(ranks, "node")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.round("r", 4).alias("pagerank"),
        )
    )


def pagerank_directed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Weighted PageRank over a DIRECTED edge list — the web-graph
    centrality a crawl pipeline runs over the HOST link graph (a
    domain-level quality prior: hosts the web links into are worth
    crawling/keeping; the same role harmonic centrality plays in
    Common Crawl's ranked host lists).

    ``edges`` carries (src, dst[, weight]) as-is — no symmetrization
    (links point). Mass splits along out-edges proportionally to
    ``weight`` (uniformly when None). Nodes = vertices appearing on
    either side. Fixed ``iters`` with per-step rounding to 10 decimals,
    so a SQL oracle replays the whole recipe value-for-value (the
    :func:`pagerank` discipline).

    Dangling nodes (no out-edges) are supported as rank RECEIVERS but
    their mass evaporates instead of redistributing — the pinned,
    SQL-expressible recipe (redistribution needs a global scalar per
    step). Rankings are unaffected for graphs where every node links
    out; callers with heavy dangling mass should add self-edges
    upstream. Documented, deterministic, oracle-mirrored.

    Returns (node, out_degree, pagerank-rounded-to-4).
    """
    from .materialize import checkpoint_tracked

    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    # checkpoint the INPUT edge list before deriving anything: out_w and
    # the normalization join are two consumers, and without the cut the
    # (often expensive) upstream edge build — e.g. a whole crawl
    # split+extract chain — executes once per consumer (the pagerank()
    # discipline; measured 2x the edge-build cost on the host link
    # graph). Tracked, so the scans-per-table gate sees the subtree.
    e = checkpoint_tracked(
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("t"), w.alias("_w")
        )
    )
    out_w = e.groupBy("s").agg(
        F.sum("_w").alias("_ow"), F.count(F.lit(1)).alias("_od")
    )
    # one small materialized edge table feeds every unrolled iteration
    ed = e.join(out_w, "s").select(
        "s", "t", (F.col("_w") / F.col("_ow")).alias("_frac")
    ).localCheckpoint(eager=False)
    nodes = (
        ed.select(F.col("s").alias("node"))
        .unionByName(ed.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    ranks = nodes.join(n).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("r")
    )
    # rank/contrib/degree frames are NODE-bounded (hosts, not docs) —
    # broadcast them explicitly so every iteration is one broadcast
    # join + one grouped sum over the aggregated edge table, never a
    # shuffle join keyed on a frame this small
    for _ in range(iters):
        contribs = (
            ed.join(F.broadcast(ranks), ed["s"] == ranks["node"])
            .select(
                F.col("t").alias("node"),
                (F.col("r") * F.col("_frac")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        # total over the node set: sources with no in-edges keep their
        # teleport-only rank and keep SENDING mass next step
        ranks = (
            nodes.join(F.broadcast(contribs), "node", "left")
            .join(n)
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("n_nodes")
                    + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0)),
                    10,
                ).alias("r"),
            )
        )
    return (
        nodes.join(
            F.broadcast(out_w.select(F.col("s").alias("node"), "_od")),
            "node",
            "left",
        )
        .join(F.broadcast(ranks), "node")
        .select(
            "node",
            F.coalesce("_od", F.lit(0)).cast("long").alias("out_degree"),
            F.round("r", 4).alias("pagerank"),
        )
    )
