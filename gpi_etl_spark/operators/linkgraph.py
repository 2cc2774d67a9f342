"""Link-graph analytics over document collections: PageRank.

Corpus-curation pipelines rank crawled pages by link-graph centrality
(the Common Crawl / RefinedWeb recipe: harvest the hyperlink graph, run
PageRank, keep high-rank hosts as a quality prior). The reference's
link-discovery scan (``HTGPIDESCARGAIMG/__init__.py`` link harvesting)
produces exactly such an edge list; this operator is the quality
ranking built on top of it.

Execution model (matches ``similarity.distributed_kmeans``): the loop is
driver-ORCHESTRATED but data-parallel — per iteration one join
(ranks ⋈ edges on src) and one aggregation (groupBy dst), so the wire
carries (node, rank) pairs and never materializes the graph on the
driver. The edge list is joined with out-degrees once, hash-partitioned
by ``src`` and persisted, so every iteration's join co-locates with the
cached edges and only the (much smaller) rank table moves. At 100 TB
scale: shuffle per iteration ∝ |nodes|, not |edges|.

Only the scalar dangling-rank mass touches the driver (one 1-row action
per iteration, like k-means' k×dim centroid collect).

The loops that stop on a data-dependent condition (:func:`k_core`,
:func:`shortest_paths`) make exactly ONE Spark action per round: the
round's table is eagerly ``localCheckpoint``-ed and the stop signal —
whether any row is left to peel or to expand — rides that same job as
an ``Observation`` metric (:func:`gpi_etl_spark.runscope.checkpoint`),
never a separate ``count()``. Every pin and checkpoint here goes
through :mod:`gpi_etl_spark.runscope` and is released when the next
registry query is dispatched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gpi_etl_spark import runscope


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    redistribute_dangling: bool = True,
) -> DataFrame:
    """Standard PageRank over an ``(src, dst)`` edge list.

    Per iteration, for every node v::

        rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u)/outdeg(u)
                                   + dangling_mass / N )

    where ``dangling_mass`` is the total rank held by nodes with no
    out-edges (redistributed uniformly when ``redistribute_dangling``,
    dropped otherwise — with redistribution ``Σ rank = 1`` is invariant,
    the textbook formulation).

    The node set is ``distinct(src ∪ dst)``; parallel edges contribute
    once each (a page linking twice passes twice the weight), and
    self-loops are legal. Duplicate-edge dedup, if wanted, is the
    caller's ``edges.distinct()``.

    Returns a DataFrame ``(node, rank)`` with one row per node.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_outdeg"))
    # weight each edge once: rank flows as rank(u) * w where
    # w = 1/outdeg(u); precomputing w keeps the per-iteration join a
    # pure (src -> rank) lookup
    ew = e.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("_outdeg")).alias("w")
    )
    ew = runscope.pin(ew.repartition("src"))
    # nodes are re-scanned every iteration (left side of the rank
    # update) and for the dangling mass — pin them too
    nodes = runscope.pin(nodes)

    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # one up-front action decides whether the per-iteration dangling
    # scan is needed at all: a link graph where every page has
    # out-links (common after edge harvesting) pays zero extra jobs
    dangling = runscope.pin(
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left_anti")
    )
    has_dangling = redistribute_dangling and bool(dangling.head(1))

    # with dangling mass each iteration reads the current ranks twice
    # (mass action + contribution join): persist every generation and
    # drop the previous one once its successor materializes. WITHOUT
    # dangling mass each generation is read exactly once, so the whole
    # loop stays one lazy composed plan — zero per-iteration jobs.
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    if has_dangling:
        ranks = runscope.pin(ranks)
    base = (1.0 - damping) / n
    for _ in range(iters):
        d_mass = 0.0
        if has_dangling:
            row = (
                dangling.join(ranks, "node")
                .agg(F.sum("rank").alias("m"))
                .collect()[0]
            )
            d_mass = float(row["m"] or 0.0)
        contribs = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w")).alias("_c"))
        )
        prev = ranks
        ranks = (
            nodes.join(contribs, nodes["node"] == contribs["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.lit(d_mass / n)
                    )
                ).alias("rank"),
            )
        )
        if has_dangling:
            # materialize THEN drop the previous iteration's cache —
            # the new ranks' lineage reads it exactly once here
            ranks = runscope.pin(ranks)
            ranks.count()
            prev.unpersist()
    # with dangling mass the final rank table stays pinned (callers
    # usually aggregate it several ways)
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts of the UNDIRECTED graph underlying an
    edge list — the local clustering signal (link farms and mutual-
    citation rings show up as triangle-dense neighborhoods; the
    companion metric to :func:`pagerank`'s global centrality).

    Edges are canonicalized (a < b, self-loops and duplicates
    dropped); triangles enumerate via the two-join wedge closure with
    the total order a < b < c, so each triangle is found EXACTLY once
    — two equi-join shuffles over the edge list, never an all-pairs
    product. At scale the standard refinement (order vertices by
    degree before canonicalizing) bounds wedge fan-out by the
    degeneracy; documented here, not needed at test scale.

    Returns ``(node, n_triangles)`` for nodes in ≥ 1 triangle.
    """
    a = F.least(F.col(src_col), F.col(dst_col)).alias("a")
    b = F.greatest(F.col(src_col), F.col(dst_col)).alias("b")
    e = (
        edges.select(a, b)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ab = e.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    bc = e.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    wedges = ab.join(bc, "tb")
    ac = e.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    tris = wedges.join(ac, ["ta", "tc"])
    return (
        tris.select(
            F.explode(
                F.array(F.col("ta"), F.col("tb"), F.col("tc"))
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


#: above this iteration count :func:`hits` auto-switches to the
#: generation-persist execution path: the lazy composed plan grows by
#: ~2 joins + 2 aggregates of depth per iteration (measured 74 scan
#: nodes / 168 Exchanges at iters=3), which is unusable for the 20–50
#: iterations HITS needs to converge — and measured SLOWER even at 3
#: (5k-node graph, sf0.1, local[32]: lazy 7.4–11 s vs persist
#: 5.4 s; planning + ReusedExchange bookkeeping on the deep composed
#: plan costs more than the 2 localCheckpoint jobs per iteration). The
#: lazy plan is kept only for 1–2 iterations, where its zero-action
#: composability still wins.
_HITS_LAZY_MAX_ITERS = 2


def hits(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    persist_iterations: bool | None = None,
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED edge list (duplicate
    edges collapse): authority = Σ hub over in-links, hub = Σ authority
    over out-links, iterated, then L1-normalized — PageRank's
    counterpart that separates "good directory pages" (hubs) from
    "good content pages" (authorities), the other classic link-quality
    prior.

    Because the update is LINEAR, per-iteration normalization commutes
    with the iteration — so scores normalize ONCE at the end. That
    keeps every intermediate frame referenced exactly once and, for
    small iteration counts, the whole loop ONE lazy composed plan with
    zero per-iteration driver actions (a per-iteration normalizer
    would re-expand the lineage under each broadcast aggregate and
    blow the planner up exponentially — measured: OOM at 3
    iterations). Magnitudes grow like (avg degree)^2 per iteration —
    far inside double range for any usable iteration count.

    Two execution paths, same results (mirrors :func:`pagerank`):

    * **lazy** (``persist_iterations=False``): one composed plan, zero
      per-iteration jobs — but plan size grows linearly with ``iters``
      and planner time superlinearly, so it is only used up to
      ``_HITS_LAZY_MAX_ITERS``.
    * **generation-persist** (``persist_iterations=True``): each
      iteration's hub/auth table is eagerly ``localCheckpoint``-ed,
      which both materializes it AND truncates the logical plan (a
      plain persist does not — the analyzer still rebuilds the full
      composed lineage each generation) — plan size is CONSTANT in
      ``iters`` (2 jobs/iteration, shuffle ∝ |nodes|), the path for
      the realistic 20–50-iteration convergence runs. Caveat shared
      with every localCheckpoint use: blocks live on executors, so an
      executor loss mid-run fails the job instead of recomputing — on
      a real cluster prefer ``spark.sparkContext.setCheckpointDir`` +
      reliable checkpointing for multi-hour runs.

    ``persist_iterations=None`` (default) auto-selects: lazy for
    ``iters <= _HITS_LAZY_MAX_ITERS``, generation-persist above.

    Returns ``(node, hub, auth)`` with L1-normalized scores.
    """
    if persist_iterations is None:
        persist_iterations = iters > _HITS_LAZY_MAX_ITERS

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = runscope.pin(e)
    nodes = runscope.pin(nodes)

    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = nodes.withColumn("auth", F.lit(1.0))  # iters=0: uniform
    for _ in range(iters):
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("_a"))
        )
        auth = nodes.join(
            a_raw, nodes["node"] == a_raw["dst"], "left"
        ).select("node", F.coalesce("_a", F.lit(0.0)).alias("auth"))
        if persist_iterations:
            # localCheckpoint TRUNCATES the logical plan (persist alone
            # does not — the analyzer still rebuilds the full composed
            # lineage each generation, which is what blew the heap at
            # deep iteration counts). Eager: materializes now, so each
            # generation is exactly one bounded job.
            auth, _ = runscope.checkpoint(auth)
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("_h"))
        )
        hub = nodes.join(
            h_raw, nodes["node"] == h_raw["src"], "left"
        ).select("node", F.coalesce("_h", F.lit(0.0)).alias("hub"))
        if persist_iterations:
            hub, _ = runscope.checkpoint(hub)
    # single end normalization: the scores are each read twice below
    # (sum + division), so pin them once to keep the plan small
    scores = runscope.pin(hub.join(auth, "node"))
    totals = scores.agg(
        F.sum("hub").alias("_zh"), F.sum("auth").alias("_za")
    )
    return scores.crossJoin(F.broadcast(totals)).select(
        "node",
        F.when(F.col("_zh") > 0, F.col("hub") / F.col("_zh"))
        .otherwise(F.lit(0.0))
        .alias("hub"),
        F.when(F.col("_za") > 0, F.col("auth") / F.col("_za"))
        .otherwise(F.lit(0.0))
        .alias("auth"),
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    et al. '07) over an undirected graph.

    The edge list is symmetrized and self-loops dropped; every node
    starts labeled with its own id, then each iteration every node
    adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label — a fully deterministic variant of classic LPA
    (whose random tie-breaks and vertex orderings make runs
    uncomparable). The synchronous schedule can oscillate on bipartite
    structures, so the operator runs a FIXED iteration count rather
    than a convergence test; callers wanting convergence can compare
    successive label frames.

    Per iteration: one edges⋈labels equi-join (shuffle keyed on the
    neighbor id), one (node, label) count aggregation, and one
    row_number argmax windowed PER NODE (never a global window). The
    label frame is eagerly ``localCheckpoint``-ed each round — the
    repo-wide iterative-loop rule, since ``persist`` alone does not
    truncate lineage and the analyzer cost of a growing plan would
    dominate by iteration ~10.

    Returns ``(node, lbl)`` — the community label after ``iters``
    rounds. No counterpart in the reference (no graph logic at all);
    textbook LPA made deterministic.
    """
    e, _ = runscope.checkpoint(_symmetrize(edges, src_col, dst_col))
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    win = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    for _ in range(iters):
        votes = (
            e.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("lbl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), F.col("lbl"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        top = (
            votes.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("node", F.col("lbl").alias("new_lbl"))
        )
        labels, _ = runscope.checkpoint(
            labels.join(top, "node", "left").select(
                "node",
                F.coalesce("new_lbl", "lbl").alias("lbl"),
            )
        )
    return labels


def _symmetrize(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected-graph normalization shared by
    :func:`label_propagation`, :func:`k_core` and
    :func:`shortest_paths`: both directions of every edge, self-loops
    dropped, duplicates collapsed. The rows are hash-partitioned on
    ``src`` BEFORE the dedup, so the dedup and any later per-``src``
    aggregation (k_core's degree count) share one shuffle."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    return (
        e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .repartition("src")
        .distinct()
    )


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every surviving node has degree ≥ k — the classic peeling
    definition (Seidman '83), computed by repeatedly deleting nodes of
    degree < k until a fixed point.

    Each peel round makes exactly ONE Spark action: an eager
    ``localCheckpoint`` of the current ``(node, degree)`` table, with
    the number of nodes below ``k`` observed on that same job. A round
    that observes none returns the checkpointed table as the core.
    Otherwise the next degree table is the base symmetrized edge list
    semi-joined on both ends against the checkpoint's surviving nodes
    and re-aggregated — one checkpoint per round and a plan depth that
    stays constant however many rounds run. The symmetrized base is
    pinned (:func:`gpi_etl_spark.runscope.pin`): round 1's checkpoint
    job fills the pin, so later rounds neither rescan the input nor
    redo the dedup shuffle. ``max_rounds`` bounds the
    DELETING rounds only — the final round (the one that observes the
    fixed point) is always free, so a graph that stabilizes in exactly
    ``max_rounds`` waves succeeds. Needing more deleting rounds than
    that raises rather than returning a half-peeled subgraph (the same
    fail-loudly rationale as hierarchy's cycle guard). Wave count is
    bounded by the graph's degeneracy-ordering depth in practice — a
    handful of rounds on power-law graphs.

    Input direction and self-loops are normalized away exactly as in
    :func:`label_propagation`. Returns ``(node, degree)`` for the
    surviving nodes with their degree INSIDE the core (≥ k by
    construction); an empty edge list gives an empty frame.
    Deterministic: the fixed point of peeling is unique regardless of
    deletion order, so no tie-break is even needed.
    """
    e = runscope.pin(_symmetrize(edges, src_col, dst_col))

    def degrees(sub: DataFrame) -> DataFrame:
        return sub.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )

    deg = degrees(e)
    deleting_rounds = 0
    while True:
        deg, peels = runscope.checkpoint(deg, F.col("degree") < k)
        if not peels:  # fixed point observed
            return deg
        deleting_rounds += 1
        if deleting_rounds > max_rounds:
            raise ValueError(
                f"k-core peeling needed more than {max_rounds} deleting "
                "rounds — raise max_rounds (each wave deletes ≥ 1 node, "
                "so deleting rounds are bounded by the node count)"
            )
        keep = deg.filter(F.col("degree") >= k).select("node")
        deg = degrees(
            e.join(keep, e["src"] == keep["node"], "left_semi")
            .join(keep, e["dst"] == keep["node"], "left_semi")
        )


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source unweighted shortest paths (frontier BFS) over an
    undirected graph: ``dist(v) = min over seeds of hop count``,
    capped at ``max_depth`` (unreached nodes are absent from the
    output).

    ``sources`` is a one-column ``node`` frame. Each round expands the
    CURRENT frontier only — one equi-join frontier⋈edges plus one
    anti-join against the settled set — so per-round work is
    proportional to the frontier's edge boundary, not the whole graph
    (the textbook distributed BFS; Pregel's signal/collect specialized
    to hop counting). Each round's new frontier is eagerly
    ``localCheckpoint``-ed with its row count observed on that same
    job (no separate ``count()``), and the loop exits early on an empty
    frontier; the settled frame is re-checkpointed every round (the
    repo-wide iterative-loop rule: persist does not truncate lineage).

    At 100 TB-graph scale the anti-join against an ever-growing
    settled set is the known cost center; the standard refinement
    (keep ``dist`` partitioned by node id so the anti-join co-locates)
    falls out of Spark's shuffle reuse because both sides key on the
    node id every round. No counterpart in the reference (no graph
    logic); textbook BFS made deterministic.
    """
    e, _ = runscope.checkpoint(_symmetrize(edges, src_col, dst_col))
    dist, _ = runscope.checkpoint(
        sources.select(
            F.col("node").cast("long").alias("node"), F.lit(0).alias("dist")
        )
    )
    frontier = dist.select("node")
    for d in range(1, max_depth + 1):
        new, grew = runscope.checkpoint(
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(d))
        )
        if not grew:
            break
        # the settled set is re-checkpointed each round on purpose: the
        # alternative (lazy union of per-round checkpointed frontiers)
        # was measured SLOWER at sf0.1 (4.6s vs 3.2s steady-state) —
        # every later round re-scans one stage per accumulated leaf,
        # O(rounds²) task launches, while one flat memory-checkpointed
        # frame keeps the anti-join to a single scan
        dist, _ = runscope.checkpoint(dist.unionByName(new))
        frontier = new.select("node")
    return dist
