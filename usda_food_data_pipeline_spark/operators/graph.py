"""Distributed graph analytics: PageRank over an item co-occurrence graph.

Connected components already live in ``operators/dedup.py`` (label
propagation for dup clusters); this module adds
the other workhorse graph primitive a corpus pipeline needs — PageRank
for importance-weighting sources/documents in a link graph (e.g.
ranking crawl domains before sampling, the CommonCrawl harmonic-rank
trick).

Scale design: each iteration is exactly one shuffle — ``edges ⋈ ranks``
on src (edges pre-partitioned once and reused via persist), then an
aggregation on dst. Ranks is a nodes-sized table (≪ edges); AQE
broadcasts it when it fits, degenerating the iteration to a map-side
join + one aggregation shuffle. Lineage is truncated per iteration with
``localCheckpoint`` exactly as in the CC loops
(``dedup.connected_components``) so K iterations never build a 2^K
plan.

Determinism for the oracle gate: per-node contributions are quantized
to a dyadic 2^-40 grid (``floor(share·2^40)`` — ×2^40 and floor are
EXACT double ops on any engine) and summed as BIGINTs (associative ⇒
order-free); per-row double arithmetic (divide, damp, add) is
IEEE-identical on Spark and DuckDB. Decimal sums are NOT portable
here: DuckDB casts double→decimal via a double multiply by 10^scale
while Spark goes through the exact BigDecimal expansion — observed
1-ulp mass divergence (see PLANS.md quality_bins note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint, release

# dyadic quantization grid for cross-engine-exact mass sums (2^40)
MASS_GRID = 1099511627776.0


def symmetric_edges(pairs: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Undirected → directed: emit both orientations of each pair."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionByName(rev)


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    symmetric: bool = False,
    broadcast_nodes_limit: int = 5_000_000,
) -> DataFrame:
    """PageRank on a directed edge list ``(src, dst)``.

    Nodes are the distinct edge endpoints; every node is assumed to have
    out-degree ≥ 1 (true for symmetric graphs — use
    :func:`symmetric_edges`), so there is no dangling-mass term and the
    per-iteration update is exactly

        r'(v) = (1-d)/N + d * Σ_{u→v} r(u)/outdeg(u)

    Returns ``(node, rank)``.

    Iteration cost: the bare edge table is persisted once and NEVER
    re-shuffled — the per-source contribution ``rank/outdeg`` is
    computed on the nodes-sized rank table (one cheap node⋈degree
    join), which is broadcast into the edge scan whenever N fits under
    ``broadcast_nodes_limit``. The only exchange per iteration carries
    map-side partial decimal sums — O(distinct nodes per partition)
    rows, not O(edges). Beyond the limit, edges are hash-partitioned
    by src ONCE (cached layout reused by every iteration's shuffled
    hash join — shares build side, edges streamed unsorted), so each
    extra iteration still moves only nodes-sized tables. With
    ``symmetric=True`` the node set is read
    off the degree table instead of a union-distinct over both endpoint
    columns. Lineage truncates per round with ``localCheckpoint`` (same
    pattern as the CC loops); each round frees the rank generation it
    supersedes, and the last one belongs to the query run.
    """
    ed = edges.select("src", "dst").persist()
    outdeg = (
        ed.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .persist()
    )
    if symmetric:
        nodes = outdeg.select("node")
    else:
        nodes = (
            ed.select(F.col("src").alias("node"))
            .unionByName(ed.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
    ed_loop = ed
    try:
        n = nodes.count()  # 1-row statistic, same spirit as the CC convergence probe
        base = (1.0 - damping) / n
        small = n <= broadcast_nodes_limit

        if not small:
            # beyond the broadcast limit the share join degrades to a
            # shuffle — pay the edge exchange ONCE here, not per
            # iteration: the cached hash-partitioned layout satisfies
            # the join's distribution requirement every round, so only
            # the nodes-sized shares table moves per iteration. outdeg
            # materializes from the original cache first so the source
            # lineage never replays.
            outdeg.count()
            ed_loop = ed.repartition("src").persist()
            ed_loop.count()
            ed.unpersist()

        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        for i in range(iters):
            # per-source share on the SMALL table; sinks (no out-edges)
            # drop out of the inner join and correctly contribute nothing
            shares = ranks.join(outdeg, "node").select(
                "node", (F.col("rank") / F.col("outdeg")).alias("share")
            )
            # non-broadcast: hash-build on the nodes-sized shares side
            # and STREAM the pre-partitioned edges (no per-iteration
            # edge sort — a sort-merge join would re-sort the edge cache
            # every round)
            r = F.broadcast(shares) if small else shares.hint("shuffle_hash")
            contribs = ed_loop.join(r, ed_loop["src"] == r["node"]).select(
                F.col("dst").alias("node2"), F.col("share").alias("c")
            )
            summed = contribs.groupBy(F.col("node2").alias("node")).agg(
                (F.sum(F.floor(F.col("c") * F.lit(MASS_GRID))) / F.lit(MASS_GRID)).alias(
                    "in_mass"
                )
            )
            # symmetric graph ⇒ every node receives mass; keep the left
            # join anyway so directed graphs with sink-only nodes stay
            # correct
            new_ranks = checkpoint(
                nodes.join(summed, "node", "left").select(
                    "node",
                    (F.lit(base) + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))).alias(
                        "rank"
                    ),
                )
            )
            if i:
                release(ranks)
            ranks = new_ranks
        return ranks
    finally:
        ed.unpersist()
        ed_loop.unpersist()
        outdeg.unpersist()
        nodes.unpersist()


def triangle_count(pairs: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Global triangle count of an undirected graph given as unique
    unordered pairs (``a < b``), plus supporting edge/wedge counts.

    Classic degree-ordered orientation (the O(m^1.5) bound): orient
    every edge from the lower-(degree, id) endpoint to the higher one —
    every triangle then has exactly ONE wedge u→v, u→w with (v, w)
    oriented, so counting reduces to joining the oriented edge list
    with itself on the wedge pivot and probing the third edge. The
    pivot join's fan-out per node is its OUT-degree under orientation,
    which is O(sqrt(m)) even for hubs — the whole reason for ordering
    by degree: a 10M-follower hub contributes no quadratic wedge set
    because its edges all point INTO it.

    Returns one row: (n_nodes, n_edges, n_triangles).
    """
    # the distinct edge list is referenced by both union arms of `und`,
    # by the degree table (hence du/dv), and by the n_edges count —
    # persist it so the caller's pair-generation subtree executes once
    # (r12 opt, 0.87× same-session A/B: exchange reuse does not cover
    # the full fan-out here, unlike the 2-arm LPA/kcore unions where a
    # matching persist measured flat and was not landed); released
    # once the 1-row result is eagerly checkpointed, or the query raises
    # (the checkpoint itself belongs to the query run)
    e = pairs.select(F.col(a).alias("x"), F.col(b).alias("y")).distinct().persist()
    und = e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = und.groupBy(F.col("x").alias("node")).agg(F.count(F.lit(1)).alias("deg"))

    # orient: keep (u, v) where (deg(u), u) < (deg(v), v)
    du = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    # keep the head's rank (dy) — the wedge stage orders out-neighbor
    # pairs by the SAME (deg, id) rank the orientation uses, so each
    # wedge is generated once, already aligned with its closing edge's
    # orientation. (Ordering wedge pairs by node ID instead would MISS
    # triangles whose closing edge is rank-oriented against ID order.)
    oriented = (
        und.join(du, "x")
        .join(dv, "y")
        .filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("x", "y", "dy")
        .persist()
    )
    o1 = oriented.select(F.col("x").alias("u"), F.col("y").alias("v"), F.col("dy").alias("rv"))
    o2 = oriented.select(F.col("x").alias("u"), F.col("y").alias("w"), F.col("dy").alias("rw"))
    wedges = o1.join(o2, "u").filter(
        (F.col("rv") < F.col("rw"))
        | ((F.col("rv") == F.col("rw")) & (F.col("v") < F.col("w")))
    )
    closed = wedges.join(
        oriented.select(F.col("x").alias("v"), F.col("y").alias("w")), ["v", "w"]
    )
    out = (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
    )
    try:
        return checkpoint(out)
    finally:
        oriented.unpersist()
        e.unpersist()


def copurchase_pairs(lineitem: DataFrame) -> DataFrame:
    """Item co-purchase pairs ``(src < dst)``: parts appearing in the
    same order, one row per (order, unordered pair).

    NOT a self-join: grouping to a per-order sorted part array (one
    shuffle of (orderkey, partkey) pairs) and expanding the pairs with
    array expressions keeps the quadratic blow-up local to each order's
    tiny array — the self-join alternative shuffles the scan twice and
    materializes the same pairs through a join. Basket sizes are small
    and bounded (TPC-H ≤ 7 parts/order; a retail basket ~10s), so the
    per-group expansion is O(1) work per emitted pair with no skew.
    """
    from ..sources.tables import spread

    # spread(): a few-row-group parquet scan would run the CPU-heavy
    # collect_set partial aggregation on 1-3 tasks otherwise
    per_order = (
        spread(lineitem.select("l_orderkey", "l_partkey"))
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = per_order.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + 2, F.size("ps")),
                        lambda y: F.struct(x.alias("src"), y.alias("dst")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.src", "p.dst")


def copurchase_edges(lineitem: DataFrame, min_pair_count: int = 1) -> DataFrame:
    """Undirected co-purchase pairs weighted by co-occurrence count:
    ``(src, dst, pair_count)`` with ``src < dst``."""
    counted = (
        copurchase_pairs(lineitem)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    if min_pair_count > 1:
        counted = counted.filter(F.col("pair_count") >= min_pair_count)
    return counted


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for
    community detection, ``rounds`` fixed iterations: every node adopts
    the most frequent label among its neighbors, ties to the smallest
    label — fully deterministic, unlike the classic randomized-order
    variant, and therefore exactly twinnable in SQL as ``rounds``
    unrolled CTEs.

    Distinct from connected components (min-label convergence): LPA's
    neighbor-majority vote splits a connected graph into densely-knit
    communities, the grouping a curation pipeline uses to diversify
    sampling across near-duplicate "topics" rather than exact clusters.

    Scale shape: per round, one edge-sized exchange for the neighbor
    label join and one (node, label)-keyed count aggregate (map-side
    combined) — O(rounds · |E|) total, no quadratic stage anywhere.
    The undirected edge list is persisted once and reused by every
    round; labels stay (node, label) slim rows.

    Input: ``(src, dst)`` undirected edges (one row per pair, src<dst).
    Output: ``(node, label)`` after ``rounds`` iterations.
    """
    und = (
        edges.select(F.col("src").cast("bigint").alias("n"), F.col("dst").cast("bigint").alias("m"))
        .unionByName(
            edges.select(F.col("dst").cast("bigint").alias("n"), F.col("src").cast("bigint").alias("m"))
        )
        .persist()
    )
    labels = und.select(F.col("n")).distinct().select(
        "n", F.col("n").alias("label")
    )
    for _ in range(rounds):
        neigh = und.join(
            labels.select(F.col("n").alias("m"), "label"), "m"
        ).select("n", "label")
        counts = neigh.groupBy("n", "label").agg(F.count(F.lit(1)).alias("_c"))
        labels = counts.groupBy("n").agg(
            F.max_by(
                F.col("label"),
                F.struct(F.col("_c"), (-F.col("label")).alias("neg")),
            ).alias("label")
        )
    # sever the unrolled lineage so downstream consumers don't replay
    # three join rounds per action, then release the edge cache
    try:
        return checkpoint(labels.select("n", "label"))
    finally:
        und.unpersist()


def kcore_peel(edges: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Bounded-round k-core peeling: ``rounds`` synchronous iterations
    of "drop every node whose degree among survivors is < k", then
    report the surviving nodes with their induced-subgraph degree.

    The true k-core is the FIXPOINT of this peel; a fixed round count
    makes the operator a deterministic, exactly-SQL-twinnable
    approximation FROM ABOVE (each round only removes nodes, so the
    result is always a superset of the k-core, and equals it once a
    round removes nothing).  Bounding rounds is also what a production
    pass does — convergence depth is data-dependent and a pipeline
    budget is not.

    Why a curation pipeline wants this: in link/co-occurrence graphs
    the k-core separates densely embedded nodes from chains and
    pendants — the standard spam/quality prior on web-domain graphs
    (deep-core domains are heavily cross-referenced), and the dual of
    LPA's community split.

    Scale shape: per round, the persisted undirected edge list joins
    the (shrinking) nodes-sized survivor set on BOTH endpoints — the
    join strategy is left to AQE, which broadcasts the survivor side
    when it fits and falls back to a nodes-sized shuffle when the node
    set outgrows broadcast — followed by one
    map-side-combined degree count.  O(rounds · |E|) total, no
    quadratic stage.  Lineage is cut per round with ``localCheckpoint``
    (the CC/LPA discipline) so ``rounds`` never compounds the plan.

    Input: ``(src, dst)`` undirected edges (one row per pair, src<dst).
    Output: ``(n, deg)`` — survivors of ``rounds`` peels with their
    degree inside the surviving induced subgraph.
    """
    und = (
        edges.select(
            F.col("src").cast("bigint").alias("n"),
            F.col("dst").cast("bigint").alias("m"),
        )
        .unionByName(
            edges.select(
                F.col("dst").cast("bigint").alias("n"),
                F.col("src").cast("bigint").alias("m"),
            )
        )
        .persist()
    )
    # each round frees the survivor-set generation it supersedes, so
    # exactly one generation holds blocks at a time; the result's
    # belongs to the query run
    def degrees(surv: DataFrame) -> DataFrame:
        return (
            und.join(surv, "n")
            .join(surv.select(F.col("n").alias("m")), "m")
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    surv = und.select("n").distinct()
    try:
        for i in range(rounds):
            new_surv = checkpoint(degrees(surv).filter(F.col("deg") >= k).select("n"))
            if i:
                release(surv)
            surv = new_surv
        out = checkpoint(degrees(surv))
        if rounds:
            release(surv)
        return out
    finally:
        und.unpersist()
