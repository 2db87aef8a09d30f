"""Graph operators for dedup-cluster resolution.

Near-dup detection yields PAIRS; the curation decision needs CLUSTERS
(keep one doc per connected component of the similarity graph).  This is
the step between "minhash found 2M duplicate pairs" and "drop 1.3M docs".

:func:`connected_components` is iterative min-label propagation — the
Pregel pattern expressed as bounded DataFrame iterations:

* each iteration is ONE join (labels onto edges) + ONE aggregation:
  neighbor labels and the node's own label union into the same min —
  no separate "fold with self" left-join pass; shuffles only on node ids;
* iteration count is bounded by the graph DIAMETER, not its size — dup
  clusters are short chains/cliques, so a handful of rounds converge;
* the edge list is localCheckpoint-ed BEFORE the loop and every round's
  labels are localCheckpoint-ed too: persist() truncates execution but
  not the logical plan, so without the checkpoint every iteration
  re-analyzes the full upstream pipeline (minhash banding +
  verification) and the plan deepens per round — measured 1.5-2.6 s of
  pure optimizer time per iteration on a 500-row label frame at sf0.1,
  0.35 s once truncated (the classic iterative-Spark trap); the first
  propagation round is FUSED into label init (lab(x)=x initially, so
  round 1 is just min(u, min neighbors) — one aggregate, no separate
  distinct-labels job);
* convergence exploits monotonicity: labels only ever DECREASE, so the
  label-sum strictly drops iff anything changed — the per-round change
  check is a scalar aggregate (decimal sum, overflow-safe for 64-bit
  ids), not the labels⋈old-labels comparison join it would naively be;
* a loop that reaches ``max_iter`` before that check sees an unchanged
  sum raises instead of returning labels that are not components yet.

At 100 TB scale the same loop runs unchanged; when diameter grows beyond
~20 (long chains, not dup cliques) switch to
:func:`connected_components_star` — alternating large-star/small-star
rounds, O(log n) rounds instead of O(diameter), same label contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "connected_components_star",
    "dup_clusters",
    "pagerank",
    "triangle_count",
    "triangle_count_sql",
]


def _label_nodes(
    nodes: DataFrame, labels: DataFrame, node_col: str, id_col: str
) -> DataFrame:
    """The label tail of both CC variants: every node takes its component
    label (``lab``, keyed by ``node_col``); nodes the rounds never saw —
    isolated, no edges — coalesce to their own id."""
    return (
        nodes.select(F.col(id_col))
        .join(labels, F.col(id_col) == F.col(node_col), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("lab"), F.col(id_col)).alias("cluster_id"),
        )
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "id",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node with min(node id) of its connected component.

    ``edges`` is an undirected pair list; ``nodes`` the full node frame
    (isolated nodes keep their own id as label).  Returns
    ``(id_col, cluster_id)``.

    Only EDGE ENDPOINTS iterate: components span edges, so isolated
    nodes can't change label and are attached at the end with one left
    join + coalesce.  In a dedup corpus the duplicate subgraph is a tiny
    fraction of the documents — the loop's shuffle volume is bounded by
    it, not by |nodes|.

    ``max_iter`` counts propagation rounds, the fused first one included;
    the fixpoint is confirmed by a round that leaves the label sum
    unchanged, so it takes at least 2.  Running out of rounds before
    that raises ``RuntimeError`` naming ``max_iter`` and the last
    label-sum change.
    """
    if max_iter < 1:
        raise ValueError(
            f"connected_components: max_iter must be >= 1, got {max_iter} "
            "(0 iterations would silently return unmerged labels)"
        )
    # EAGERLY checkpoint the EDGE LIST itself (one materialization of the
    # expensive upstream pair pipeline — minhash banding + jaccard
    # verify; persist()-then-union would race the two orientations'
    # scans into computing it twice inside the same job, and the lineage
    # would otherwise deepen every iteration's logical plan).  The
    # symmetrized frame is then a trivial projection-union OVER the
    # checkpoint — no second materialization job needed.  On a cluster,
    # swap localCheckpoint for reliable checkpoint() if executor loss
    # during the loop must be survivable.
    edges_c = edges.localCheckpoint()
    sym = edges_c.selectExpr(f"{src} AS u", f"{dst} AS v").unionAll(
        edges_c.selectExpr(f"{dst} AS u", f"{src} AS v")
    )
    # fused round 1: with lab(x)=x initially, the first propagation is
    # just min(u, min of neighbors) — one aggregate replaces the separate
    # distinct-labels init job AND the first loop iteration
    labels = (
        sym.groupBy("u")
        .agg(F.min(F.least(F.col("u"), F.col("v"))).alias("lab"))
        .localCheckpoint(eager=False)
    )

    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("lab").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]

    prev_sum, new_sum = None, label_sum(labels)
    for _ in range(max_iter - 1):
        # min over {own label} ∪ {neighbor labels}: the self-label rides
        # the same groupBy via union, so isolated nodes survive and no
        # second join is needed.  eager=False skips a separate
        # materialization pass, but it does not make the round one job:
        # building the checkpoint RDD runs AQE's shuffle map stages as
        # their own jobs (4 per round for dup_clusters at sf0.01), and
        # label_sum adds 2 more.
        labels = (
            sym.join(labels.withColumnRenamed("u", "v"), "v")
            .select("u", "lab")
            .unionByName(labels)
            .groupBy("u")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
        # previous rounds' checkpoint blocks are freed by the
        # ContextCleaner once their DataFrames go out of scope
        prev_sum, new_sum = new_sum, label_sum(labels)
        if new_sum == prev_sum:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            f"rounds: the last round moved the label sum {prev_sum} -> "
            f"{new_sum}, so the labels are not components yet.  Raise "
            "max_iter, or use connected_components_star on long chains."
        )
    return _label_nodes(nodes, labels, "u", id_col)


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round alternative to
    :func:`connected_components`'s O(diameter) min-label propagation.

    Same contract as :func:`connected_components`: every node labeled
    with min(node id) of its component, isolated nodes label themselves,
    returns ``(id_col, cluster_id)``.  Use THIS variant when components
    are long chains/paths (diameter ≫ 20: lineage graphs, session
    stitching, web-graph link chains); use min-label for the typical
    near-dup clique/star graphs where diameter ≤ a handful — its
    per-round work is one join+agg vs two here.

    One round = two phases over the current edge multiset E (kept
    deduplicated, smaller endpoint first):

    * **large-star**: per node u, connect every STRICTLY LARGER neighbor
      to m(u) = min(N(u) ∪ {u}) — doubles star depth toward the min
      without ever increasing the potential;
    * **small-star**: per node u (edges oriented to the larger
      endpoint), connect every smaller-or-equal neighbor and u itself
      to the min — collapses the chains large-star built.

    Both phases are groupBy-min + an equi-join back on the grouping key
    — no window, no driver state beyond the convergence scalar.  The
    edge set monotonically converges to rooted stars (v, root); the
    per-round change check is the same decimal label-sum trick as
    min-label (Σ min-neighbor strictly decreases until fixpoint).  Each
    round's frame is localCheckpoint-ed to truncate the growing plan —
    the iterative-Spark discipline of :func:`connected_components`.
    Running out of ``max_iter`` rounds before a round leaves the edge
    sums unchanged raises ``RuntimeError``, as in min-label.
    """
    if max_iter < 1:
        raise ValueError(
            f"connected_components_star: max_iter must be >= 1, got {max_iter}"
        )
    e0 = (
        edges.selectExpr(
            f"least({src}, {dst}) AS u", f"greatest({src}, {dst}) AS v"
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def round_sum(frame: DataFrame):
        r = frame.agg(
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return (r["su"], r["sv"], r["n"])

    e = e0
    prev, cur = None, round_sum(e)
    for _ in range(max_iter):
        # --- large-star: group on the SMALLER endpoint's neighborhoods.
        # Symmetrize so every node sees its full neighborhood, take
        # m(u) = min(neighbor ∪ self), re-attach larger neighbors to m.
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # no distinct here: the small phase re-groups and dedups anyway,
        # so carrying duplicate large-edges one phase costs less than an
        # extra exchange per round
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v"))
            .where(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
        )
        # --- small-star: orient edges to the larger endpoint (group key
        # v), connect all smaller neighbors AND the key itself to the min
        mins2 = large.groupBy("v").agg(F.min("u").alias("m"))
        small = (
            large.join(mins2, "v")
            .select(F.col("m").alias("u"), F.col("u").alias("w"))
            .unionAll(
                mins2.select(F.col("m").alias("u"), F.col("v").alias("w"))
            )
            .where(F.col("u") != F.col("w"))
            .select(
                F.least("u", "w").alias("u"), F.greatest("u", "w").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        e = small
        prev, cur = cur, round_sum(e)
        if cur == prev:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint within max_iter="
            f"{max_iter} rounds: the last round moved the edge sums "
            f"(sum u, sum v, edges) {prev} -> {cur}, so the edges are not "
            "rooted stars yet.  Raise max_iter."
        )
    # fixpoint edges are rooted stars (root = component min on u side).
    # Roots self-label WITHOUT a separate distinct pass (r13): the
    # closing groupBy-min dedups anyway, so unioning the raw u-side
    # projection (node=u, lab=u) is equivalent to distinct-then-label
    # — one less exchange in the label-attach tail.  At fixpoint a
    # root u never appears as a v-side node, so its min(lab) is u.
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("lab"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("lab"))
    lab = labels.unionByName(roots).groupBy("node").agg(F.min("lab").alias("lab"))
    return _label_nodes(nodes, lab, "node", id_col)


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: every document labeled with
    the min doc id of its duplicate component (singletons label
    themselves).  Downstream keep-rule: ``where(doc_id == cluster_id)``.
    """
    nodes = docs.select(F.col(id_col).alias("id")).distinct()
    cc = connected_components(
        pairs, nodes, src=src, dst=dst, id_col="id", max_iter=max_iter
    )
    return cc.withColumnRenamed("id", id_col)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "id",
    iters: int = 3,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Fixed-point PageRank (power iteration, damping 0.85) over a
    directed edge list — duplicate-cluster centrality, link-graph
    authority, citation weighting.

    EXACT cross-engine arithmetic (the kmeans/bpe oracle discipline):
    ranks are BIGINT fixed point (init ``scale div n`` per node, teleport
    ``(15·init) div 100``), each iteration is
    ``base + (85 · Σ_{u→v} (r(u) div outdeg(u))) div 100`` in pure
    integer ops — no float anywhere, so a DuckDB mirror unrolling the
    same ``iters`` rounds as CTEs hashes identically.  Dangling nodes
    (no out-edges) keep contributing nothing — their mass is dropped,
    the common simplification; they still RECEIVE rank.

    Scale shape: per-round work is one broadcast-sized join of the edge
    list with the rank frame plus a (dst) hash aggregate with map-side
    combine — the connected_components per-round shape; driver state is
    the single scalar ``n`` (one count job).  ``iters`` is fixed, so the
    plan is a bounded unroll, no convergence collect per round.  The
    edge and id frames are eagerly localCheckpointed before the unroll
    (the connected_components/kmeans discipline): an expensive upstream
    lineage — e.g. the minhash-banded near-dup pair generation — would
    otherwise be RE-DERIVED once per iteration wherever exchange reuse
    cannot cover it (measured 10.8 s → 2.s-range on the sf0.1 near-dup
    graph); both frames are edge/node-sized, never corpus-row-sized.
    Returns ``(id_col, pr_fp)``.
    """
    if iters < 1:
        raise ValueError(
            f"pagerank: iters must be >= 1, got {iters} "
            "(0 iterations would silently return the uniform init vector)"
        )
    ids = nodes.select(F.col(id_col).alias("__u")).distinct().localCheckpoint()
    # n = |distinct node ids|, counted over the materialized checkpoint —
    # counting `nodes` directly would re-scan the (corpus-sized) node
    # lineage a second time for the same number
    n = ids.count()
    if n == 0:
        return nodes.select(
            F.col(id_col), F.lit(0).cast("bigint").alias("pr_fp")
        )
    init = scale // n
    base = (15 * init) // 100
    # checkpoint the RAW edge projection first, THEN derive out-degrees
    # from the checkpoint: `edges` appears under both the join input and
    # the outdeg aggregate, and the two exchanges don't canonicalize to a
    # ReusedExchange — joining before checkpointing materializes the
    # (expensive) upstream pair lineage twice in one job (measured 2.35 s
    # vs 1.51 s warm, 6.5 s vs 1.9 s first-run, on the sf0.1 near-dup
    # graph)
    e0 = edges.select(
        F.col(src).alias("__u"), F.col(dst).alias("__v")
    ).localCheckpoint()
    outdeg = e0.groupBy("__u").agg(F.count(F.lit(1)).alias("__d"))
    # second checkpoint is over checkpointed input (~0.1 s): keeps each
    # unrolled iteration's plan a flat ExistingRDD read
    e = e0.join(outdeg, "__u").localCheckpoint()
    ranks = ids.select("__u", F.lit(int(init)).cast("bigint").alias("__pr"))
    for _ in range(iters):
        sums = (
            e.join(ranks, "__u")
            .select("__v", F.expr("__pr div __d").alias("__c"))
            .groupBy("__v")
            .agg(F.sum("__c").alias("__m"))
        )
        ranks = ids.join(
            sums, ids["__u"] == sums["__v"], "left"
        ).select(
            "__u",
            (
                F.lit(int(base)).cast("bigint")
                + F.expr("(85 * coalesce(__m, 0)) div 100")
            ).alias("__pr"),
        )
    return ranks.select(
        F.col("__u").alias(id_col), F.col("__pr").alias("pr_fp")
    )


def triangle_count(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_out: str = "id",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the local
    clustering signal (dense dup-cliques vs accidental chains) built on
    the canonical compact-forward algorithm: with edges stored once in
    ``src < dst`` canonical order (exactly what near_dup_pairs emits),
    every triangle ``a < b < c`` is found exactly once by two equi-joins
    —  wedge (a,b)+(b,c), closed by (a,c).  No n² stage: the wedge join
    is edge⋈edge on the shared middle vertex, and at 100 TB the classic
    skew refinement (orient edges by degree so high-degree vertices
    never form wedge middles) drops in by re-canonicalizing ``pairs``
    before the call; both joins shuffle on node ids only.

    Output: one row per node appearing in ≥1 triangle —
    ``(id_out, n_tri)``.  Isolated/triangle-free nodes are absent (join
    the node table with ``fill(0)`` for a dense vector).
    """
    a, b = F.col(src), F.col(dst)
    # the edge list fans out into THREE join branches; without an eager
    # checkpoint the (possibly expensive) upstream — minhash banding +
    # verification for near-dup graphs — re-derives per branch wherever
    # exchange reuse can't cover it (the pagerank/CC lesson, measured
    # 3.2 -> 2.0 s on the entry at sf0.1)
    pairs = pairs.select(a.alias(src), b.alias(dst)).localCheckpoint()
    a, b = F.col(src), F.col(dst)
    e1 = pairs.select(a.alias("a"), b.alias("b"))
    e2 = pairs.select(a.alias("b2"), b.alias("c"))
    e3 = pairs.select(a.alias("a3"), b.alias("c3"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    tris = wedges.join(
        e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
    ).select("a", "b", "c")
    exploded = tris.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(id_out)
    )
    return exploded.groupBy(id_out).agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )


def triangle_count_sql(pairs_sql: str, id_out: str = "id") -> str:
    """DuckDB mirror of :func:`triangle_count` over a pairs subquery
    (``id_a < id_b`` canonical)."""
    return f"""
        WITH pairs AS ({pairs_sql}),
        tri AS (
          SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
          FROM pairs p1
          JOIN pairs p2 ON p2.id_a = p1.id_b
          JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
        ),
        nodes AS (
          SELECT a AS {id_out} FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri
        )
        SELECT {id_out}, count(*)::BIGINT AS n_tri
        FROM nodes GROUP BY {id_out}"""
