"""Graph analytics over edge tables: PageRank.

Companion to the pointer-jumping connected components in
``operators/dedup.py`` (dedup clusters): PageRank weights nodes by link
structure — the domain-authority / source-quality signal a web-scale
training pipeline mixes into sampling weights (quality-weighted
``domain_mix`` / ``weighted_sample``).

Scale shape: each iteration is ONE shuffle — edges join the current rank
vector on ``src`` (both pre-partitioned by the same key, so iterations
re-use the exchange), then a hash aggregate on ``dst``. No adjacency
matrices, no driver-side graph. The rank vector is 2 columns × N nodes;
for billions of nodes set ``checkpoint_each`` so the growing lineage is
truncated per iteration (same lesson as ``connected_components``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from knot_another_pipeline_spark.functions.pins import pin_without_stats

__all__ = [
    "common_neighbor_scores",
    "community_quality",
    "degree_assortativity",
    "deterministic_walks",
    "harmonic_centrality",
    "hits_step",
    "k_core",
    "label_propagation",
    "pagerank",
    "personalized_pagerank",
    "reach_census",
    "reciprocity",
    "triangle_stats",
]


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_each: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Semantics (deterministic, engine-portable — the catalog oracle
    unrolls the same algebra in SQL):

    - duplicate edges are collapsed first (``distinct``) so a repeated
      link doesn't multiply its vote;
    - every iteration: ``rank(v) = (1-d)/N + d · Σ_{u→v} rank(u)/outdeg(u)``;
    - nodes are the union of sources and destinations; initial rank is
      ``1/N``;
    - NO dangling-mass redistribution: a node with no outlinks leaks its
      damped mass (use symmetric edge lists — e.g. both directions of a
      bipartite co-occurrence graph — when total-mass conservation
      matters; then no node dangles by construction).

    Output: node, rank (unrounded double — round at the consumer).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    # Pin the deduped edge list, the node frame, and the degree-tagged
    # edges: the unrolled power iteration references nodes 1+iterations
    # times and contrib_edges once per iteration, so without the pins
    # the final plan re-instantiates the scan+distinct subtrees per
    # reference (28 parquet scans at iterations=3). nodes is pinned
    # EAGERLY because the count() below materializes it anyway; the
    # others pin lazily (no extra job — stages are shared inside the
    # one final action).
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # reads the pinned blocks; N is a plan constant
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_edges = e.join(outdeg, "src").localCheckpoint(
        eager=False
    )  # (src, dst, outdeg)
    base = (1.0 - damping) / n_nodes

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint_each:
            ranks = pin_without_stats(ranks)
    return ranks


def triangle_stats(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected graph — the community-density signal behind link-farm /
    spam detection (authority rings have abnormally high clustering)
    and graph-feature engineering for co-occurrence graphs.

    ``coeff(v) = 2·T(v) / (deg(v)·(deg(v)−1))`` — the fraction of a
    node's neighbor pairs that are themselves connected.

    Algorithm is DEGREE-ORDERED triangle counting (the MapReduce-classic
    Suri/Vassilvitskii shape): edges are canonicalized and deduped, then
    oriented from the ≺-smaller endpoint to the larger under the total
    order ``(degree, node)``. Every triangle has exactly one node with
    two out-edges under this orientation, so wedges are generated by the
    oriented self-join on the apex and closed by ONE more equi-join —
    each triangle found exactly once, no post-dedup. The orientation is
    the scale guarantee: out-degree is bounded by ~√(2m) regardless of
    skew, so a celebrity node with 10⁸ neighbors generates √-bounded
    wedges instead of 10¹⁶. Everything is equi-join + hash aggregate;
    no adjacency matrix, no driver state.

    Output: node, degree, n_triangles, clustering_coeff (rounded 6) for
    every node of the deduped graph (0s included — a node outside any
    triangle still has a defined coefficient).
    """
    # Pins: the canonical edge list feeds the degree aggregate (twice,
    # via the union), the degree join, and the final readout; `oriented`
    # feeds both wedge sides AND the closing semi-join. Without the
    # pins each reference re-instantiates the whole upstream subtree
    # (17 parquet scans in the compiled plan); pinned (lazily — stages
    # are shared inside the one action) each is computed exactly once.
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )
    ed = e.join(
        deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v"
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=False)
    w1 = oriented.select(
        F.col("a"), F.col("b"), F.col("db").alias("kb")
    ).alias("w1")
    w2 = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("db").alias("kc")
    ).alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.a") == F.col("w2.a"))
        & (
            (F.col("w1.kb") < F.col("w2.kc"))
            | (
                (F.col("w1.kb") == F.col("w2.kc"))
                & (F.col("w1.b") < F.col("w2.c"))
            )
        ),
    ).select("w1.a", "w1.b", "w2.c")
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"], "leftsemi")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce("n_triangles", F.lit(0)).cast("double")
                    / (
                        F.col("degree").cast("double")
                        * (F.col("degree") - 1).cast("double")
                    ),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def common_neighbor_scores(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 2,
    max_degree: int | None = None,
    exclude_existing: bool = True,
) -> DataFrame:
    """Link prediction over an undirected graph: for every non-adjacent
    node pair sharing neighbors, the common-neighbor count and the
    neighborhood Jaccard ``cn / (deg_a + deg_b − cn)`` — the classic
    who-should-link signals (entity-resolution candidates over a
    co-occurrence graph, related-item suggestions over co-purchase
    edges).

    Scale shape: pairs are generated ONLY through shared neighbors — the
    wedge self-join on the neighbor id — never an all-pairs product. A
    shared neighbor of degree d contributes d² wedges, so hubs are the
    quadratic risk; ``max_degree`` drops nodes above the cap from the
    *apex* role (they still appear as endpoints), the same
    boilerplate-cap dial as ``ngram_jaccard_pairs``' stop-shingle
    ``max_doc_freq`` — a star hub's neighbors genuinely share little,
    so the recall loss is the benign tail. ``min_common`` filters after
    one hash aggregate on the pair; ``exclude_existing`` removes
    already-connected pairs with a left-anti join (predicting an
    existing link is vacuous).

    Output: node_a ≺ node_b, common_neighbors, degree_a, degree_b,
    jaccard (rounded 6).

    The deduped edge list and the degree table each feed three places in
    the final plan (wedge sides / hub cap / anti-join / both endpoint
    degree lookups); both are ``localCheckpoint``ed so the plan reads
    one materialization instead of re-running the edge distinct per
    reference (measured 2.3× at sf0.1). Both are already reduced —
    ≤|E| and |V| rows — so the pinned blocks are the small end of the
    job, and the same lineage-truncation caveats as
    ``connected_components`` apply.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).alias("degree")
    ).localCheckpoint(eager=False)
    apex = adj
    if max_degree is not None:
        hubs = deg.filter(F.col("degree") > max_degree).select(
            F.col("node").alias("nbr")
        )
        apex = adj.join(F.broadcast(hubs), "nbr", "left_anti")
    if max_degree is not None:
        # Posting-list wedge enumeration (guide §2.3/§2.4): the apex
        # cap bounds each shared-neighbor group at ``max_degree``
        # nodes, so ONE groupBy collects the neighborhood and the
        # C(d, 2) wedges are enumerated row-locally — one shuffle of
        # the apex key instead of the two the wedge self-join paid.
        # Bit-identical pair multiset (same a < b orientation).
        from knot_another_pipeline_spark.functions.postings import (
            sorted_pairs_from_postings,
        )

        posts = apex.groupBy("nbr").agg(
            F.collect_list("node").alias("_nodes")
        )
        wedges = sorted_pairs_from_postings(
            posts, items_col="_nodes", a_col="node_a", b_col="node_b"
        )
    else:
        # Uncapped apex groups are unbounded (a hub's whole
        # neighborhood in one aggregation buffer) — keep the self-join,
        # whose quadratic risk the caller explicitly accepted.
        w1 = apex.select(F.col("nbr"), F.col("node").alias("node_a"))
        w2 = apex.select(F.col("nbr"), F.col("node").alias("node_b"))
        wedges = w1.join(w2, "nbr").filter(
            F.col("node_a") < F.col("node_b")
        )
    pairs = (
        wedges.groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    if exclude_existing:
        pairs = pairs.join(
            e.select(
                F.col("u").alias("node_a"), F.col("v").alias("node_b")
            ),
            ["node_a", "node_b"],
            "left_anti",
        )
    return (
        pairs.join(
            deg.select(
                F.col("node").alias("node_a"),
                F.col("degree").alias("degree_a"),
            ),
            "node_a",
        )
        .join(
            deg.select(
                F.col("node").alias("node_b"),
                F.col("degree").alias("degree_b"),
            ),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            "degree_a",
            "degree_b",
            F.round(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("degree_a") + F.col("degree_b")
                    - F.col("common_neighbors")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def hits_step(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg's hubs & authorities) over a
    directed edge list — the bipartite-flavored counterpart to
    :func:`pagerank`: a node is a good AUTHORITY if good hubs point at
    it and a good hub if it points at good authorities.  On a
    curation graph (pages → cited sources, orders → parts) the
    authority score ranks the pointed-at side by endorsement quality,
    not raw in-degree — ten links from one spammy hub count less than
    ten from ten strong hubs.

    Deterministic power iteration, engine-portable (the oracle unrolls
    the same algebra): duplicate edges collapse first; hubs start at
    1.0; each iteration computes ``auth(v) = Σ_{u→v} hub(u)`` then
    ``hub(u) = Σ_{u→v} auth(v)``, each L2-normalized over the node
    set.  Each half-step is one join + one hash aggregate on the edge
    key it shuffles on — 2 shuffles per iteration, rank vectors are
    2-column frames, no adjacency matrix, no driver-side graph.  The
    normalizer is a 1-row broadcast.

    Output: node, authority, hub (0.0 for nodes missing a role, e.g. a
    pure source has authority 0).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # pin the deduped edge list: every half-step joins it (4 references
    # over 2 iterations), and the L2-norm branches fork the plan — the
    # checkpoint guarantees one materialization instead of relying on
    # exchange reuse across the forks (same lesson as label_propagation)
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("hub")
    )
    auth = None
    for _ in range(iterations):
        # NOT pinned: a localCheckpoint per half-step (lazy or eager)
        # measured ~10% SLOWER at sf0.1 in an interleaved min-of-6 A/B
        # (5.6 → 6.1 s) — the compiled plan doubles per half-step (633
        # operators at iterations=2), but AQE's runtime exchange reuse
        # dedupes the identical subtrees, while a LogicalRDD pin hides
        # size statistics and costs broadcast decisions. At much higher
        # iteration counts, pin per iteration (plan growth is 2^k).
        raw_auth = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("authority"))
        )
        a_norm = raw_auth.agg(
            F.sqrt(F.sum(F.col("authority") * F.col("authority"))).alias("_z")
        )
        auth = raw_auth.crossJoin(F.broadcast(a_norm)).select(
            "node",
            F.when(F.col("_z") > 0, F.col("authority") / F.col("_z"))
            .otherwise(F.lit(0.0))
            .alias("authority"),
        )
        raw_hub = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("hub"))
        )
        h_norm = raw_hub.agg(
            F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("_z")
        )
        hub = raw_hub.crossJoin(F.broadcast(h_norm)).select(
            "node",
            F.when(F.col("_z") > 0, F.col("hub") / F.col("_z"))
            .otherwise(F.lit(0.0))
            .alias("hub"),
        )
    return (
        auth.join(hub, "node", "full_outer")
        .select(
            "node",
            F.round(F.coalesce("authority", F.lit(0.0)), round_to).alias(
                "authority"
            ),
            F.round(F.coalesce("hub", F.lit(0.0)), round_to).alias("hub"),
        )
    )


def k_core(
    edges: DataFrame,
    *,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 8,
) -> DataFrame:
    """``k``-core of an undirected graph: the maximal subgraph where
    every surviving node keeps degree ≥ k — the standard
    dense-community extractor (spam rings, tight co-citation cores,
    boilerplate mirror clusters) that degree thresholds alone can't
    find: a node with 50 low-grade neighbors dies once they do.

    Synchronous peeling, ``max_iter`` bounded so the oracle can unroll
    the identical rounds: each round drops every node whose CURRENT
    degree is below k, then recomputes degrees over edges whose both
    endpoints survive.  Each round is one symmetric-edge aggregate
    (degree) + two semi-joins — all keyed shuffles, per-task work
    bounded by the node's partition; the edge frame shrinks
    monotonically so late rounds are nearly free.  ``converged`` in
    the output records whether a fixpoint was reached within
    ``max_iter`` (the peel is monotone, so an unconverged result is a
    SUPERSET of the true core — callers either raise ``max_iter`` or
    treat it as a prefilter).  Real cores converge in a handful of
    rounds; pathological chains need O(N) — cap and check the flag.

    Self-loops are dropped (a self-edge inflates its node's degree by
    2 under symmetrization and peels wrong).  Output: node, degree,
    converged (same flag every row).  At convergence the degrees are
    exactly the within-core degrees; unconverged, degrees are measured
    over the last peeled edge set (consistent with the superset
    reading).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # canonical undirected edge set, then symmetrize for degree counting
    canon = e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    # Peel loop left in its count()-based form: an observe()-rides-the-
    # checkpoint variant (the connected_components pattern) measured
    # ~8% SLOWER here in an interleaved min-of-6 A/B at sf0.1 — the
    # counts over already-pinned frames are near-free, while
    # CollectMetrics adds per-task overhead to every checkpoint job.
    cur = canon.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        sym = cur.select("a", "b").unionAll(
            cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        deg = sym.groupBy(F.col("a").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("node")
        nxt = (
            cur.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == cur.count():
            cur = nxt
            converged = True
            break
        cur = nxt
    sym = cur.select("a", "b").unionAll(
        cur.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .filter(F.col("degree") >= k)
        .withColumn("converged", F.lit(converged))
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
    iterations: int = 2,
    checkpoint_each: bool = False,
) -> DataFrame:
    """Seeded label propagation (semi-supervised community/category
    spread): a handful of labeled nodes (moderated domains, known-topic
    documents, verified entities) push their labels out over the graph,
    round by round — each unlabeled node adopts the MAJORITY label of
    its already-labeled neighbors.  The cheap classifier a web-scale
    pipeline runs when it has 10³ labels and 10⁹ nodes.

    Deterministic, engine-portable semantics (the catalog oracle
    unrolls the identical rounds in SQL):

    - the graph is undirected: edges are symmetrized and de-duplicated;
      self-loops dropped;
    - seed labels are CLAMPED — a seed never changes its label (the
      min label wins if one node is seeded twice);
    - per round, every currently-unlabeled node with ≥1 labeled
      neighbor takes the label with the highest neighbor count,
      ties broken by smallest label; newly-labeled nodes propagate in
      subsequent rounds;
    - nodes never reached in ``iterations`` rounds are absent from the
      output.

    Scale shape: one shuffle per round — the label frame joins the
    symmetrized edge list on ``src`` (edges pre-partitioned once, the
    exchange is reused every round), then a hash aggregate on
    ``(dst, label)`` and an argmax fold ``min(struct(-count, label))``
    — no window, no second shuffle.  The label frame is 3 columns × N;
    ``checkpoint_each`` truncates its growing lineage for high round
    counts (same lesson as ``pagerank``/``connected_components``).

    Output: node, label, round (0 for seeds, r for round-r adoptions).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # pin the symmetrized edge list once: every round joins it, and
    # without the checkpoint each round re-runs the union+distinct from
    # source (same lesson as global_rank's pinned partitioning)
    sym = (
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labeled = (
        seeds.groupBy(F.col(node_col).alias("node"))
        .agg(F.min(F.col(label_col)).alias("label"))
        .withColumn("round", F.lit(0))
    )
    for r in range(1, iterations + 1):
        votes = (
            sym.join(labeled.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        adopted = (
            votes.join(labeled.select("node"), "node", "left_anti")
            .groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col("label").alias("label"),
                    )
                ).alias("best")
            )
            .select(
                "node", F.col("best.label").alias("label"), F.lit(r).alias("round")
            )
        )
        # Always pin the round's label frame (lazily): it is referenced
        # three times by the NEXT round (vote join, already-labeled
        # anti-join, union), so an unpinned loop compiles to a 3^r-wide
        # plan whose subtrees re-execute. ``checkpoint_each`` remains
        # honored as the (now-redundant) explicit opt-in. The pin drops
        # the size estimate, which the vote join would otherwise
        # multiply every round (``functions/pins.py``).
        labeled = pin_without_stats(labeled.unionByName(adopted))
    return labeled


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    weight_col: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_each: bool = False,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: identical power
    iteration to :func:`pagerank`, except the teleport mass returns to
    a SEED set instead of spreading uniformly —

        rank(v) = (1−d)·s(v) + d · Σ_{u→v} rank(u)/outdeg(u)

    with ``s(v) = w_v / Σw`` over the seed set (uniform ``1/|S|``
    when ``weight_col`` is None), else 0, and initial rank ``s``.  The result ranks every node by proximity to the seeds —
    "domains like these trusted ones" (TrustRank), "documents related
    to this topic cluster" — the seeded-authority signal a crawl
    curator mixes into sampling weights where global PageRank is
    topic-blind.

    Same scale shape as ``pagerank``: one shuffle per iteration (edges
    join the rank vector on ``src``, hash-aggregate on ``dst``), seed
    membership joins once up front as a 0/1 column on the node frame.
    Same dangling-mass caveat: leaked mass shrinks totals but
    preserves the ranking; use symmetric edges when conservation
    matters.  Seeds not present in the edge set still hold teleport
    mass (they appear in the output); an empty seed frame raises.

    Output: node, rank (unrounded double — round at the consumer).
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    # NOT pinned (unlike pagerank): lazy checkpoints on the seed frame
    # and the teleport base measured 55% SLOWER at sf0.1 (2.9 → 4.5 s
    # min-of-5) — the small seed-derived frames lose their size stats
    # behind LogicalRDD and their joins stop planning as broadcasts.
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    wexpr = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    s = (
        seeds.select(F.col(node_col).alias("node"), wexpr.alias("_w"))
        .filter(F.col("_w") > 0)
        .groupBy("node")
        .agg(F.sum("_w").alias("_w"))
    )
    total = s.agg(F.sum("_w").alias("_tw"))
    if (s.limit(1).count()) == 0:
        raise ValueError("seeds must contain at least one node")
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .union(s.select("node"))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_edges = e.join(outdeg, "src")
    based = (
        nodes.join(s, "node", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "node",
            F.coalesce(F.col("_w") / F.col("_tw"), F.lit(0.0)).alias("s"),
        )
    )

    ranks = based.select("node", F.col("s").alias("rank"))
    for _ in range(iterations):
        contribs = (
            contrib_edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        ranks = (
            based.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("s")
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint_each:
            ranks = pin_without_stats(ranks)
    return ranks


def community_quality(
    edges: DataFrame,
    assignment: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
    round_to: int = 6,
) -> DataFrame:
    """Score a community assignment (from :func:`label_propagation`,
    connected components, an external partitioner) with the two
    standard structure metrics — without them "the communities
    computed" is the only evidence:

        modularity term  Q_c = e_c/m − (d_c/2m)²   (Newman; Σ_c = Q,
                         > 0 ⇒ denser than chance)
        conductance      φ_c = cut_c / min(vol_c, 2m − vol_c)
                         (lower = cleaner cut)

    Semantics: the graph is undirected — edges symmetrize and dedup,
    self-loops drop; ``e_c`` counts INTERNAL edges once, ``vol_c`` is
    the sum of member degrees, ``cut_c`` the edges leaving the
    community.  Unassigned endpoints form the ``(none)`` community
    (they ARE part of the cut structure).

    Scale shape: one broadcast-eligible join of the edge list against
    the node→community map per endpoint (the map is nodes-sized — at
    extreme scale pre-bucket both sides on the node key), then every
    metric falls out of ONE hash aggregate on the community key plus
    a 1-row total.  No per-community subgraphs, no N² anything.

    Output per community: community, n_nodes, internal_edges,
    cut_edges, volume, conductance, modularity_term, with the global
    modularity repeated on every row (rounded).
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # NOT pinned: lazy localCheckpoints on amap/tagged/shaped measured
    # ~22% SLOWER at sf0.1 in an interleaved min-of-6 A/B (4.4 → 5.3 s)
    # — the node→community map loses its size statistics behind a
    # LogicalRDD and its two endpoint joins stop planning as
    # broadcasts; AQE's runtime exchange reuse already dedupes the
    # repeated aggregate subtrees.
    amap = assignment.select(
        F.col(node_col).alias("n"),
        F.coalesce(F.col(community_col).cast("string"), F.lit("(none)")).alias(
            "c"
        ),
    ).groupBy("n").agg(F.min("c").alias("c"))
    tagged = (
        e.join(amap.select(F.col("n").alias("u"), F.col("c").alias("cu")), "u", "left")
        .join(amap.select(F.col("n").alias("v"), F.col("c").alias("cv")), "v", "left")
        .select(
            F.coalesce("cu", F.lit("(none)")).alias("cu"),
            F.coalesce("cv", F.lit("(none)")).alias("cv"),
        )
    )
    # ONE aggregate over the endpoint expansion yields every per-
    # community metric (r12 — the former three passes over the tagged
    # join re-instantiated its subtree each time): an internal edge
    # contributes its two same-community endpoint rows, so
    # internal_edges = (non-cut endpoints)/2, and the global edge count
    # is Σ volume / 2, computed from the already-tiny per-community
    # frame instead of a third pass over the edges.
    ends = tagged.select(
        F.explode(
            F.array(
                F.struct(F.col("cu").alias("community"), (F.col("cu") != F.col("cv")).alias("is_cut")),
                F.struct(F.col("cv").alias("community"), (F.col("cu") != F.col("cv")).alias("is_cut")),
            )
        ).alias("x")
    ).select("x.*")
    pervol = ends.groupBy("community").agg(
        F.count(F.lit(1)).alias("volume"),
        F.sum(F.when(F.col("is_cut"), 1).otherwise(0)).alias("cut_edges"),
        (
            F.sum(F.when(F.col("is_cut"), 0).otherwise(1)) / F.lit(2)
        ).cast("bigint").alias("internal_edges"),
    )
    m_row = pervol.agg(
        (F.sum("volume") / F.lit(2)).cast("bigint").alias("m")
    )
    nnodes = amap.groupBy(F.col("c").alias("community")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    joined = (
        pervol.join(nnodes, "community", "left")
        .crossJoin(F.broadcast(m_row))
        .select(
            "community",
            F.coalesce("n_nodes", F.lit(0)).cast("bigint").alias("n_nodes"),
            F.coalesce("internal_edges", F.lit(0))
            .cast("bigint")
            .alias("internal_edges"),
            F.col("cut_edges").cast("bigint").alias("cut_edges"),
            F.col("volume").cast("bigint").alias("volume"),
            "m",
        )
    )
    mm = F.col("m").cast("double")
    vol = F.col("volume").cast("double")
    cond = F.when(
        F.least(vol, 2 * mm - vol) > 0,
        F.col("cut_edges").cast("double") / F.least(vol, 2 * mm - vol),
    ).otherwise(F.lit(0.0))
    qterm = (
        F.col("internal_edges").cast("double") / mm
        - F.pow(vol / (2 * mm), 2)
    )
    shaped = joined.select(
        "community",
        "n_nodes",
        "internal_edges",
        "cut_edges",
        "volume",
        F.round(cond, round_to).alias("conductance"),
        F.round(qterm, round_to).alias("modularity_term"),
        qterm.alias("_q"),
    )
    total = shaped.agg(F.round(F.sum("_q"), round_to).alias("modularity"))
    return shaped.drop("_q").crossJoin(F.broadcast(total))


def deterministic_walks(
    edges: DataFrame,
    *,
    starts: DataFrame,
    steps: int = 3,
    walks_per_start: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
    start_col: str = "node",
) -> DataFrame:
    """Hash-seeded random walks (the node2vec/DeepWalk corpus-generation
    step) made fully deterministic: at step ``t`` the walk at node ``u``
    moves to the neighbor whose dense rank (neighbors sorted by id)
    equals ``hash64(walk_id|t|u) mod outdeg(u)`` — a pure function of
    the walk id, the step, and the node, so the walk corpus is
    bit-reproducible across runs, engines, and partitionings (the
    DuckDB oracle replays the identical md5 arithmetic; same
    determinism-over-randomness rule as ``sampling.hash_sample``).

    Scale shape: the adjacency is ranked ONCE (one shuffle on ``src``
    for the row_number window; degrees fall out of the same pass), then
    every step is two equi-joins keyed on the node id — frontier ⋈
    degree (1:1) to compute the pick index, then frontier ⋈ adjacency
    on the EXACT key ``(src, rank)``.  The two-join form is
    load-bearing at scale: joining on ``src`` alone with a
    ``rank = f(outdeg)`` residual would replicate each frontier row by
    the node's full degree before filtering — a hub with 10^6 neighbors
    would fan a single walk row into 10^6 candidates.  Shuffled bytes
    per step are O(#walks), never O(degree).  Walks that reach a node
    with no outgoing edge terminate (inner join drops them), matching
    the reference semantics of walk truncation at sinks.

    Output: walk_id, step (0 = the start node), node — one row per
    visited position, scalar columns only.
    """
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    if walks_per_start < 1:
        raise ValueError(
            f"walks_per_start must be >= 1, got {walks_per_start}"
        )
    from knot_another_pipeline_spark.functions.hashing import hash64

    # The ranked adjacency is pinned once: the step-t output branch
    # nests t frontier joins, so without materialization the union of
    # step branches re-instantiates the dedup/window subplans per
    # branch (exchange reuse does not survive the per-branch
    # re-planning), turning a steps-long chain into O(steps²) passes
    # over the adjacency.  Checkpointing also gives AQE exact sizes, so
    # the tiny walk frontier broadcasts against the big adjacency
    # instead of shuffling it each step.
    from pyspark.sql import Window

    # ONE pinned pass builds the whole adjacency state (r12): the rank
    # window and the out-degree come from the same src-partitioned
    # window shuffle, and the degree table is the rnk=1 slice of the
    # pinned frame — row-local, no extra aggregate. This replaces the
    # former THREE eager checkpoints (edge dedup, ranked adjacency,
    # degree table = three jobs + an extra groupBy shuffle) with one.
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        edges.select(
            F.col(src_col).alias("src").cast("string"),
            F.col(dst_col).alias("dst").cast("string"),
        )
        .distinct()
        .select(
            "src",
            "dst",
            F.row_number().over(w).alias("rnk"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias(
                "outdeg"
            ),
        )
        .localCheckpoint(eager=True)
    )
    deg = adj.filter(F.col("rnk") == 1).select("src", "outdeg")

    frontier = (
        starts.select(F.col(start_col).alias("node").cast("string"))
        .distinct()
        .select(
            "node",
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_start - 1))
            ).alias("w"),
        )
        .select(
            F.concat(
                F.col("node"), F.lit("#"), F.col("w").cast("string")
            ).alias("walk_id"),
            "node",
        )
    )
    out = frontier.select("walk_id", F.lit(0).alias("step"), "node")
    for t in range(1, steps + 1):
        picked = frontier.join(
            deg.withColumnRenamed("src", "node"), "node"
        ).select(
            "walk_id",
            "node",
            (
                F.pmod(
                    hash64(
                        F.concat(
                            F.col("walk_id"),
                            F.lit("|"),
                            F.lit(str(t)),
                            F.lit("|"),
                            F.col("node"),
                        )
                    ),
                    F.col("outdeg"),
                )
                + 1
            ).alias("pick"),
        )
        # NOT pinned: a lazy localCheckpoint here was measured 74%
        # SLOWER at sf0.1 (3.8 → 6.7 s min-of-5) — hiding the frontier
        # behind a LogicalRDD loses its size statistics, so the next
        # step's joins stop broadcasting the tiny walk frontier against
        # the pinned adjacency and fall back to sort-merge. The
        # duplicated per-branch frontier chains are cheap broadcast
        # joins over the pinned adjacency; re-executing them is the
        # lesser cost.
        frontier = picked.join(
            adj,
            (picked["node"] == adj["src"]) & (picked["pick"] == adj["rnk"]),
        ).select("walk_id", F.col("dst").alias("node"))
        out = out.unionAll(
            frontier.select("walk_id", F.lit(t).alias("step"), "node")
        )
    return out


def reach_census(
    edges: DataFrame,
    *,
    roots: DataFrame,
    hops: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    root_col: str = "node",
) -> DataFrame:
    """Exact bounded-hop neighborhood census: for every root, the number
    of DISTINCT nodes first reached at each hop ≤ ``hops`` (and the
    cumulative total) — the exact small-radius form of the neighborhood
    function behind graph spam/link-farm features and HyperANF-style
    diameter estimates (Boldi et al., HyperANF; this operator is the
    exact variant — swap the distinct-pair frontier for per-root HLL
    registers when ``hops`` must grow past the point where Σ|reach|
    pairs stop fitting a shuffle).

    Frontier iteration with the classic BFS-dedup guard: the hop-``h``
    frontier is ``distinct(frontier_{h-1} ⋈ edges)`` MINUS everything
    already reached (left_anti), so each (root, node) pair shuffles at
    most twice per hop (join + distinct) and the frontier never
    re-expands settled nodes — on a 100 TB edge set the cost is
    Σ_h |frontier_h| join rows, the information-theoretic floor for an
    exact census.  Roots are a caller-chosen subset (census panels are
    sampled in practice); per-hop counts come from the disjoint
    frontiers, so the cumulative total is a cheap row-local sum.

    Output: root, then ``n_hop{h}`` for h = 1..hops (nodes FIRST
    reached at hop h, the root itself never counted), and ``n_reach``
    = Σ_h n_hop{h}.
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    # Pin the edge dedup once — the eager per-hop checkpoints split the
    # loop into separate jobs, so without this every hop re-runs the
    # distinct shuffle from the scan (same fix as harmonic_centrality).
    # The pin is REPARTITIONED BY src AND SORTED within partitions
    # first: localCheckpoint preserves both the partitioning and the
    # ordering, so every hop's frontier⋈edges sort-merge join reads the
    # edge side with ZERO exchange and ZERO sort — one extra exchange
    # at pin time replaces hops× (exchange+sort) of the full edge list
    # (guide §2.4: establish the partitioning once, reuse it each hop).
    # Node ids pass through AS TYPED (guide §2.3 narrow keys: callers
    # supply compact BIGINT encodings and decode after; the former
    # unconditional cast-to-string forced every hop's shuffle onto
    # string keys). Root and edge key types must be join-compatible.
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
        )
        .distinct()
        .repartition("src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    base = (
        roots.select(F.col(root_col).alias("root"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    reached = base.select("root", F.col("root").alias("node"))
    frontier = reached
    hop_counts = []
    for h in range(1, hops + 1):
        expanded = (
            frontier.join(e, frontier["node"] == e["src"])
            .select("root", F.col("dst").alias("node"))
            .distinct()
        )
        frontier = expanded.join(
            reached, ["root", "node"], "left_anti"
        ).localCheckpoint(eager=True)
        reached = reached.unionAll(frontier)
        hop_counts.append(
            frontier.groupBy("root").agg(
                F.count(F.lit(1)).cast("bigint").alias(f"n_hop{h}")
            )
        )
    out = base
    for h, hc in enumerate(hop_counts, start=1):
        out = out.join(hc, "root", "left").withColumn(
            f"n_hop{h}", F.coalesce(F.col(f"n_hop{h}"), F.lit(0)).cast("bigint")
        )
    total = None
    for h in range(1, hops + 1):
        col = F.col(f"n_hop{h}")
        total = col if total is None else total + col
    return out.withColumn("n_reach", total.cast("bigint"))


def degree_assortativity(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation between the degrees at the two ends of every edge —
    positive means hubs link to hubs (social networks), negative means
    hubs link to leaves (the web, citation graphs).  For an LLM data
    pipeline this is the one-number summary of whether a link/citation
    corpus is hub-dominated, which drives how hard PageRank-style
    quality weights (:func:`pagerank`) concentrate.

    ``directed=False`` symmetrizes first (each edge contributes both
    orientations, the standard undirected estimator); ``directed=True``
    correlates out-degree(src) with in-degree(dst) over the edges as
    given.

    Scale shape: two degree aggregates (one shuffle each, partial
    map-side combine), then the degree vectors join back to the edge
    list on its natural keys — src-keyed and dst-keyed exchanges of
    2-column rows — and the correlation collapses from per-edge moment
    sums in ONE 1-row aggregate.  Nothing is ever densified: the cost
    is three shuffles of |E| narrow rows, the same order as one
    PageRank iteration.  The degree sides carry a SHUFFLE_HASH hint:
    once the degree table outgrows the broadcast threshold the default
    sort-merge join would SORT the full edge list twice, which probed
    superlinear at 16× rows — a hash build of |V| degree rows per
    partition is the plan that survives instead (same argument as
    AQE's own SMJ→SHJ rewrite, pinned so it never depends on runtime
    stats).  Self-loops are kept (they carry degree like any edge);
    NULL endpoints are dropped.  Prefer compact numeric node ids:
    every shuffle carries the key.

    Output: one row — n_edges, assortativity (NULL when either end's
    degree variance is zero, e.g. a perfect cycle or a single star).
    """
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    if not directed:
        # Pearson over the symmetrized edge set is computable from the
        # SINGLE orientation: each undirected edge contributes (x, y)
        # and (y, x), so n = 2m, Σx = Σy = Σ(x+y), Σx² = Σy² =
        # Σ(x²+y²), Σxy doubles.  Degrees come from one explode
        # (each endpoint counts once per incidence, self-loops twice —
        # identical to counting over the symmetrized list) — the 2|E|
        # rows hit ONE aggregate but never a join.
        deg = (
            e.select(
                F.explode(F.array(F.col("_s"), F.col("_d"))).alias("_n")
            )
            .groupBy("_n")
            .agg(F.count("*").alias("_deg"))
        )
        out_deg = deg.select(F.col("_n").alias("_s"), F.col("_deg").alias("_sdeg"))
        in_deg = deg.select(F.col("_n").alias("_d"), F.col("_deg").alias("_ddeg"))
        pairs = (
            e.join(out_deg.hint("shuffle_hash"), "_s")
            .join(in_deg.hint("shuffle_hash"), "_d")
            .select(
                F.col("_sdeg").cast("double").alias("x"),
                F.col("_ddeg").cast("double").alias("y"),
            )
        )
        m = pairs.agg(
            (F.count("*") * 2).alias("n"),
            F.sum(F.col("x") + F.col("y")).alias("sx"),
            F.sum(F.col("x") + F.col("y")).alias("sy"),
            F.sum(
                F.col("x") * F.col("x") + F.col("y") * F.col("y")
            ).alias("sxx"),
            F.sum(
                F.col("x") * F.col("x") + F.col("y") * F.col("y")
            ).alias("syy"),
            (F.sum(F.col("x") * F.col("y")) * 2).alias("sxy"),
        )
    else:
        out_deg = e.groupBy("_s").agg(F.count("*").alias("_sdeg"))
        in_deg = e.groupBy("_d").agg(F.count("*").alias("_ddeg"))
        pairs = (
            e.join(out_deg.hint("shuffle_hash"), "_s")
            .join(in_deg.hint("shuffle_hash"), "_d")
            .select(
                F.col("_sdeg").cast("double").alias("x"),
                F.col("_ddeg").cast("double").alias("y"),
            )
        )
        m = pairs.agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    n = F.col("n").cast("double")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return m.select(
        F.col("n").alias("n_edges"),
        F.round(
            F.when(
                (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)
            ),
            6,
        ).alias("assortativity"),
    )


def reciprocity(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity: the fraction of (deduplicated,
    non-loop) directed edges whose reverse edge also exists — the
    follow-back rate in a social graph, the mutual-citation rate in a
    link corpus.  High reciprocity says the graph behaves undirected
    (symmetrize before clustering); low says direction carries signal
    (keep :func:`hits_step`'s hub/authority split).

    Scale shape: distinct-ify the edge list (one shuffle on the full
    edge key — unavoidable, reciprocity is a set property), then a
    LEFT SEMI self-join of the edge list against its own reversal on
    the same (src, dst) key — co-partitioned, so no extra exchange
    beyond the reversal's — and one 1-row count aggregate.  Never
    builds an adjacency structure; peak state is 2×|E| keyed rows.

    Output: one row — n_edges (distinct, loops excluded), n_reciprocal,
    reciprocity (NULL on an empty graph).
    """
    e = (
        edges.select(F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"))
        .filter(
            F.col("_s").isNotNull()
            & F.col("_d").isNotNull()
            & (F.col("_s") != F.col("_d"))
        )
        .distinct()
    )
    rev = e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    mutual = e.join(rev, ["_s", "_d"], "left_semi")
    return (
        e.agg(F.count("*").alias("n_edges"))
        .crossJoin(mutual.agg(F.count("*").alias("n_reciprocal")))
        .select(
            "n_edges",
            "n_reciprocal",
            F.round(
                F.when(
                    F.col("n_edges") > 0,
                    F.col("n_reciprocal").cast("double")
                    / F.col("n_edges").cast("double"),
                ),
                6,
            ).alias("reciprocity"),
        )
    )


def harmonic_centrality(
    edges: DataFrame,
    *,
    roots: DataFrame,
    hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    root_col: str = "node",
    round_to: int = 6,
) -> DataFrame:
    """Bounded-hop harmonic centrality: for every root,
    ``Σ_{v reached, v ≠ root} 1 / dist(root, v)`` with distances
    truncated at ``hops`` — the centrality that stays defined on
    disconnected graphs (unreachable nodes contribute 0, no infinite
    distances to patch, Boldi & Vigna's argument for preferring it to
    closeness).  The k-hop truncation is the standard in-practice
    form: beyond a few hops the 1/d weights are noise, and the exact
    unbounded version is an all-pairs BFS no 100 TB edge set survives.

    Scale shape: the same frontier iteration as :func:`reach_census`
    — hop-h frontier = distinct(frontier ⋈ edges) MINUS reached
    (left_anti), so nodes enter at their MINIMUM distance exactly once
    and each (root, node) pair shuffles at most twice per hop.  The
    harmonic sum folds per hop as ``n_hop_h / h`` — no per-pair
    distance table survives the hop loop.  Roots are a caller-chosen
    panel, the practical form at scale.

    Output per root: root, n_reach (distinct nodes within ``hops``),
    harmonic (0.0 for isolated roots).
    """
    if hops < 1:
        raise ValueError(f"hops must be >= 1, got {hops}")
    # The edge dedup is pinned ONCE: every hop's expansion job would
    # otherwise re-run the full distinct shuffle from the scan (eager
    # frontier checkpoints split the loop into separate jobs, so
    # exchange reuse never spans hops).  Measured at sf0.1 this was
    # most of the operator's latency floor, not the frontier work.
    # As in reach_census, the pin is repartitioned by src and sorted
    # within partitions so each hop's sort-merge join reads the edge
    # side exchange-free and sort-free (guide §2.4).
    # Keys pass through AS TYPED (guide §2.3 narrow keys) — same
    # contract as reach_census above.
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
        )
        .distinct()
        .repartition("src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    base = (
        roots.select(F.col(root_col).alias("root"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    reached = base.select("root", F.col("root").alias("node"))
    frontier = reached
    tagged = []
    for h in range(1, hops + 1):
        expanded = (
            frontier.join(e, frontier["node"] == e["src"])
            .select("root", F.col("dst").alias("node"))
            .distinct()
        )
        frontier = expanded.join(
            reached, ["root", "node"], "left_anti"
        ).localCheckpoint(eager=True)
        reached = reached.unionAll(frontier)
        tagged.append(frontier.select("root", F.lit(h).alias("_hop")))
    # Each (root, node) pair sits in exactly one frontier (its minimum
    # distance), so one union + ONE aggregate folds both outputs —
    # count(*) is n_reach and Σ 1/hop is the harmonic sum.  This
    # replaces the former hops× groupBy + hops× left-join tail (2·hops
    # jobs) with 2 jobs total; at sf0.1 it cut the latency floor ~40%.
    visits = tagged[0]
    for t in tagged[1:]:
        visits = visits.unionAll(t)
    agg = visits.groupBy("root").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_reach"),
        F.sum(F.lit(1.0) / F.col("_hop").cast("double")).alias("_harm"),
    )
    return (
        base.join(agg, "root", "left")
        .select(
            "root",
            F.coalesce(F.col("_n_reach"), F.lit(0)).cast("bigint").alias(
                "n_reach"
            ),
            F.round(F.coalesce(F.col("_harm"), F.lit(0.0)), round_to).alias(
                "harmonic"
            ),
        )
        .orderBy("root")
    )
