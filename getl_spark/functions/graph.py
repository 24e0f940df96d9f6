"""Distributed connected components — the pairs→clusters step of dedup.

Candidate-pair generators (``dedup.ngram_jaccard``, ``dedup.minhash_lsh``,
``dedup.simhash_pairs``, ``dedup.embedding_cosine_pairs``) emit edges;
training-data dedup then needs each document's *cluster* so exactly one
canonical doc per near-duplicate group survives. This module closes that
gap with the alternating large-star / small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
literature), which converges in O(log n) rounds of pure DataFrame
joins/aggregations — no driver-side graph state, so it scales to
edge sets that never fit on one machine.

Why not plain min-label propagation: its round count is the graph
*diameter* (a 1M-node chain needs 1M rounds); large-star/small-star
contracts paths geometrically, so even adversarial chains finish in
~log₂(n) rounds. Each round is two shuffles on node id; intermediate
edge sets are pinned (``common.scale.pin``) to truncate lineage (an
iterative plan otherwise grows exponentially and breaks codegen).

YAML-callable as ``graph.cluster_components`` inside
``transform::generic``.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

from getl_spark.common.scale import pin, local_df


def _signature(edges: DataFrame) -> tuple:
    """Cheap order-insensitive fingerprint of an edge set: (count,
    xor of per-edge hashes — xor can't overflow under ANSI mode, and
    the edge set is distinct so cancellation needs a real collision).
    Two driver scalars — safe at any scale."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("u", "v")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _driver_union_find(
    rows, e: DataFrame, node_col: str, out_col: str
) -> DataFrame:
    """Union-find on the collected edge list ``rows``, component = min
    node id. Only called when the edge count is at most
    ``driver_threshold`` — candidate-pair sets from banded LSH are
    orders of magnitude smaller than the corpus, so in practice this is
    the common path; the collect is bounded by ``limit(threshold+1)``
    before any row reaches the driver."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[rv] = ru
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    rows = [(node, comp_min[find(node)]) for node in parent]
    id_field = e.schema["u"]
    spark = e.sparkSession
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField(node_col, id_field.dataType, True),
            StructField(out_col, id_field.dataType, True),
        ]
    )
    return local_df(spark, rows, schema)


def cluster_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: Optional[DataFrame] = None,
    node_col: str = "doc_id",
    out_col: str = "component",
    max_iter: int = 50,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """(node, component) where component = min node id reachable.

    ``edges`` is an undirected pair list (direction/duplicates are
    normalized away). When ``nodes`` is given, isolated nodes appear as
    singleton components of themselves — pass the full corpus id set so
    every document gets a cluster id.

    Edge sets at or under ``driver_threshold`` (counted before any
    collect — the convergence fingerprint already pays for it) run as a
    single-pass driver union-find: near-dup pair lists are typically
    10³–10⁶ edges even when the corpus is 10¹² rows, and one bounded
    collect beats ~log n iterative shuffle rounds. Larger edge sets run
    the distributed alternating-star loop. Set ``driver_threshold=0``
    to force the distributed path.

    Distributed algorithm per round (node ids are compared as plain
    values, so any orderable id type works):

    * large-star: every node links its *larger* neighbors to the
      minimum of its closed neighborhood.
    * small-star: every node links its *smaller-or-equal* neighbors
      (and itself) to that minimum.

    The fixpoint is a star forest: each non-root points at its
    component's minimum. Convergence is detected by an order-insensitive
    edge-set fingerprint; ``max_iter`` is a guard far above the
    ~log₂(n) rounds the algorithm needs (50 covers n ≈ 2⁵⁰).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(pin)
    )
    if driver_threshold > 0:
        # one bounded job replaces the count: limit(t+1) either proves
        # the set is small enough (and hands us the edges) or overflows
        # into the distributed loop without ever collecting more.
        sample = e.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            comp = _driver_union_find(sample, e, node_col, out_col)
            if nodes is not None:
                all_nodes = nodes.select(F.col(node_col)).distinct()
                comp = all_nodes.join(
                    F.broadcast(comp), node_col, "left"
                ).withColumn(
                    out_col, F.coalesce(F.col(out_col), F.col(node_col))
                )
            return comp.select(node_col, out_col)
    prev_sig = _signature(e)
    for _ in range(max_iter):
        if prev_sig[0] == 0:
            break
        # large-star: over the symmetric view, m(u) = min(N(u) ∪ {u});
        # emit (v, m(u)) for each neighbor v > u.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient edges high→low, m(u) = min of the low side;
        # emit (v, m(u)) for each low neighbor and (u, m(u)) for u itself.
        o = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        smin = o.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            o.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e_new = small.transform(pin)
        sig = _signature(e_new)
        e = e_new
        if sig == prev_sig:
            break
        prev_sig = sig

    comp = e.select(F.col("u").alias(node_col), F.col("v").alias(out_col)).union(
        e.select(F.col("v").alias(node_col), F.col("v").alias(out_col)).distinct()
    )
    if nodes is not None:
        all_nodes = nodes.select(F.col(node_col)).distinct()
        comp = (
            all_nodes.join(comp, node_col, "left")
            .withColumn(out_col, F.coalesce(F.col(out_col), F.col(node_col)))
        )
    return comp.select(node_col, out_col)


def _prep_weighted_edges(
    edges: DataFrame, src: str, dst: str, weight_col: Optional[str]
) -> DataFrame:
    """Shared rank-propagation edge normalization (pagerank +
    personalized_pagerank — their docstrings promise IDENTICAL edge
    handling, so it lives once): NULL endpoints drop; unweighted
    edges dedup to DISTINCT pairs with w=1; weighted duplicates SUM
    and non-positive/NULL weights drop. Pinned — every iteration
    rejoins the frame."""
    if weight_col is None:
        return (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .where(F.col("u").isNotNull() & F.col("v").isNotNull())
            .distinct()
            .withColumn("w", F.lit(1.0))
            .transform(pin)
        )
    return (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .where(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("w") > 0)
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .transform(pin)
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    nodes: Optional[DataFrame] = None,
    node_col: str = "node",
    out_col: str = "rank",
    round_to: Optional[int] = 6,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Standard PageRank over a directed edge list — authority scores
    for crawl-level curation (weight a host/document by who links to
    it, not just by its own content quality).

    Exact semantics (so an independent engine can replicate the values):
    parallel edges are collapsed (``DISTINCT src, dst``; with
    ``weight_col``, duplicates SUM their weights and each out-edge
    carries rank ∝ weight/out-weight — link counts between hosts are
    the canonical weights; non-positive/null weights are dropped);
    the node set
    is ``distinct(src) ∪ distinct(dst)`` plus ``nodes`` when given;
    every rank starts at 1/N; each of the ``n_iter`` synchronous
    iterations computes::

        rank'(v) = (1-d)/N + d * (Σ_{(u,v)∈E} rank(u)/outdeg(u)
                                  + dangling_mass/N)

    where ``dangling_mass`` is the summed rank of nodes with no
    out-edges (their mass is redistributed uniformly, keeping
    Σ rank = 1 every iteration). Fixed iteration count, not a
    convergence test — deterministic output shape for oracle checks;
    10 iterations is within ~1e-3 of the fixpoint for damping 0.85 on
    typical link graphs. The result is rounded to ``round_to`` decimals
    (well above double summation-order noise, so two engines agree
    bit-for-bit on the rounded value; pass ``None`` to skip).

    100 TB shape: ``outdeg`` is computed once (one shuffle on src) and
    attached to the edge frame ONCE (``ew``, pinned) rather than
    re-joined every iteration; the node frame carries a precomputed
    dangling flag so the per-iteration dangling mass is a filter +
    1-row aggregate over the pinned rank frame, not an anti-join.
    Each iteration is then exactly one join of ``ew`` to ranks on src
    plus one partial-agg shuffle on dst — both key-partitioned, no
    driver state; the dangling mass broadcasts via crossJoin; ranks
    are pinned per iteration so the iterative plan's lineage stays
    flat (same discipline as ``cluster_components``). High in-degree
    hubs are safe (the dst aggregation combines map-side); high
    out-degree spam pages cost one fan-out row per edge — identical
    to every published MapReduce/Pregel formulation. The ``ew`` pin
    holds edge-sized blocks for the loop's lifetime — the price of
    removing an edge-sized join AND a node-sized anti-join from every
    iteration (2·n_iter shuffles for one materialization).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = _prep_weighted_edges(edges, src, dst, weight_col)
    node_set = e.select("u").union(e.select("v"))
    if nodes is not None:
        node_set = node_set.union(
            nodes.select(F.col(node_col).alias("u")).where(
                F.col("u").isNotNull()
            )
        )
    outdeg = e.groupBy("u").agg(F.sum("w").alias("deg")).transform(pin)
    # the node frame carries a dangling flag so each iteration's
    # dangling-mass aggregate is a FILTER over the pinned rank frame
    # instead of a node-sized anti-join (r13: one join per iteration
    # removed; outdeg keys are unique, so the flag join keeps row
    # counts exact)
    node_set = (
        node_set.distinct()
        .select(F.col("u").alias("node"))
        .join(
            outdeg.select(F.col("u").alias("node")).withColumn(
                "__out", F.lit(True)
            ),
            "node",
            "left",
        )
        .select("node", F.col("__out").isNull().alias("__dang"))
        .transform(pin)
    )
    n = node_set.count()
    if n == 0:
        return node_set.select(
            F.col("node").alias(node_col), F.lit(0.0).alias(out_col)
        )
    # hoist the per-edge out-degree attach out of the loop: each
    # iteration used to pay an edge-sized e⋈outdeg join; ew pins the
    # (u, v, w, deg) frame once and the loop's only edge-sized work is
    # the contribution join + partial-agg shuffle (r13; the per-row
    # rank*w/deg expression is unchanged, so values are bit-identical)
    ew = pin(e.join(outdeg, "u"))
    ranks = node_set.select("node", "__dang", F.lit(1.0 / n).alias("rank"))
    for _ in range(n_iter):
        dangling = ranks.where(F.col("__dang")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contribs = (
            ew.join(ranks.select("node", "rank"), ew["u"] == F.col("node"))
            .groupBy("v")
            .agg(
                F.sum(F.col("rank") * F.col("w") / F.col("deg")).alias("s")
            )
        )
        new_ranks = (
            node_set.join(contribs, node_set["node"] == contribs["v"], "left")
            # explicit broadcast of the 1-row dangling-mass aggregate:
            # AQE would usually pick BroadcastNestedLoop anyway, but the
            # hint makes the plan shape certain (never a CartesianProduct)
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__dang",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.col("dm") / n)
                ).alias("rank"),
            )
            .transform(pin)
        )
        ranks = new_ranks
    out = ranks.select(F.col("node").alias(node_col), F.col("rank").alias(out_col))
    if round_to is not None:
        out = out.withColumn(out_col, F.round(F.col(out_col), round_to))
    return out


def pagerank_oracle_sql(
    edges_sql: str,
    damping: float = 0.85,
    n_iter: int = 10,
    round_to: int = 6,
    weighted: bool = False,
) -> str:
    """Unrolled-CTE ANSI SQL replicating ``pagerank`` exactly, for
    engines without iteration (the DuckDB oracle harness). ``edges_sql``
    must yield columns ``(src, dst)`` — plus ``w`` when ``weighted``
    (duplicates summed, non-positive dropped, mirroring the DataFrame
    path). Each PageRank iteration becomes one CTE pair (dangling mass
    + next rank vector). Every rank CTE is referenced twice by the
    next level (contribution join + dangling scan), so each is
    declared ``AS MATERIALIZED`` — without the hint DuckDB inlines
    CTEs and evaluation cost doubles per iteration (2^n_iter
    re-expansions of the whole chain)."""
    d = damping
    if weighted:
        edges_cte = (
            f"WITH edges AS MATERIALIZED (SELECT src, dst,"
            f" SUM(CAST(w AS DOUBLE)) AS w FROM ({edges_sql}) raw_e"
            " WHERE src IS NOT NULL AND dst IS NOT NULL AND w > 0"
            " GROUP BY src, dst),"
        )
        deg_cte = (
            "outdeg AS MATERIALIZED"
            " (SELECT src, SUM(w) AS deg FROM edges GROUP BY src),"
        )
        contrib = "SUM(r.rank * e.w / o.deg)"
    else:
        edges_cte = (
            f"WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM"
            f" ({edges_sql}) raw_e"
            " WHERE src IS NOT NULL AND dst IS NOT NULL),"
        )
        deg_cte = (
            "outdeg AS MATERIALIZED"
            " (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),"
        )
        contrib = "SUM(r.rank / o.deg)"
    parts = [
        edges_cte,
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),",
        deg_cte,
        "r0 AS MATERIALIZED"
        " (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm"
            f" FROM r{p} r"
            f" LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),"
        )
        parts.append(
            f"r{k} AS MATERIALIZED"
            f" (SELECT nd.node, {(1.0 - d)!r} / (SELECT n FROM nn)"
            f" + {d!r} * (COALESCE(c.s, 0.0) + (SELECT dm FROM d{k}) /"
            f" (SELECT n FROM nn)) AS rank FROM nodes nd LEFT JOIN ("
            f"SELECT e.dst AS node, {contrib} AS s FROM edges e"
            f" JOIN r{p} r ON e.src = r.node JOIN outdeg o ON e.src = o.src"
            f" GROUP BY e.dst) c ON nd.node = c.node),"
        )
    last = parts.pop().rstrip(",")
    parts.append(last)
    parts.append(
        f"SELECT node, ROUND(rank, {round_to}) AS rank FROM r{n_iter}"
    )
    return "\n".join(parts)


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    nodes: Optional[DataFrame] = None,
    node_col: str = "node",
    round_to: Optional[int] = 6,
    tol: Optional[float] = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list — the crawl-curation complement to :func:`pagerank`: PageRank
    scores WHO is endorsed, HITS separates the two roles a link graph
    mixes — *authorities* (pages good links point TO: the content
    worth keeping) and *hubs* (pages whose outlinks are good: the
    directories/link-lists worth crawling FROM, and at corpus-cleaning
    time the classic signature of link farms and boilerplate link
    pages when hub ≫ auth).

    Exact semantics (engine-replayable): parallel edges collapse
    (DISTINCT); the node set is ``distinct(src) ∪ distinct(dst)``
    plus ``nodes`` when given; hubs start at 1; each of the
    ``n_iter`` synchronous iterations computes

        auth'(v) = Σ_{(u,v)∈E} hub(u)   then L1-normalizes,
        hub'(u)  = Σ_{(u,v)∈E} auth'(v) then L1-normalizes

    (L1, not the textbook L2 — same fixpoint direction, and a plain
    SUM an oracle replays without sqrt ordering concerns; each score
    vector sums to 1). Fixed iteration count by default —
    deterministic output shape. ``tol`` adds a convergence early-exit:
    when the L1 delta between consecutive hub vectors drops below it,
    remaining iterations are skipped (``n_iter`` stays the hard cap).
    The check costs one node-sized join over two already-pinned frames
    plus a 1-row aggregate per iteration — at 100× each SKIPPED
    iteration saves 2 edge-sized shuffles, so it pays for itself the
    moment a graph converges early; leave it ``None`` where the
    bit-exact fixed-iteration output matters (oracle runs).
    ``hits.last_iterations`` records how many iterations the last call
    executed — a SINGLE-THREADED driver-side diagnostic only: it is a
    module-global function attribute, so concurrent ``hits()`` calls
    from multiple driver threads clobber each other's value (read it
    right after a call on the same thread, never from a shared
    scheduler; the returned DataFrame itself is unaffected).
    Nodes without in-edges have
    authority 0; without out-edges, hub 0. Returns ``(node_col, hub,
    auth)`` rounded to ``round_to`` (``None`` skips).

    100 TB shape: per iteration one edges⋈scores join + one
    partial-agg shuffle per direction (both key-partitioned). The
    in-loop score frames are RESTRICTED to the nodes that can carry
    mass — auth lives only on nodes with in-edges, hub only on nodes
    with out-edges; every other node is exactly 0.0 every iteration,
    and the two leading-zero left-joins against the full node set
    that used to run per half-iteration are folded into two final
    output joins instead (r13: at 6 iterations that removes 12
    node-sized joins from the loop with bit-identical output — the
    restricted nodes never match the edge join, so no sum term
    changes). Normalization totals are 1-row aggregates over the
    pinned unnormalized score frame, collected and folded in as
    literals (bounded driver state — iteration control, the k-means
    centroid class): one fewer broadcast exchange per half-iteration,
    and the pin materializes the restricted unnormalized frame —
    in-node-sized for auth, out-node-sized for hub. Locally this
    measures even with the round-12 shape (stage-count-bound at
    sf0.1, ±20% run variance); the removed per-half-iteration
    node-sized joins are the at-scale win. Totals are provably
    positive
    whenever the graph has an edge (hub mass only ever lands on
    nodes with out-edges, auth mass on nodes with in-edges), so no
    division guard can fire mid-loop. Per-iteration pins keep the
    lineage flat.
    """
    if n_iter < 1:
        raise ValueError(f"hits: n_iter must be >= 1, got {n_iter}")
    if tol is not None and tol <= 0:
        raise ValueError(f"hits: tol must be > 0 (or None), got {tol}")
    hits.last_iterations = 0
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .transform(pin)
    )
    node_set = e.select("u").union(e.select("v"))
    if nodes is not None:
        node_set = node_set.union(
            nodes.select(F.col(node_col).alias("u")).where(
                F.col("u").isNotNull()
            )
        )
    node_set = (
        node_set.distinct().select(F.col("u").alias("node")).transform(pin)
    )
    if e.limit(1).count() == 0:
        out = node_set.select(
            F.col("node").alias(node_col),
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("auth"),
        )
        return out
    # Initial hubs ride the full node frame (hub=1 everywhere); from
    # iteration 1 on, score frames are restricted to the nodes the
    # edge joins can actually reach — see the 100 TB note above.
    hubs = node_set.select("node", F.lit(1.0).alias("hub"))
    auths = None
    for it in range(n_iter):
        # unnormalized auth mass per in-node; pinned so the total, the
        # normalization projection, and the next edge join all read one
        # materialized copy (the 1-row total is a bounded collect —
        # iteration control, the k-means centroid class)
        # LAZY pin folded into the total's action (r14): the 1-row
        # total aggregate is the job that materializes the checkpoint
        # blocks, so each half-iteration schedules ONE job instead of
        # two (pin-eager count + separate total agg). Values are
        # unchanged — the total is computed from the same deterministic
        # join+agg lineage the checkpoint stores.
        auth_un = pin(
            e.join(hubs, e["u"] == hubs["node"])
            .groupBy("v")
            .agg(F.sum("hub").alias("s")),
            eager=False,
        )
        tot_a = auth_un.agg(F.sum("s").alias("tot")).collect()[0]["tot"]
        new_auths = auth_un.select(
            F.col("v").alias("node"), (F.col("s") / F.lit(tot_a)).alias("auth")
        )
        auths = new_auths
        hub_un = pin(
            e.join(auths, e["v"] == auths["node"])
            .groupBy("u")
            .agg(F.sum("auth").alias("s")),
            eager=False,
        )
        tot_h = hub_un.agg(F.sum("s").alias("tot")).collect()[0]["tot"]
        new_hubs = hub_un.select(
            F.col("u").alias("node"), (F.col("s") / F.lit(tot_h)).alias("hub")
        )
        hits.last_iterations = it + 1
        converged = False
        if tol is not None and it > 0:
            # both frames are thin projections over pins, so the delta
            # probe is a cached out-node-sized join + a 1-row aggregate
            # (bounded collect — iteration control, same class as
            # k-means' centroid step)
            delta = (
                new_hubs.join(
                    hubs.select("node", F.col("hub").alias("__old")),
                    "node",
                )
                .agg(F.sum(F.abs(F.col("hub") - F.col("__old"))).alias("d"))
                .collect()[0]["d"]
            )
            converged = delta is not None and delta < tol
        hubs = new_hubs
        if converged:
            break
    # fold the leading zeros back in exactly once: nodes without
    # out-edges have hub 0, without in-edges auth 0 — the two joins the
    # loop used to pay per half-iteration
    out = (
        node_set.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        )
    )
    if round_to is not None:
        out = out.withColumn("hub", F.round("hub", round_to)).withColumn(
            "auth", F.round("auth", round_to)
        )
    return out


def hits_oracle_sql(
    edges_sql: str,
    n_iter: int = 10,
    round_to: int = 6,
) -> str:
    """Unrolled-CTE ANSI SQL replicating :func:`hits` exactly (same
    conventions as :func:`pagerank_oracle_sql`: ``edges_sql`` yields
    ``(src, dst)``, every per-iteration CTE is ``AS MATERIALIZED`` so
    DuckDB does not re-expand the chain exponentially)."""
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM"
        f" ({edges_sql}) raw_e"
        " WHERE src IS NOT NULL AND dst IS NOT NULL),",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes),",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(
            f"au{k} AS MATERIALIZED (SELECT e.dst AS node, SUM(h.hub) AS s"
            f" FROM edges e JOIN h{p} h ON e.src = h.node GROUP BY e.dst),"
        )
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT nd.node,"
            f" COALESCE(au.s, 0.0) / (SELECT SUM(s) FROM au{k}) AS auth"
            f" FROM nodes nd LEFT JOIN au{k} au ON nd.node = au.node),"
        )
        parts.append(
            f"hu{k} AS MATERIALIZED (SELECT e.src AS node, SUM(a.auth) AS s"
            f" FROM edges e JOIN a{k} a ON e.dst = a.node GROUP BY e.src),"
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT nd.node,"
            f" COALESCE(hu.s, 0.0) / (SELECT SUM(s) FROM hu{k}) AS hub"
            f" FROM nodes nd LEFT JOIN hu{k} hu ON nd.node = hu.node),"
        )
    last = parts.pop().rstrip(",")
    parts.append(last)
    parts.append(
        f"SELECT h.node, ROUND(h.hub, {round_to}) AS hub,"
        f" ROUND(a.auth, {round_to}) AS auth"
        f" FROM h{n_iter} h JOIN a{n_iter} a ON h.node = a.node"
    )
    return "\n".join(parts)


def cooccurrence(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_count: int = 2,
    max_group_size: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Item co-occurrence with PMI over grouped observations — the
    market-basket / co-click / co-citation primitive (parts bought in
    the same order, hosts visited in the same session, tags on the
    same document): for every unordered item pair, in how many groups
    do both appear, and is that MORE than their popularities predict
    (PMI > 0) or just two frequent items colliding (PMI ≈ 0 — raw
    counts always rank frequent×frequent first; PMI is the fix).
    ``text.collocations`` is this operator specialized to adjacent
    word pairs; this one takes any (group, item) table.

    Semantics: presence-based (duplicate (group, item) rows collapse);
    groups larger than ``max_group_size`` are EXCLUDED entirely
    (documented standard practice — a bot session touching every item
    contributes C(k,2) junk pairs and no signal; the cap bounds the
    quadratic blowup deterministically). Pairs order as
    ``item_a < item_b``. Returns pairs with ``n_pairs >=
    min_count``: ``(item_a, item_b, n_pairs, n_a, n_b, pmi, npmi)``
    where ``pmi = ln(n_ab·N / (n_a·n_b))`` over the N kept groups and
    ``npmi`` normalizes to [−1, 1] (1 = the pair only ever appears
    together; 1.0 exactly when ``n_ab = N`` by convention).

    Scale shape: one distinct + one windowed size filter (both keyed
    on group), ONE grouped sorted-array shuffle, pair generation as
    JVM array functions (bounded C(cap, 2) per group), one keyed
    count per pair, item counts joined back on the pair keys (plain
    hash joins — the item table is data-sized, not broadcast), and a
    1-row N broadcast. No self-join of the raw table — the oracle
    replays THAT formulation, which is exactly what this plan avoids
    at 100 TB.
    """
    if min_count < 1:
        raise ValueError(f"cooccurrence: min_count must be >= 1")
    if max_group_size < 2:
        raise ValueError(
            f"cooccurrence: max_group_size must be >= 2, got "
            f"{max_group_size}"
        )
    base = (
        df.select(
            F.col(group_col).alias("__g"), F.col(item_col).alias("__i")
        )
        .where(F.col("__g").isNotNull() & F.col("__i").isNotNull())
        .distinct()
    )
    sized = base.withColumn(
        "__sz", F.count("*").over(Window.partitionBy("__g"))
    ).where(F.col("__sz") <= max_group_size).drop("__sz")
    sized = sized.transform(pin, eager=False)
    n_groups = sized.agg(
        F.countDistinct("__g").cast("bigint").alias("__n")
    )
    item_counts = sized.groupBy("__i").agg(
        F.count("*").cast("bigint").alias("__ni")
    )
    arrs = sized.groupBy("__g").agg(
        F.array_sort(F.collect_list("__i")).alias("__items")
    )
    items = F.col("__items")
    pairs = arrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    items,
                    lambda x, i: F.transform(
                        F.slice(
                            items, i + 2,
                            F.greatest(F.size(items) - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    )
    counted = (
        pairs.groupBy(F.col("p.a").alias("item_a"), F.col("p.b").alias("item_b"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .where(F.col("n_pairs") >= min_count)
    )
    out = (
        counted.join(
            item_counts.select(
                F.col("__i").alias("item_a"), F.col("__ni").alias("n_a")
            ),
            "item_a",
        )
        .join(
            item_counts.select(
                F.col("__i").alias("item_b"), F.col("__ni").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_groups))
    )
    nab = F.col("n_pairs").cast("double")
    nn = F.col("__n").cast("double")
    pmi = F.log(
        nab * nn / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    npmi = F.when(F.col("n_pairs") == F.col("__n"), F.lit(1.0)).otherwise(
        pmi / -F.log(nab / nn)
    )
    return out.select(
        "item_a", "item_b", "n_pairs", "n_a", "n_b",
        F.round(pmi, round_to).alias("pmi"),
        F.round(npmi, round_to).alias("npmi"),
    )


def dedup_by_component(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    keep: str = "min",
    quality_col: "Optional[str]" = None,
) -> DataFrame:
    """Keep one canonical row per near-duplicate cluster.

    Composes ``cluster_components`` with a semi-join back onto the
    corpus. Winner per cluster: the minimum id (``keep='min'``,
    deterministic) — or, with ``quality_col``, the row with the MAX
    value of that corpus column (id as tiebreak), so dedup keeps the
    BEST duplicate (longest / highest quality score / newest crawl)
    instead of an arbitrary-by-id one. Rows in no pair survive
    untouched. The corpus-side joins are on id — broadcastable when
    the pair set is small relative to the corpus, one shuffle
    otherwise; the quality path adds one per-cluster max window over
    only the CLUSTERED rows, never the whole corpus.
    """
    if keep != "min":
        raise ValueError("only keep='min' is supported (deterministic winner)")
    comp = cluster_components(pairs, src=src, dst=dst, node_col=id_col)
    if quality_col is None:
        losers = comp.where(F.col(id_col) != F.col("component")).select(id_col)
        return df.join(losers, id_col, "left_anti")
    # one quality value per id (max) BEFORE ranking: a corpus with
    # several rows per id would otherwise rank the same id twice and
    # the rn!=1 copy would anti-join away the winner itself
    quality = (
        df.select(F.col(id_col), F.col(quality_col).alias("__q"))
        .groupBy(id_col)
        .agg(F.max("__q").alias("__q"))
    )
    clustered = comp.join(quality, id_col)
    w = Window.partitionBy("component").orderBy(
        F.col("__q").desc_nulls_last(), F.col(id_col).asc()
    )
    losers = (
        clustered.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") != 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def degree_stats(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Degree distribution of an undirected pair graph — the early
    warning for near-dup cluster explosion: a healthy dedup candidate
    graph is near-degree-1 (pairs and small chains), while a template
    page or boilerplate block shows up as a hub with thousands of
    neighbors LONG before ``cluster_components`` materializes the
    mega-component. Returns one row per observed degree
    ``(degree, n_nodes)`` — plot it log-log, alert on the tail.

    Semantics: degree = number of DISTINCT neighbors in either
    direction; duplicate and reversed edge rows collapse, self-loops
    are ignored. Shape: one distinct over canonicalized pairs, one
    per-node count, one count-of-counts — all keyed partial aggs,
    nothing driver-side.
    """
    a, b = F.col(src), F.col(dst)
    undirected = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(
            F.least(a, b).alias("__u"), F.greatest(a, b).alias("__v")
        )
        .distinct()
    )
    nodes = undirected.select(F.col("__u").alias("__n")).unionAll(
        undirected.select(F.col("__v").alias("__n"))
    )
    degrees = nodes.groupBy("__n").agg(
        F.count("*").cast("bigint").alias("__deg")
    )
    return (
        degrees.groupBy(F.col("__deg").alias("degree"))
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    max_iter: int = 100,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel every node
    with degree < k until the rest sustain each other. On near-dup /
    link graphs this is the DENSE-CLUSTER detector the pairwise ops
    can't give: a spam farm or template mill shows up as a subgraph
    where everything connects to everything (survives a high k), while
    organic near-dup pairs and hub-and-spoke boilerplate (star
    centers!) peel away — `degree_stats` says "something is
    exploding", k-core says WHICH nodes form the self-sustaining
    clump. Returns ``(node_col, core_degree)`` for surviving nodes
    only, with the degree measured INSIDE the core (a clique member's
    spokes to peeled leaves don't count) — empty output means no
    k-core exists.

    Edge sets at or under ``driver_threshold`` (candidate-pair lists
    are typically ≪ corpus) peel on the driver in one bounded collect
    — exact, loop-free, immune to the slow-peel adversary. Larger
    sets run the distributed loop: per round, one symmetric-view
    degree aggregate and two anti-joins dropping sub-k nodes' edges
    (each round pinned — the cluster_components lineage rule). Round
    count is bounded by peel depth, not diameter; ``max_iter`` guards
    the adversarial long-chain case LOUDLY (a silent partial peel
    would overstate the core), and the error says what to raise.

    Direction and duplicate edges are normalized away; self-loops are
    dropped (a self-edge is not evidence of a cluster).
    """
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .transform(pin)
    )
    if driver_threshold > 0:
        sample = e.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            from collections import defaultdict

            adj: dict = defaultdict(set)
            for row in sample:
                adj[row["u"]].add(row["v"])
                adj[row["v"]].add(row["u"])
            queue = [n for n, nb in adj.items() if len(nb) < k]
            while queue:
                n = queue.pop()
                if n not in adj:
                    continue
                for m in adj.pop(n):
                    nb = adj.get(m)
                    if nb is not None:
                        nb.discard(n)
                        if len(nb) < k:
                            queue.append(m)
            rows = [(n, len(nb)) for n, nb in adj.items()]
            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            schema = StructType(
                [
                    StructField(node_col, e.schema["u"].dataType, True),
                    StructField("core_degree", LongType(), True),
                ]
            )
            return local_df(e.sparkSession, rows, schema)
    for _ in range(max_iter):
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("__d"))
        bad = deg.where(F.col("__d") < k).select("u").transform(pin)
        if not bad.limit(1).collect():
            return deg.select(
                F.col("u").alias(node_col),
                F.col("__d").alias("core_degree"),
            )
        e_new = (
            e.join(bad, "u", "left_anti")
            .join(bad.select(F.col("u").alias("v")), "v", "left_anti")
            # the USING-column join moves "v" first; the union above is
            # POSITIONAL, so restore (u, v) order explicitly
            .select("u", "v")
            .transform(pin)
        )
        e = e_new
    raise RuntimeError(
        f"k_core: did not stabilize within max_iter={max_iter} rounds "
        "(each round peels at least one node, so this is a very deep "
        "peel, e.g. a long chain); raise max_iter, or lower "
        "driver_threshold=0 only if the edge set truly cannot collect"
    )


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient —
    the standard crawl-graph spam signal: link farms are near-cliques
    (coefficient → 1 at high degree), organic hub pages have many
    neighbors that do NOT know each other (coefficient → 0). Feed the
    host graph from ``text.extract_links`` and gate on
    ``(degree, clustering_coeff)`` jointly.

    Returns one row per node that has at least one edge:
    ``(node, degree, triangles, clustering_coeff)`` where ``degree``
    counts distinct neighbors, ``triangles`` counts unordered triangles
    through the node, and ``clustering_coeff`` =
    ``2·triangles / (degree·(degree−1))`` (NULL when degree < 2 —
    undefined, not zero).

    Semantics: the graph is undirected; duplicate / reversed edge rows
    collapse and self-loops drop (same canonicalization as
    ``degree_stats``). Scale shape — the classic MapReduce triangle
    scheme (Suri & Vassilvitskii, "Counting Triangles and the Curse of
    the Last Reducer", WWW'11 — public literature): orient every edge
    from the (degree, id)-smaller endpoint to the larger, self-join
    the oriented list on the source to build wedges (the orientation
    bounds per-node fan-out by O(√m), so a celebrity hub cannot
    produce a degree² wedge blow-up), then one equi-join of wedges
    against the oriented edge set closes them. Two shuffles on node
    keys + one distributed count — no driver state, no crossJoin.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    # pinned: und feeds the degree aggregate AND both orientation
    # joins, deg feeds both orientation sides AND the final readout
    # join — without the pins each reference re-runs the full
    # distinct/aggregate over the input (r13 A/B: pins+probe-side
    # union 3.0 s, union alone 4.7 s, neither 5.7 s at sf0.1; in
    # adamic_adar the same pins measured SLOWER — here deg is read 3×
    # and und 3×, there the probe collect already forces deg once)
    und = pin(und)
    sym = und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = pin(sym.groupBy("u").agg(F.count("*").cast("bigint").alias("deg")))

    # orient each edge toward the (degree, id)-larger endpoint
    du = deg.select(F.col("u").alias("__n"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("u").alias("__n"), F.col("deg").alias("__dv"))
    ranked = (
        und.join(du, und["u"] == du["__n"]).drop("__n")
        .join(dv, und["v"] == dv["__n"]).drop("__n")
    )
    fwd = F.col("__du") < F.col("__dv")
    tie = (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    oriented = pin(
        ranked.select(
            F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
    )

    # wedges lo→(hi1, hi2): both endpoints outrank lo, hi1 "before"
    # hi2 in the same orientation order, so each triangle is built
    # exactly once (at its lowest-rank corner)
    e1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("x"))
    e2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("y"))
    wedges = e1.join(e2, "w").where(F.col("x") < F.col("y"))
    # orientation between x and y is degree-dependent: the closing
    # edge may be stored as (x, y) or (y, x), so probe BOTH storages
    # in one join — union on the (pinned, cheap) edge side, not the
    # wedge side: join distributes over unionAll exactly, and the
    # expensive wedge self-join then evaluates once instead of twice
    closing = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("y")
    ).unionAll(
        oriented.select(F.col("hi").alias("x"), F.col("lo").alias("y"))
    )
    closed = wedges.join(closing, ["x", "y"])
    per_node = (
        closed.select(F.explode(F.array("w", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    out = (
        deg.select(F.col("u").alias("node"), "deg")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias(
                "triangles"
            ),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce(F.col("triangles"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                    9,
                ),
            ).alias("clustering_coeff"),
        )
    )
    # `oriented` stays pinned: the returned lazy plan reads it three
    # times (both wedge legs + the closing-edge probe); its blocks are
    # freed by the ContextCleaner once the result is dereferenced
    return out


def label_propagation(
    edges: DataFrame,
    max_iter: int = 5,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, public
    literature) — community detection on the crawl/host graph, the
    coarser cousin of ``cluster_components``: components answer "is
    there ANY path", communities answer "where is the density", which
    is what mirror-site and content-farm grouping actually needs.

    Deterministic variant: every node starts labeled with its own id;
    each round every node adopts the label that is most frequent among
    its neighbors, breaking frequency ties toward the SMALLEST label
    (plain LPA breaks ties randomly — useless for an oracle-checked
    engine). All nodes update simultaneously (synchronous), for exactly
    ``max_iter`` rounds — a fixed round count rather than a convergence
    probe, because synchronous LPA can oscillate on bipartite
    structures (two-coloring flip), so "stable" is not a well-defined
    stopping rule; k rounds of keyed aggregation is. Returns
    ``(node, label)``. Node ids must be NUMERIC (labels are node ids
    and the struct-max tie-break negates them) — string ids fail at
    analysis time; hash them to longs first (``xxhash64``).

    Scale shape: per round, one join (labels onto the symmetrized edge
    list, key = neighbor id) and one two-level aggregation
    (node×label count → per-node argmax via a (count, −label) max
    struct) — two keyed shuffles per round, shuffle width ∝ |E|.
    Iterations pin (``common.scale.pin``) to truncate lineage.
    """
    if max_iter < 1:
        raise ValueError("label_propagation: max_iter must be >= 1")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    sym = pin(
        und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    labels = pin(
        sym.select(F.col("u").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(max_iter):
        neigh = sym.join(
            labels.select(
                F.col("node").alias("v"), F.col("label").alias("__nl")
            ),
            "v",
        )
        counted = neigh.groupBy("u", "__nl").agg(F.count("*").alias("__c"))
        # argmax by (count, -label): highest count wins, ties toward
        # the smallest label — one struct-max, no window sort
        best = counted.groupBy("u").agg(
            F.max(F.struct(F.col("__c"), (-F.col("__nl")).alias("__neg")))
            .alias("__best")
        )
        new_labels = pin(
            best.select(
                F.col("u").alias("node"),
                (-F.col("__best.__neg")).alias("label"),
            )
        )
        labels = new_labels
    return labels.select("node", "label")


def adamic_adar(
    edges: DataFrame,
    pairs: Optional[DataFrame] = None,
    src: str = "id_a",
    dst: str = "id_b",
    max_degree: int = 10_000,
) -> DataFrame:
    """Adamic-Adar link-prediction score — "are these two nodes
    actually related?" from shared neighborhoods, weighting each
    common neighbor w by ``1/ln(deg(w))`` so a promiscuous hub
    (every site links the CDN) certifies nothing while a selective
    mutual contact certifies a lot (Adamic & Adar, "Friends and
    neighbors on the Web", 2003 — public literature). On a crawl
    graph this separates genuinely-affiliated host pairs (mirrors,
    sister sites) from pairs that merely share universal
    infrastructure — the edge-strength signal ``cluster_components``
    (any path) and ``label_propagation`` (density) don't give.

    With ``pairs`` (columns ``src``/``dst``): scores exactly those
    candidate pairs — the cheap path, e.g. re-scoring
    ``dedup.minhash_lsh`` URL-graph candidates. Without: scores EVERY
    2-hop pair, the classic wedge enumeration — each neighbor w emits
    its C(deg,2) neighbor pairs, so the ``max_degree`` probe fails
    loudly when any node exceeds it (one 10⁶-degree hub = 10¹² wedge
    rows; cap it, or pre-filter hubs — at that degree the AA weight
    ``1/ln(10⁶)≈0.07`` contributes almost nothing anyway, which is
    the principled reason dropping hubs is standard practice).

    Returns ``(node_a, node_b, common_neighbors, aa_score)``,
    canonical ``node_a < node_b``, one row per scored pair with ≥ 1
    common neighbor. Degree-1 common neighbors contribute weight
    ``1/ln(deg)`` only when deg ≥ 2 (``ln(1)=0`` would divide by
    zero; a degree-1 node cannot be a COMMON neighbor anyway, so the
    case is structurally impossible — kept as a guard, not a rule).

    Scale shape: symmetrize + degree aggregate (one keyed shuffle),
    then either (a) pairs mode — two equi-joins of the candidate list
    onto the adjacency (shuffle ∝ candidates × avg-degree, grouped
    back per pair), or (b) full mode — one self-join of the adjacency
    on the shared neighbor key, degree-probe-bounded. No driver
    state; ln-weights are scan-side.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.where(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .distinct()
    )
    # Deliberately UNPINNED. und feeds the weight aggregate and both
    # adjacency probes, and the plan evaluates the edge derivation +
    # distinct six times (12 lineitem scans on the bench query) — yet
    # pinning measures SLOWER twice over: r13 (und+deg pins) and r14
    # (und pin alone, 4.2 s → 6.2 s min-of-4): the pin serializes the
    # whole derivation into one up-front job while the unpinned
    # branches evaluate as parallel stages of one job, and the
    # redundant evaluations are cheap column-pruned scans. At 100 TB
    # the trade may flip — revisit with a real cluster measurement,
    # not by assuming the scan count wins.
    sym = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("deg"))
    # weight of node w AS a common neighbor
    wt = deg.select(
        F.col("u").alias("w"),
        F.when(F.col("deg") >= 2, 1.0 / F.log(F.col("deg").cast("double")))
        .alias("wgt"),
    )
    adj = sym.select(F.col("u").alias("n"), F.col("v").alias("w"))
    if pairs is not None:
        cand = (
            pairs.where(F.col(src).isNotNull() & F.col(dst).isNotNull()
                        & (F.col(src) != F.col(dst)))
            .select(
                F.least(F.col(src), F.col(dst)).alias("pa"),
                F.greatest(F.col(src), F.col(dst)).alias("pb"),
            )
            .distinct()
        )
        la = cand.join(
            adj.select(F.col("n").alias("pa"), "w"), "pa"
        )
        both = la.join(
            adj.select(F.col("n").alias("pb"), "w"), ["pb", "w"]
        )
    else:
        big = (
            deg.where(F.col("deg") > max_degree).limit(1).collect()
        )
        if big:
            raise ValueError(
                f"adamic_adar: a node has degree {big[0]['deg']} "
                f"(max_degree={max_degree}) — full 2-hop enumeration "
                "emits C(deg,2) pairs per neighbor node. Score an "
                "explicit candidate `pairs` frame instead, pre-filter "
                "hub nodes, or raise max_degree deliberately."
            )
        e1 = adj.select(F.col("w"), F.col("n").alias("pa"))
        e2 = adj.select(F.col("w"), F.col("n").alias("pb"))
        both = e1.join(e2, "w").where(F.col("pa") < F.col("pb"))
    scored = (
        both.join(wt, "w")
        .groupBy("pa", "pb")
        .agg(
            F.count("*").cast("bigint").alias("common_neighbors"),
            F.round(F.sum("wgt"), 6).alias("aa_score"),
        )
    )
    return scored.select(
        F.col("pa").alias("node_a"),
        F.col("pb").alias("node_b"),
        "common_neighbors",
        "aa_score",
    )


def bfs_distances(
    edges: DataFrame,
    seeds,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 6,
    node_col: str = "node",
    directed: bool = True,
) -> DataFrame:
    """Bounded-hop BFS distance from a SEED SET over an edge list —
    the frontier readout the link-graph curation loop needs: "how far
    is every page from the trusted seed domains?" (crawl-frontier
    prioritization, the distance feature in quality scoring, and
    contamination propagation: hops from a known-bad node). Returns
    ``(node_col, dist)`` for every node REACHED within ``max_hops``
    edges of any seed — minimum edge count, seeds at 0 (a seed absent
    from the edge list still reports 0: membership in the seed set is
    evidence). Unreached nodes produce no row, so the output is the
    reached set. ``directed=False`` follows edges both ways.

    ``seeds`` is a DataFrame with ``node_col`` (the distributed form)
    or a plain Python list of node values. NULL endpoints/seeds are
    dropped; parallel edges collapse (DISTINCT).

    Exact level-synchronous BFS: per hop, one frontier⋈edges keyed
    join + one anti-join against the union of the per-hop LEVEL pins
    (both key-partitioned — pagerank's per-iteration shape with a
    frontier-sized working set instead of the full node vector), and
    an empty-frontier early exit (one 1-row driver probe per hop, the
    hits/k-means iteration-control class). Each level is pinned
    exactly once and stays pinned (the output unions all of them) —
    r13: the previous shape additionally re-materialized a growing
    visited frame every hop, one avoidable pin job + visited-sized
    copy per hop. ``max_hops`` is the hard cap — at 100 TB each hop
    is one edges-sized shuffle, and 6 hops cover any small-world link
    graph's useful signal; raise it consciously.
    """
    if max_hops < 1:
        raise ValueError(f"bfs_distances: max_hops must be >= 1, got {max_hops}")
    spark = edges.sparkSession
    if not isinstance(seeds, DataFrame):
        seed_list = list(seeds)
        if not seed_list:
            raise ValueError("bfs_distances: seeds must be non-empty")
        seeds = local_df(spark,
            [(s,) for s in seed_list],
            f"{node_col} {edges.schema[src].dataType.simpleString()}",
        )
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
    )
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.distinct().transform(pin)
    frontier = (
        seeds.select(F.col(node_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0))
        .transform(pin)
    )
    # the visited set is the union of the per-hop frontier pins — each
    # hop's anti-join reads the pinned levels directly instead of
    # re-materializing a growing visited frame (r13: one pin job +
    # one visited-sized materialization removed per hop; every level
    # is pinned exactly once and stays pinned because the output reads
    # all of them)
    levels = [frontier]
    for hop in range(1, int(max_hops) + 1):
        if frontier.limit(1).count() == 0:
            break
        reached = (
            e.join(frontier.select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        visited_nodes = reduce(
            DataFrame.union, [lv.select("node") for lv in levels]
        )
        frontier = (
            reached.join(visited_nodes, "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .transform(pin)
        )
        levels.append(frontier)
    return reduce(DataFrame.union, levels).select(
        F.col("node").alias(node_col), "dist"
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    node_col: str = "node",
    out_col: str = "ppr",
    round_to: Optional[int] = 6,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Personalized PageRank from a SEED SET — the weighted companion
    to :func:`bfs_distances` for propagating trust or contamination
    over a link/similarity graph (TrustRank-style: Gyöngyi et al.,
    VLDB 2004): where BFS reports raw hop counts, PPR reports how much
    of a random surfer's time lands on each node when every teleport
    returns to the seeds — mass decays with distance AND splits across
    fan-out, so a page two clean hops away scores higher than one
    linked by a thousand spam mirrors.

    Exact semantics (replicable by an independent engine): edge
    handling is :func:`pagerank`'s (DISTINCT pairs; with
    ``weight_col`` duplicates sum and non-positive/null drop); the
    node set is ``distinct(src) ∪ distinct(dst) ∪ seeds`` (a seed
    outside the edge list still holds teleport mass — same evidence
    rule as BFS); the teleport vector is ``t(v) = 1/|seeds|`` on
    seeds, 0 elsewhere; ranks start at ``t`` and each of the
    ``n_iter`` synchronous iterations computes::

        rank'(v) = (1-d)·t(v) + d·(Σ_{(u,v)∈E} rank(u)·w/outw(u)
                                   + dangling_mass·t(v))

    — dangling mass teleports back to the seeds (not uniformly), the
    standard personalized formulation, keeping Σ rank = 1 every
    iteration. Fixed iteration count for oracle determinism (the
    :func:`pagerank` contract). Returns ``(node_col, out_col)`` for
    EVERY node — unreached nodes score 0; filter downstream.
    ``seeds`` is a DataFrame with ``node_col`` or a plain list.

    100 TB shape: identical to :func:`pagerank` (r13 shape) — outdeg
    computed once and attached to the pinned ``ew`` edge frame once,
    per iteration one ``ew``⋈ranks keyed join + one dst-keyed partial
    agg, the dangling mass a filter + 1-row aggregate over the pinned
    rank frame (the node frame carries the dangling flag) broadcast
    via crossJoin, per-iteration pins. The teleport column rides on
    the pinned node frame, so personalization adds ZERO extra shuffles
    over standard PageRank.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    spark = edges.sparkSession
    if not isinstance(seeds, DataFrame):
        seed_list = [s for s in seeds]
        if not seed_list:
            raise ValueError("personalized_pagerank: seeds must be non-empty")
        seeds = local_df(spark,
            [(s,) for s in seed_list],
            f"{node_col} {edges.schema[src].dataType.simpleString()}",
        )
    seed_set = (
        seeds.select(F.col(node_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .transform(pin)
    )
    n_seeds = seed_set.count()
    if n_seeds == 0:
        raise ValueError(
            "personalized_pagerank: seeds must contain at least one "
            "non-NULL node"
        )
    e = _prep_weighted_edges(edges, src, dst, weight_col)
    node_set = (
        e.select("u")
        .union(e.select("v"))
        .union(seed_set.select(F.col("node").alias("u")))
        .distinct()
        .select(F.col("u").alias("node"))
    )
    outdeg = e.groupBy("u").agg(F.sum("w").alias("deg")).transform(pin)
    # teleport column AND dangling flag ride on the node frame: 1/|seeds|
    # on seeds, 0 elsewhere — personalization costs one node-sized join,
    # once; the flag makes each iteration's dangling mass a filter +
    # 1-row aggregate instead of an anti-join (pagerank's r13 shape)
    node_set = (
        node_set.join(
            seed_set.withColumn("__t", F.lit(1.0 / n_seeds)), "node", "left"
        )
        .join(
            outdeg.select(F.col("u").alias("node")).withColumn(
                "__out", F.lit(True)
            ),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce(F.col("__t"), F.lit(0.0)).alias("t"),
            F.col("__out").isNull().alias("__dang"),
        )
        .transform(pin)
    )
    # per-edge out-degree attached once (pagerank's r13 hoist): the
    # loop's only edge-sized work is the contribution join + partial agg
    ew = pin(e.join(outdeg, "u"))
    ranks = node_set.select("node", "t", "__dang", F.col("t").alias("rank"))
    for _ in range(n_iter):
        dangling = ranks.where(F.col("__dang")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contribs = (
            ew.join(ranks.select("node", "rank"), ew["u"] == F.col("node"))
            .groupBy("v")
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("deg")).alias("s"))
        )
        new_ranks = (
            node_set.join(contribs, node_set["node"] == contribs["v"], "left")
            # 1-row dangling-mass aggregate: explicit broadcast keeps
            # the plan a BroadcastNestedLoop on one row, never a
            # CartesianProduct (pagerank's discipline)
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "t",
                "__dang",
                (
                    F.lit(1.0 - damping) * F.col("t")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0.0))
                        + F.col("dm") * F.col("t")
                    )
                ).alias("rank"),
            )
            .transform(pin)
        )
        ranks = new_ranks
    out = ranks.select(
        F.col("node").alias(node_col), F.col("rank").alias(out_col)
    )
    if round_to is not None:
        out = out.withColumn(out_col, F.round(F.col(out_col), round_to))
    return out


def personalized_pagerank_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    damping: float = 0.85,
    n_iter: int = 10,
    round_to: int = 6,
    weighted: bool = False,
    out_col: str = "ppr",
) -> str:
    """Unrolled-CTE ANSI SQL replicating ``personalized_pagerank``
    exactly (the :func:`pagerank_oracle_sql` pattern — one CTE pair
    per iteration, ``AS MATERIALIZED`` because each rank vector is
    referenced twice by the next level). ``edges_sql`` must yield
    ``(src, dst)`` (+ ``w`` when ``weighted``); ``seeds_sql`` must
    yield a ``node`` column."""
    d = damping
    if weighted:
        edges_cte = (
            f"WITH edges AS MATERIALIZED (SELECT src, dst,"
            f" SUM(CAST(w AS DOUBLE)) AS w FROM ({edges_sql}) raw_e"
            " WHERE src IS NOT NULL AND dst IS NOT NULL AND w > 0"
            " GROUP BY src, dst),"
        )
        deg_cte = (
            "outdeg AS MATERIALIZED"
            " (SELECT src, SUM(w) AS deg FROM edges GROUP BY src),"
        )
        contrib = "SUM(r.rank * e.w / o.deg)"
    else:
        edges_cte = (
            f"WITH edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM"
            f" ({edges_sql}) raw_e"
            " WHERE src IS NOT NULL AND dst IS NOT NULL),"
        )
        deg_cte = (
            "outdeg AS MATERIALIZED"
            " (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),"
        )
        contrib = "SUM(r.rank / o.deg)"
    parts = [
        edges_cte,
        "seeds AS MATERIALIZED (SELECT DISTINCT node FROM"
        f" ({seeds_sql}) raw_s WHERE node IS NOT NULL),",
        "ns AS MATERIALIZED (SELECT COUNT(*) AS n FROM seeds),",
        "nodes AS MATERIALIZED (SELECT nd.node,"
        " CASE WHEN s.node IS NULL THEN 0.0"
        " ELSE 1.0 / (SELECT n FROM ns) END AS t FROM"
        " (SELECT src AS node FROM edges UNION SELECT dst FROM edges"
        " UNION SELECT node FROM seeds) nd"
        " LEFT JOIN seeds s ON nd.node = s.node),",
        deg_cte,
        "r0 AS MATERIALIZED (SELECT node, t, t AS rank FROM nodes),",
    ]
    for k in range(1, n_iter + 1):
        p = k - 1
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dm"
            f" FROM r{p} r"
            f" LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),"
        )
        parts.append(
            f"r{k} AS MATERIALIZED"
            f" (SELECT nd.node, nd.t, {(1.0 - d)!r} * nd.t"
            f" + {d!r} * (COALESCE(c.s, 0.0) + (SELECT dm FROM d{k}) * nd.t)"
            f" AS rank FROM nodes nd LEFT JOIN ("
            f"SELECT e.dst AS node, {contrib} AS s FROM edges e"
            f" JOIN r{p} r ON e.src = r.node JOIN outdeg o ON e.src = o.src"
            f" GROUP BY e.dst) c ON nd.node = c.node),"
        )
    last = parts.pop().rstrip(",")
    parts.append(last)
    parts.append(
        f"SELECT node, ROUND(rank, {round_to}) AS {out_col} FROM r{n_iter}"
    )
    return "\n".join(parts)
