"""Iterative graph operators: connected components for near-duplicate
clustering.

`connected_components` is adaptive in the same sense AQE's
broadcast-demotion is — the physical strategy follows the measured
size of the loop operand:

* **Small edge sets** (<= ``local_threshold`` rows after
  symmetrization/dedup — default 500k, a few MB, the same order as the
  autoBroadcastJoinThreshold) finish with a DRIVER union-find: one
  bounded collect of a relation we would happily broadcast anyway,
  then exact path-compressed union by min label in microseconds.  A
  min-label iteration over a duplicate graph with chained near-dups
  runs O(log diameter) Spark rounds at ~0.5 s of fixed scheduling
  latency per round (measured: the sf0.1 semantic-dedup graph needed
  10 rounds = 5.6 s for 720 edges); the local finish replaces all of
  it with one job.  The output contract and values are IDENTICAL
  (tested against the distributed path on the same graphs).
* **Large edge sets** run min-label propagation with pointer doubling:
  each round a node's label becomes the min of its own and its
  neighbors' labels, then labels are compressed through themselves
  (l := l(l)) — O(log n) rounds for chains.  Each round is a few
  shuffles; `localCheckpoint` truncates the growing lineage so round N
  doesn't re-execute rounds 1..N-1.  The symmetrized edge relation is
  persisted PRE-PARTITIONED on the join key, so the per-round
  propagation join shuffles only the (smaller, changing) label side;
  the first propagation is fused into label initialization (one fewer
  round).

This is the engine's "iterative algorithm" surface (driver-side loop
with a convergence check — the one legitimate use of driver control
flow); the local finish is its bounded base case, not a scale
strategy: at 100 TB a billion-edge duplicate graph takes the
distributed branch unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation


def _local_components(rows: list) -> list:
    """Path-compressed union-find, always attaching the larger root
    under the smaller — every tree root ends at its component's min
    label, matching the distributed min-label fixpoint exactly."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(v, find(v)) for v in parent]


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
    stats: dict | None = None,
    local_threshold: int = 500_000,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``edges``;
    cluster_id = min node id of the component.  Pass a dict as
    ``stats`` to get back ``stats["rounds"]`` (distributed rounds run;
    0 for the local finish) and ``stats["mode"]``.  Set
    ``local_threshold=0`` to force the distributed loop."""
    from pyspark import StorageLevel

    # sym is re-joined EVERY iteration — persisting it stops each round
    # from re-running the whole upstream lineage (for near-dup edges,
    # the full minhash/LSH pipeline) under the propagation join.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .repartition("b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one action materializes the persist AND measures the loop
    # operand — the number every strategy decision below keys on
    n_edges = sym.count()
    spark = edges.sparkSession

    if n_edges <= local_threshold:
        # bounded collect (sym holds both directions; a <= b keeps one
        # per pair AND keeps self-loops, whose nodes must still get a
        # label — the distributed path labels them via groupBy("a"))
        rows = [
            (r.a, r.b) for r in sym.filter(F.col("a") <= F.col("b")).collect()
        ]
        sym.unpersist()
        if stats is not None:
            stats["rounds"] = 0
            stats["mode"] = "local"
        # schema follows the input's node type so both paths stay
        # interchangeable for non-long ids
        node_t = edges.schema[src].dataType.simpleString()
        schema = f"node {node_t}, cluster_id {node_t}"
        # Broadcast hint on the result: the labels are <= 2 x
        # local_threshold rows BY CONSTRUCTION of this branch (~16 MB
        # at the 500k default).  The local relation carries exact size
        # statistics, but a consumer that joins the labels back to its
        # corpus (semantic_dedup, leakage-safe split, keep-newest
        # clusters, the curation funnel) sees only the estimate that
        # survives its own projections, measured against a session
        # autoBroadcastJoinThreshold this operator does not set
        # (Spark's 10 MB default is below that bound).  The hint keeps
        # those joins broadcast probes with zero shuffle of the corpus
        # side; the distributed branch below returns an unhinted
        # relation, as a billion-edge label set must never broadcast.
        return F.broadcast(local_relation(spark, _local_components(rows), schema))

    # Fused init: the first min-label propagation costs nothing extra —
    # the node list needs a groupBy("a") anyway, and folding
    # min(neighbor) into that same aggregate replaces a whole loop
    # round (label_0 = min(node, min neighbor) instead of node).
    labels = (
        sym.groupBy("a")
        .agg(F.min("b").alias("_nmin"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("_nmin")).alias("cluster_id"),
        )
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("cluster_id").alias("nmin"))
        )
        propagated = (
            labels.select("node", F.col("cluster_id").alias("old"))
            .join(neighbor_min, "node", "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("old"), F.coalesce(F.col("nmin"), F.col("old"))
                ).alias("cluster_id"),
            )
        )
        # pointer doubling: labels are node ids, so chase one hop
        # (l := label of the node l points at)
        parent = propagated.select(
            F.col("node").alias("cid"), F.col("cluster_id").alias("cc")
        )
        # the changed flag rides the propagation frame itself, so the
        # convergence check below is a trivial agg over the
        # localCheckpoint-ed partitions — no extra join or recompute
        # per round (the old version re-joined old vs new labels, 2
        # extra jobs every iteration).  eager=False: the checkpoint
        # materializes as a side effect of the convergence agg's job,
        # so each round runs ONE action, not a checkpoint job + an agg
        # job (measured ~8% off the loop at local fixture scale; the
        # win scales with per-job scheduling overhead on a shared
        # cluster).
        new_labels = (
            propagated.join(parent, propagated.cluster_id == parent.cid, "left")
            .select(
                "node",
                F.coalesce(F.col("cc"), F.col("cluster_id")).alias("cluster_id"),
                (F.coalesce(F.col("cc"), F.col("cluster_id")) != F.col("old")).alias(
                    "changed"
                ),
            )
            .localCheckpoint(eager=False)
        )
        labels = new_labels.select("node", "cluster_id")
        if new_labels.agg(F.max("changed")).first()[0] is not True:
            break
    sym.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
        stats["mode"] = "distributed"
    return labels.select("node", "cluster_id")


def _local_pagerank(
    erows: list, nrows: list, n_iter: int, damping: int
) -> list:
    """Driver base case: the identical integer recurrence over
    collected edges — bit-equal to the distributed loop (same trunc
    division, same dangling-node leakage), pinned by test."""
    wout: dict = {}
    for src, dst, w in erows:
        wout[src] = wout.get(src, 0) + w
    n = len(nrows)
    r = {v: 1_000_000 // n for v in nrows}
    tp = (1000 - damping) * 1000 // n
    for _ in range(n_iter):
        nxt = {v: tp for v in nrows}
        for src, dst, w in erows:
            # an explicitly-passed nodes universe may omit an edge
            # endpoint; the distributed loop drops those contributions
            # (inner join on src, left join FROM nodes on dst) while
            # W(u) still counts every outgoing edge — mirror both
            if src in r and dst in nxt:
                nxt[dst] += damping * w * r[src] // (1000 * wout[src])
        r = nxt
    return sorted(r.items())


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    n_iter: int = 3,
    damping_permille: int = 850,
    local_threshold: int = 500_000,
    stats: dict | None = None,
) -> DataFrame:
    """Weighted PageRank in EXACT integer arithmetic — the second
    iterative graph operator next to :func:`connected_components`
    (authority scoring over a domain/source graph: which sources'
    content propagates everywhere vs. which are leaf islands).

    ``edges``: directed (src, dst, w) with POSITIVE integer weights;
    ``nodes``: optional (node) universe — defaults to every endpoint,
    pass it explicitly to rank isolated nodes too.  Returns
    (node, rank_micro): ranks in micro-units of one unit of total
    mass, fixed n_iter iterations.

    All arithmetic is int64 with truncating division, so two engines
    produce BIT-IDENTICAL ranks (no FP summation order to agree on):

        r0(v)     = 1_000_000 div N
        tp        = (1000 - damping) * 1000 div N
        r_t+1(v)  = tp + Σ_u  damping * w(u,v) * r_t(u)
                              div (1000 * W(u))
    with W(u) the weighted out-degree (column ``wout`` — Spark's
    case-insensitive resolver would collide a literal ``W`` with ``w``).  Flooring leaks mass (as do
    dangling nodes, which contribute nothing — the standard
    simplification); ranks are ordinal scores, not a probability
    simplex.  Overflow bound: damping * max(w) * 1e6 must stay under
    2^63 (max(w) < ~1e13) — pre-scale weights down by a constant if
    needed; ranks are w-scale-invariant up to flooring.

    Plan shape: the edge relation (joined once with its out-degree) is
    persisted PRE-PARTITIONED on src, so each of the n_iter rounds
    shuffles only the node-sized rank relation (join on src, groupBy
    dst, left join back to nodes); `localCheckpoint` truncates lineage
    like the CC loop.  N is a count() driver scalar — model-sized
    control flow, the documented legitimate base.  At 100 TB (a
    billion-domain web graph) every round is three keyed exchanges of
    the node relation; the corpus never re-enters after edge
    extraction."""
    from pyspark import StorageLevel

    if nodes is None:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        edges.unpersist()
        return nodes.select("node", F.lit(0).cast("long").alias("rank_micro"))
    spark = edges.sparkSession
    n_edges = edges.count()
    if n + n_edges <= local_threshold:
        # bounded driver finish, the connected_components pattern: a
        # model-sized graph (the 10-source fixture matrix, a few
        # hundred k rows) would pay ~1 s of scheduling per distributed
        # round for relations we would happily broadcast; the integer
        # recurrence is engine-independent, so the local result is
        # bit-equal to the distributed loop (pinned by test).  A
        # billion-domain web graph takes the distributed branch
        # unconditionally.
        erows = [(r[0], r[1], r[2]) for r in edges.select("src", "dst", "w").collect()]
        nrows = [r[0] for r in nodes.select("node").collect()]
        node_t = nodes.schema["node"].dataType.simpleString()
        edges.unpersist()
        nodes.unpersist()
        if stats is not None:
            stats["mode"] = "local"
        # broadcast hint: the connected_components local finish's
        # rationale above — the relation is bounded by local_threshold
        # by construction, whatever the session's broadcast threshold,
        # so consumers joining ranks back to a corpus get a broadcast
        # probe, not a sort-merge
        return F.broadcast(
            local_relation(
                spark,
                _local_pagerank(erows, nrows, n_iter, damping_permille),
                f"node {node_t}, rank_micro long",
            )
        )
    if stats is not None:
        stats["mode"] = "distributed"
    teleport = (1000 - damping_permille) * 1000 // n
    # edges was persisted above (it feeds the size count, the
    # out-degree agg AND the join below — an expensive upstream plan
    # like q_domain_rank's inverted-index source_overlap runs once)
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = (
        edges.join(outw, "src")
        .select("src", "dst", F.col("w").cast("long").alias("w"), "wout")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = nodes.select("node", F.lit(1_000_000 // n).cast("long").alias("r"))
    for _ in range(n_iter):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"{damping_permille} * w * r div (1000 * wout)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(teleport) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
            # EAGER: materializes the node-sized rank relation each
            # round so the loop lineage truncates for real and the
            # edge persist can be released before returning (the CC
            # loop gets the same effect from its per-round
            # convergence check)
            .localCheckpoint(eager=True)
        )
    e.unpersist()
    edges.unpersist()
    nodes.unpersist()
    return ranks.select("node", F.col("r").alias("rank_micro"))
