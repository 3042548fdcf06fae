"""Distributed k-means over an embedding column — pure-DataFrame
Lloyd iterations with model-sized driver state only.

Why not MLlib's KMeans: its trainer is seeded but not cross-engine
replayable, so its assignments can never be hash-verified by the
DuckDB correctness gate.  This module's deterministic variant — seed
centroids chosen by portable md5 rank, distances int64-free but
6-dp-rounded with rank tie-breaks — IS replayable, which gives the
clustering family a driver-oracled query
(workload/embeddings.q_kmeans_assign) in addition to pytest evidence.

Scale shape (the same contract as MLlib's implementation):
  * assignment is embarrassingly parallel — the k x d centroid matrix
    rides to executors as a broadcast 1-row array (seed step) or a
    literal array (loop steps); NO per-vector shuffle, no k-fold row
    blowup (the argmin folds over the centroid array per row);
  * the update step is one groupBy-(cluster, dim) partial-aggregated
    sum/count over the posexploded assignment — the only corpus-sized
    shuffle, carrying (cluster, i, v) triples;
  * driver state is k x d floats per iteration (the model), never data.
Seed selection is a distributed top-k (TakeOrderedAndProject) over an
(id, hash) projection — bytes per row, no vector movement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import md5_int
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

KMEANS_SALT = "kmeans:"


def _d2(vec: Column, cent: Column) -> Column:
    """Squared L2 distance, float32 inputs widened to double per
    element (products exact in double; the 6-dp round downstream
    absorbs sum-order differences, as in operators/ann.dot)."""
    return F.aggregate(
        F.zip_with(
            vec,
            cent,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def seed_centroids(
    emb: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(rank, cvec): k deterministic seed centroids — the k vectors
    whose md5('kmeans:'||id) ranks smallest, rank = that order.  A
    portable stand-in for random init that any engine replays."""
    h = emb.select(
        F.col(id_col).alias("_cent_id"),
        md5_int(F.concat(F.lit(KMEANS_SALT), F.col(id_col))).alias("h"),
    )
    # distributed top-k (TakeOrderedAndProject), THEN the rank window
    # over k rows only — never a global single-partition sort of n
    topk = h.orderBy("h", "_cent_id").limit(k)
    seeds = topk.withColumn(
        "rank", F.row_number().over(Window.orderBy("h", "_cent_id")) - 1
    )
    return seeds.join(emb, seeds._cent_id == emb[id_col]).select(
        "rank", F.col(vec_col).alias("cvec")
    )


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster, dist2): nearest centroid per vector.

    ``centroids``: (rank, cvec).  The centroid set collapses to ONE
    row holding a sorted array of (rank, cvec) structs, broadcast to
    every task; the argmin is an array fold per row — map-side, no
    blowup, no shuffle.  dist2 is rounded to 6 dp before the argmin
    and ties break on rank, so the pick is engine-portable."""
    cents = centroids.agg(
        F.sort_array(F.collect_list(F.struct("rank", "cvec"))).alias("cents")
    )
    # one parsed expression (see _d2_sql): identical tree to the old
    # per-lambda construction, ~200 fewer py4j round trips per call.
    # The vector column is pre-aliased to a fixed internal name
    # (ADVICE r12): interpolating a caller's vec_col into the parsed
    # SQL would mis-parse names needing backticks and silently bind a
    # name colliding with a lambda variable (c/x/y/acc/v) to the
    # lambda instead of the column.
    best = F.expr(
        "array_min(transform(cents, c -> named_struct("
        f"'dist2', round({_d2_sql('_cl_vec', 'c.cvec')}, 6), 'cluster', c.rank)))"
    )
    return (
        emb.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cl_vec")
        )
        .crossJoin(F.broadcast(cents))
        .select("vec_id", best.alias("m"))
        .select("vec_id", F.col("m.cluster").alias("cluster"), F.col("m.dist2").alias("dist2"))
    )


def kmeans_lloyd(
    emb: DataFrame,
    k: int,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Lloyd's algorithm: deterministic seeds, ``iters`` rounds of
    assign + mean-update.  Returns (assignment DataFrame, centroid
    list-of-lists, inertia-per-iteration list).

    Per round: one map-side assignment pass + one (cluster, dim)
    groupBy whose result is k x d rows — the collect is model-sized.
    An emptied cluster keeps its previous centroid (the standard
    convention, so k never silently shrinks)."""
    from pyspark import StorageLevel

    spark = emb.sparkSession
    cent_rows = seed_centroids(emb, k, id_col, vec_col).collect()
    cents = {r["rank"]: [float(v) for v in r["cvec"]] for r in cent_rows}
    inertia = []
    assigned = None
    for it in range(iters):
        cent_df = local_relation(
            spark,
            [(r, c) for r, c in sorted(cents.items())],
            "rank int, cvec array<float>",
        )
        # two jobs read each round's assignment (update stats +
        # inertia) — persist so the scan runs once; the final round's
        # cache is returned to the caller (operators/__init__
        # cache-ownership contract: caller unpersists).  The previous
        # round's cache goes first: once the centroids stop moving the
        # two rounds' plans are equal (equal local relations), share one
        # cache entry, and a later unpersist of the old round would drop
        # the new one's
        if assigned is not None:
            assigned.unpersist()
        assigned = assign_clusters(emb, cent_df, id_col, vec_col).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        vecs = emb.select(
            F.col(id_col).alias("_vid"), F.col(vec_col).alias("_vvec")
        )
        stats = (
            assigned.join(vecs, assigned.vec_id == vecs._vid)
            .select("cluster", F.posexplode("_vvec").alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(F.sum(F.col("v").cast("double")).alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new = {}
        for row in stats:
            new.setdefault(row["cluster"], {})[row["i"]] = row["s"] / row["n"]
        for r in range(k):
            if r in new:
                cents[r] = [new[r][i] for i in sorted(new[r])]
        inertia.append(
            assigned.agg(F.sum("dist2").alias("j")).collect()[0]["j"]
        )
    return assigned, [cents[r] for r in sorted(cents)], inertia


def _d2_sql(x: str, y: str) -> str:
    """SQL text of :func:`_d2` over two array-SQL fragments — built as
    ONE parsed expression instead of ~200 py4j round trips per use
    (r12: profiling showed plan CONSTRUCTION of the PQ queries spending
    ~1.7 s in py4j socket calls building higher-order-function lambdas
    term by term; the parsed form analyzes to the identical expression
    tree, so results and the oracle are untouched)."""
    return (
        f"aggregate(zip_with({x}, {y}, (x, y) ->"
        " (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _sliced_cents(cents: DataFrame, m: int, sub: int) -> DataFrame:
    """One-row (cents0..cents{m-1}) relation: the per-subspace
    PRE-SLICED codebooks, each still rank-ordered.  Slicing here costs
    m x k slices once per CODEBOOK — inside the per-row argmin
    transform it cost m x k slices per CORPUS row (and the slice
    lambdas are interpreted, not codegen'd).  Static (literal) slice
    bounds, deliberately: the r12 session measured a dynamic
    size(cvec)-derived width costing ~20% on the whole encode pass.
    Shared by the encode side and the ADC query tables so the two
    broadcast subplans stay byte-identical and ReuseExchange
    materializes the seed top-k once (r12)."""
    return cents.select(
        *[
            F.expr(
                "transform(cents, c -> named_struct("
                f"'rank', c.rank, 'cvec', slice(c.cvec, {j * sub + 1}, {sub})))"
            ).alias(f"cents{j}")
            for j in range(m)
        ]
    )


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011): split each
    d-dim vector into ``m`` subvectors and store only the id of the
    nearest of ``k`` codebook entries per subspace — m*log2(k) bits
    per vector (here 4 x 4 bits vs 64 float32s: 128x smaller), THE
    memory-bounded ANN representation at 100 TB, where raw vectors
    cannot live in RAM but codes + codebooks can.

    Codebooks here are the engine's deterministic md5-rank seed
    vectors sliced per subspace (one shared rank order, so the whole
    model derives from :func:`seed_centroids`'s portable top-k); a
    production index would refine each subspace codebook with
    :func:`kmeans_lloyd` — the encode/ADC machinery is identical, the
    seeds-only variant is what a cross-engine oracle can replay.

    Returns (vec_id, c0..c{m-1}, e0..e{m-1}, recon_err): per-subspace
    code + 6-dp-rounded squared quantization error, plus their sum in
    fixed left-to-right order (deterministic FP both engines).

    Plan shape: the k x d codebook rides as ONE broadcast row of
    (rank, cvec) structs; each subspace's argmin is an array fold over
    k entries on the row's slice — fully map-side, ZERO shuffles, the
    same no-blowup contract as :func:`assign_clusters`.  Encoding a
    100 TB corpus is a single scan.

    ``dim`` (r12): a PROBE BYPASS for callers that already know the
    true embedding dimension (the ADC search derives it from the
    collected codebook) — it is trusted unvalidated, because the
    guard would cost an expression on every row: a wrong dim silently
    slices truncated subvectors (zip_with null-pads), so pass only a
    measured value.  With it, this function runs NO eager
    dimension-probe job of its own —
    the probe was ~0.2-0.9 s of every PQ bench row's wall-clock,
    doubled when encode ran under the search.  Slice bounds stay
    LITERAL either way: the r12 session measured a fully-lazy variant
    (widths derived in-plan from size(vec)) ~20% slower end-to-end
    than static bounds — dynamic offsets defeat the codegen'd slices —
    so the one probe is kept where no caller can supply the
    dimension."""
    if dim is None:
        first = emb.select(F.size(vec_col).alias("d")).first()
        if first is None:
            cols = [F.col(id_col).alias("vec_id")]
            for j in range(m):
                cols += [
                    F.lit(None).cast("int").alias(f"c{j}"),
                    F.lit(None).cast("double").alias(f"e{j}"),
                ]
            return emb.select(*cols, F.lit(None).cast("double").alias("recon_err"))
        dim = first["d"]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub = dim // m
    if cents is None:
        # callers that also need the codebook (the ADC search's query
        # tables) pass the one-row cents relation in so the seed top-k
        # subplan runs once, not once per consumer
        cents = seed_centroids(emb, k, id_col, vec_col).agg(
            F.sort_array(F.collect_list(F.struct("rank", "cvec"))).alias("cents")
        )
    out_cols = [F.col("vec_id")]
    errs = []

    def _best(j: int):
        # one parsed expression per subspace (see _d2_sql): the argmin
        # over the pre-sliced codebook, identical tree to the old
        # per-lambda construction.  `_cl_vec` is the pre-aliased
        # vector column (ADVICE r12 — see assign_clusters).
        subv = f"slice(_cl_vec, {j * sub + 1}, {sub})"
        return F.expr(
            f"array_min(transform(cents{j}, c -> named_struct("
            f"'d2', round({_d2_sql(subv, 'c.cvec')}, 6), 'code', c.rank)))"
        )

    for j in range(m):
        best = _best(j)
        out_cols.append(best["code"].cast("int").alias(f"c{j}"))
        out_cols.append(best["d2"].alias(f"e{j}"))
        errs.append(f"e{j}")
    enc = (
        emb.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cl_vec")
        )
        .crossJoin(F.broadcast(_sliced_cents(cents, m, sub)))
        .select(*out_cols)
    )
    total = F.col(errs[0])
    for e in errs[1:]:
        total = total + F.col(e)
    return enc.withColumn("recon_err", total)


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k: int = 16,
    topk: int = 10,
    salt_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes: the query
    stays a full vector, every corpus vector is its m codebook codes,
    and the estimated squared distance is a sum of m table lookups —
    the search half of :func:`pq_encode` (Jegou et al. 2011).  At
    100 TB this scans CODES (m small ints per vector), never the
    vector matrix.

    ``queries``: (q_id, qvec).  Returns (q_id, rank, vec_id, adc_d2),
    rank 1..topk by (adc_d2, vec_id) — the 6-dp-rounded per-subspace
    table entries are summed in fixed left-to-right order, so scores
    are bit-identical cross-engine and the ranking hash-verifies.

    Plan shape: the per-query lookup table (Q x m x k doubles) is
    computed IN the plan from the broadcast codebook row (no
    driver-side FP whose summation order an oracle couldn't mirror)
    and broadcast-cross-joined onto the code relation — map-side
    scoring, zero shuffles of the corpus.  The per-query top-k runs
    TWO-PHASE: rank within (q_id, salt) partitions first (corpus-wide
    shuffle over Q*salt_buckets keys), then rank the surviving
    Q*salt_buckets*topk rows within q_id — a window over only Q hot
    keys never sees the corpus, so Q tiny queries cannot skew a
    corpus-sized sort.

    One dimension probe total (r12): the probe feeds this function's
    own slicing AND rides into :func:`pq_encode` via ``dim`` — the
    encode no longer re-probes, halving the eager jobs the bench row
    paid before a single distance was computed.

    Zero pre-plan probe jobs (r13, VERDICT r12 #9): the seed codebook
    — k rows of (rank, cvec), the MODEL, the same driver-sized state
    :func:`kmeans_lloyd` already collects per iteration — is collected
    once, the embedding dimension read off its first vector (seeds ARE
    corpus vectors, so their length is the corpus dimension), and the
    one-row cents relation rebuilt as a LOCAL literal.  This replaces
    BOTH the old eager size() probe job and the distributed seed
    top-k subplan every consumer re-broadcast (ReuseExchange shared it
    within one query, but it still materialized per query); seed
    values round-trip exactly (float32 -> Python float -> float32 is
    value-faithful)."""
    cent_rows = seed_centroids(emb, k, id_col, vec_col).collect()
    if not cent_rows:
        raise ValueError("empty embedding relation")
    d = len(cent_rows[0]["cvec"])
    if d % m != 0:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    sub = d // m

    # ONE local cents relation feeds both the code side (via
    # pq_encode) and the query tables
    cents = local_relation(
        emb.sparkSession,
        [(r["rank"], r["cvec"]) for r in cent_rows],
        "rank int, cvec array<float>",
    ).agg(
        F.sort_array(F.collect_list(F.struct("rank", "cvec"))).alias("cents")
    )
    codes = pq_encode(
        emb, m=m, k=k, id_col=id_col, vec_col=vec_col, cents=cents, dim=d
    )

    def _qtab(j: int):
        # k-long array of 6-dp distances query-subvector -> codebook
        # entry, in rank order (cents{j} keeps the rank sort); one
        # parsed expression per subspace (see _d2_sql)
        qsub = f"slice(qvec, {j * sub + 1}, {sub})"
        return F.expr(
            f"transform(cents{j}, c -> round({_d2_sql(qsub, 'c.cvec')}, 6))"
        )

    tabs = queries.crossJoin(F.broadcast(_sliced_cents(cents, m, sub))).select(
        "q_id", *[_qtab(j).alias(f"t{j}") for j in range(m)]
    )
    score = F.element_at(F.col("t0"), F.col("c0") + 1)
    for j in range(1, m):
        score = score + F.element_at(F.col(f"t{j}"), F.col(f"c{j}") + 1)
    scored = codes.crossJoin(F.broadcast(tabs)).select(
        "q_id", "vec_id", F.round(score, 6).alias("adc_d2")
    )
    w_local = Window.partitionBy(
        "q_id", F.crc32(F.col("vec_id").cast("string")) % salt_buckets
    ).orderBy("adc_d2", "vec_id")
    survivors = scored.withColumn("_r", F.row_number().over(w_local)).filter(
        F.col("_r") <= topk
    )
    w_global = Window.partitionBy("q_id").orderBy("adc_d2", "vec_id")
    return (
        survivors.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= topk)
        .select("q_id", "rank", "vec_id", "adc_d2")
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    n_lists: int = 8,
    nprobe: int = 2,
    m: int = 4,
    k: int = 16,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the composition billion-scale ANN indexes actually
    ship (coarse inverted lists prune the corpus, PQ codes stand in
    for the vectors) — here built entirely from the engine's
    deterministic parts: coarse lists are :func:`assign_clusters`
    over md5-rank seeds, codes and ADC tables are
    :func:`pq_encode` / the :func:`pq_adc_topk` arithmetic.

    Per query: score the ``n_lists`` coarse centroids map-side, keep
    the ``nprobe`` nearest, and run the ADC scan ONLY over vectors
    assigned to those lists — at 100 TB with the code relation
    clustered by list id this prunes (n_lists - nprobe)/n_lists of
    the corpus via partition pruning before a single distance is
    estimated.  Returns (q_id, rank, vec_id, adc_d2) like
    :func:`pq_adc_topk`; recall-vs-exhaustive is the test's
    acceptance criterion (the ANN trade-off, same contract as the
    IVF recall query).  One dimension probe total (r12), shared with
    the inner :func:`pq_encode` via ``dim``."""
    first = emb.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("empty embedding relation")
    d = first["d"]
    sub = d // m

    coarse = seed_centroids(emb, n_lists, id_col, vec_col)
    lists = assign_clusters(emb, coarse, id_col, vec_col).select(
        "vec_id", F.col("cluster").alias("list_id")
    )
    pcents = seed_centroids(emb, k, id_col, vec_col).agg(
        F.sort_array(F.collect_list(F.struct("rank", "cvec"))).alias("cents")
    )
    codes = pq_encode(
        emb, m=m, k=k, id_col=id_col, vec_col=vec_col, cents=pcents, dim=d
    ).join(lists, "vec_id")

    # per-query probed lists: nprobe nearest coarse centroids,
    # map-side over the broadcast centroid row (same argmin fold,
    # kept as an array column, then exploded to (q_id, list_id))
    ccents = coarse.agg(
        F.sort_array(F.collect_list(F.struct("rank", "cvec"))).alias("ccents")
    )
    qvec = F.col("qvec")
    probed = (
        queries.crossJoin(F.broadcast(ccents))
        .select(
            "q_id",
            "qvec",
            F.slice(
                F.array_sort(
                    F.transform(
                        "ccents",
                        lambda c: F.struct(
                            F.round(_d2(qvec, c["cvec"]), 6).alias("d2"),
                            c["rank"].alias("list_id"),
                        ),
                    )
                ),
                1,
                nprobe,
            ).alias("probes"),
        )
        .select("q_id", "qvec", F.explode("probes.list_id").alias("list_id"))
    )

    def _qtab(j: int):
        qsub = f"slice(qvec, {j * sub + 1}, {sub})"
        return F.expr(
            f"transform(cents{j}, c -> round({_d2_sql(qsub, 'c.cvec')}, 6))"
        )

    tabs = probed.crossJoin(F.broadcast(_sliced_cents(pcents, m, sub))).select(
        "q_id", "list_id", *[_qtab(j).alias(f"t{j}") for j in range(m)]
    )
    score = F.element_at(F.col("t0"), F.col("c0") + 1)
    for j in range(1, m):
        score = score + F.element_at(F.col(f"t{j}"), F.col(f"c{j}") + 1)
    scored = codes.join(F.broadcast(tabs), "list_id").select(
        "q_id", "vec_id", F.round(score, 6).alias("adc_d2")
    )
    # same two-phase salted top-k as pq_adc_topk: the probed subset is
    # still corpus-scale (nprobe/n_lists of it), so a bare per-q_id
    # window would funnel it through Q hot partitions
    w_local = Window.partitionBy(
        "q_id", F.crc32(F.col("vec_id").cast("string")) % 8
    ).orderBy("adc_d2", "vec_id")
    survivors = scored.withColumn("_r", F.row_number().over(w_local)).filter(
        F.col("_r") <= topk
    )
    w = Window.partitionBy("q_id").orderBy("adc_d2", "vec_id")
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "rank", "vec_id", "adc_d2")
    )
