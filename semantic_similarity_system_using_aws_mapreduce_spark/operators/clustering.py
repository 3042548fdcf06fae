"""Deterministic centroid assignment and product quantization over an
embedding column, with model-sized driver state only.

Why not MLlib's KMeans: its trainer is seeded but not cross-engine
replayable, so its assignments can never be hash-verified by the
DuckDB correctness gate.  This module's centroids are the vectors
chosen by portable md5 rank, distances are 6-dp-rounded with rank
tie-breaks -- replayable, which gives the clustering family
driver-oracled queries (workload/embeddings.q_kmeans_assign,
q_pq_codes, q_pq_adc_search) in addition to pytest evidence.

Scale shape:
  * assignment and encoding are embarrassingly parallel -- the k x d
    centroid matrix rides to executors as ONE broadcast row of
    (rank, cvec) structs; NO per-vector shuffle, no k-fold row blowup
    (the argmin folds over the centroid array per row);
  * driver state is k x d floats (the model), never data.
Seed selection is a distributed top-k (TakeOrderedAndProject) over an
(id, hash) projection -- bytes per row, no vector movement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import md5_int
from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

KMEANS_SALT = "kmeans:"


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
    # one parsed expression (see _d2_sql).  The vector column is
    # pre-aliased to a fixed internal name: interpolating a caller's vec_col into the parsed
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


def _d2_sql(x: str, y: str) -> str:
    """SQL text of the squared L2 distance between two array-SQL
    fragments, float32 elements widened to double (products exact in
    double; the 6-dp round at every use absorbs sum-order differences,
    as in operators/ann.dot).  ONE parsed expression instead of ~200
    py4j round trips per use: building the higher-order-function
    lambdas term by term spent ~1.7 s of the PQ queries' plan
    construction in py4j socket calls."""
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
    bounds, deliberately: a dynamic size(cvec)-derived width measured
    ~20% slower on the whole encode pass.  Shared by the encode side
    and the ADC query tables so the two broadcast subplans stay
    byte-identical and ReuseExchange materializes the codebook once."""
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
    model derives from :func:`seed_centroids`'s portable top-k) -- the
    codebook a cross-engine oracle can replay.

    Returns (vec_id, c0..c{m-1}, e0..e{m-1}, recon_err): per-subspace
    code + 6-dp-rounded squared quantization error, plus their sum in
    fixed left-to-right order (deterministic FP both engines).

    Plan shape: the k x d codebook rides as ONE broadcast row of
    (rank, cvec) structs; each subspace's argmin is an array fold over
    k entries on the row's slice — fully map-side, ZERO shuffles, the
    same no-blowup contract as :func:`assign_clusters`.  Encoding a
    100 TB corpus is a single scan.

    ``dim``: a PROBE BYPASS for callers that already know the
    true embedding dimension (the ADC search derives it from the
    collected codebook) — it is trusted unvalidated, because the
    guard would cost an expression on every row: a wrong dim silently
    slices truncated subvectors (zip_with null-pads), so pass only a
    measured value.  With it, this function runs NO eager
    dimension-probe job of its own —
    the probe was ~0.2-0.9 s of every PQ bench row's wall-clock,
    doubled when encode ran under the search.  Slice bounds stay
    LITERAL either way: a fully-lazy variant (widths derived in-plan from size(vec)) ~20% slower end-to-end
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
        # over the pre-sliced codebook.  `_cl_vec` is the pre-aliased
        # vector column (see assign_clusters).
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

    No dimension probe job: the seed codebook -- k rows of (rank,
    cvec), the driver-sized MODEL -- is collected once, the embedding
    dimension read off its first vector (seeds ARE corpus vectors, so
    their length is the corpus dimension) and passed to
    :func:`pq_encode` as ``dim``, and the one-row cents relation is
    rebuilt as a LOCAL literal, so no consumer re-runs the distributed
    seed top-k; seed values round-trip exactly (float32 -> Python
    float -> float32 is value-faithful)."""
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
