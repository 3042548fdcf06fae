"""Similarity search over an embedding column: one implementation per
strategy, all sharing one (vec_id, neighbor_id, cosine, rank) contract.

  * exact, broadcast — normalized matrix collected once + per-partition
    numpy matmul (:func:`cosine_topk_bruteforce`; the tests' oracle).
  * exact, relational — crossJoin + window (:func:`cosine_topk_exact_join`)
    or hash-blocked block-pair matmuls (:func:`cosine_pairs_blocked`);
    both lazy, no driver collect.
  * SRP-LSH — md5-derived ±1 sign-random-projection buckets over
    fixed-point vectors (:func:`srp_signatures_portable`, shared with
    :func:`semantic_dedup`); exact scoring only *within* buckets
    (:func:`ann_topk_lsh_portable`, optional Hamming-1 multi-probe).
    At 100 TB the bucket join is the only shuffle; recall tunes with
    (n_planes, n_tables).
  * IVF — in-plan hash-sampled centroids, n_probe list equi-join
    (:func:`ann_topk_ivf_lazy`).

Every Catalyst-side score goes through one array kernel — :func:`dot`,
:func:`sq_norm`, :func:`cosine` — which workload/embeddings shares, so
Spark and the DuckDB oracles accumulate in the same order.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.session import local_relation

_SRP_SIGNS: dict[tuple[int, int, int], np.ndarray] = {}


def _srp_sign_matrix(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """±1 plane matrix, row (t*n_planes + j), from md5('srp:t:j:i')
    parity — hashlib here and md5() in the DuckDB oracle agree
    byte-for-byte.  Cached per (tables, planes, dim): built once per
    Python worker, reused across Arrow batches."""
    key = (n_tables, n_planes, dim)
    if key not in _SRP_SIGNS:
        import hashlib

        s = np.empty((n_tables * n_planes, dim), dtype=np.int64)
        for t in range(n_tables):
            for j in range(n_planes):
                for i in range(dim):
                    h = hashlib.md5(f"srp:{t}:{j}:{i}".encode()).hexdigest()
                    s[t * n_planes + j, i] = 1 if int(h[:15], 16) % 2 == 0 else -1
        _SRP_SIGNS[key] = s
    return _SRP_SIGNS[key]


def dot(u: Column, v: Column) -> Column:
    """Double dot product of two array columns.  Elements widen to
    double BEFORE multiplying (as the DuckDB oracles do), and
    zip_with/aggregate fold the arrays left to right, so the result is
    deterministic across partitionings (unlike a shuffled double sum)."""
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(u: Column) -> Column:
    """Squared L2 norm of an array column; same widening and order as
    :func:`dot`."""
    return F.aggregate(
        u, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def cosine(u: Column, v: Column) -> Column:
    """Exact double cosine between two array columns."""
    return dot(u, v) / (F.sqrt(sq_norm(u)) * F.sqrt(sq_norm(v)))


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """HALF_UP (ties away from zero) — the rounding Spark's round() and
    DuckDB's round() both use; np.rint would round ties to even and flip
    buckets near the boundary.  Addition-free tie test: floor(|x|+0.5)
    misrounds doubles where |x|+0.5 is not representable
    (0.49999999999999994 + 0.5 == 1.0), which BigDecimal-based HALF_UP
    does not."""
    ax = np.abs(x)
    f = np.floor(ax)
    f += (ax - f) >= 0.5
    return np.sign(x) * f


def _topk(
    scored: DataFrame, k: int, rank: str = "rank", cast: str | None = None
) -> DataFrame:
    """Each vec_id's k best (vec_id, neighbor_id, cosine) rows, ranked
    by cosine desc with the neighbor_id tie-break every engine agrees
    on; ``cast`` retypes the row_number rank column."""
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    r = F.row_number().over(w)
    return (
        scored.withColumn(rank, r.cast(cast) if cast else r)
        .filter(F.col(rank) <= k)
        .select("vec_id", "neighbor_id", "cosine", rank)
    )


def _unit_rows(vecs: pd.Series) -> np.ndarray:
    """float64 matrix of a pandas column of vectors, rows L2-normalized."""
    mat = np.array(vecs.tolist(), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat


def _normalized_matrix(df: DataFrame, id_col: str, vec_col: str):
    """(ids, unit-row matrix) collected to the driver — the broadcast
    index of the exact brute-force paths."""
    local = df.select(id_col, vec_col).toPandas()
    return local[id_col].to_numpy(), _unit_rows(local[vec_col])


def cosine_topk_bruteforce(
    df: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k neighbors for EVERY vector (self-join form):
    (vec_id, neighbor_id, cosine, rank)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(_normalized_matrix(df, id_col, vec_col))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        id_pos = {int(v): i for i, v in enumerate(all_ids)}
        for pdf in batches:
            sims = _unit_rows(pdf[vec_col]) @ all_mat.T
            qids = pdf[id_col].to_numpy()
            for row, qid in enumerate(qids):
                sims[row, id_pos[int(qid)]] = -np.inf  # exclude self
            # top-k per row (argpartition then exact ordering)
            part = np.argpartition(-sims, kth=min(k, sims.shape[1] - 1), axis=1)[:, :k]
            out_q, out_n, out_c, out_r = [], [], [], []
            for row, qid in enumerate(qids):
                cand = part[row]
                # order by cosine desc, neighbor id asc (deterministic ties)
                order = cand[np.lexsort((all_ids[cand], -sims[row, cand]))][:k]
                for rank, j in enumerate(order, start=1):
                    out_q.append(qid)
                    out_n.append(all_ids[j])
                    out_c.append(sims[row, j])
                    out_r.append(rank)
            yield pd.DataFrame(
                {"vec_id": out_q, "neighbor_id": out_n, "cosine": out_c, "rank": out_r}
            )

    return df.mapInPandas(
        gen, schema="vec_id long, neighbor_id long, cosine double, rank int"
    )


def cosine_topk_exact_join(
    df: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k neighbors as a PURE relational plan (crossJoin +
    window): (vec_id, neighbor_id, cosine, rank).

    Unlike :func:`cosine_topk_bruteforce` (which collects the matrix to
    the driver at BUILD time), this is fully lazy — building the
    DataFrame runs no jobs.  It is still O(N^2): a correctness / audit
    baseline, not the scale path (that's ann_topk_lsh_portable /
    ann_topk_ivf_lazy).  Ties break by neighbor_id, so the ranking is
    deterministic across engines."""
    a = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"))
    b = df.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    scored = (
        a.crossJoin(b)
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    )
    return _topk(scored, k)


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine above ``threshold`` with NO driver
    collect and NO broadcast of the data — the blocked matmul form of
    workload/embeddings.q_cosine_pairs (which builds a driver-collected
    broadcast matrix: the right fast path while the matrix fits
    executor memory, and a hard wall past it).

    Plan: hash every vector into one of B blocks, replicate each block
    to the B(B+1)/2 unordered block pairs via a broadcast join against
    the tiny pair relation, then one ``applyInPandas`` numpy matmul per
    (block_i, block_j) group.  Each task holds at most 2N/B vectors —
    pick B so a block pair fits an executor and the plan survives any
    N; total shuffle volume is the inherent O(N*B) replication of
    blocked all-pairs.  Fully lazy: building the DataFrame runs no
    jobs (the broadcast-matrix path runs a toPandas at build time).

    Output contract matches q_cosine_pairs exactly: (vec_a, vec_b,
    cosine) with vec_a < vec_b, cosine unrounded double.  Every
    unordered pair lands in exactly one group — the diagonal group of
    its shared block, or the single (bi < bj) group of its two blocks —
    so no distinct/dedup pass is needed."""
    spark = df.sparkSession
    blocked = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    pairs = local_relation(
        spark,
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    lhs = blocked.join(
        F.broadcast(pairs), blocked["_blk"] == pairs["bi"]
    ).select("bi", "bj", "_id", "_vec", F.lit(0).alias("_side"))
    # the diagonal group carries its block once (side 0 doubles as both
    # operands); off-diagonal groups get the second block as side 1
    rhs = (
        blocked.join(F.broadcast(pairs), blocked["_blk"] == pairs["bj"])
        .filter(F.col("bi") != F.col("bj"))
        .select("bi", "bj", "_id", "_vec", F.lit(1).alias("_side"))
    )

    def score(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["_side"] == 0]
        ids_a = a["_id"].to_numpy()
        if len(ids_a) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        mat_a = _unit_rows(a["_vec"])
        if bi == bj:
            ids_b, mat_b = ids_a, mat_a
        else:
            b = pdf[pdf["_side"] == 1]
            ids_b = b["_id"].to_numpy()
            if len(ids_b) == 0:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
            mat_b = _unit_rows(b["_vec"])
        sims = mat_a @ mat_b.T
        if bi == bj:
            # each unordered within-block pair once: strict upper triangle
            mask = (sims > threshold) & (ids_b[None, :] > ids_a[:, None])
        else:
            mask = sims > threshold
        ii, jj = np.nonzero(mask)
        va, vb = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": sims[ii, jj]})

    return (
        lhs.unionByName(rhs)
        .groupBy("bi", "bj")
        .applyInPandas(score, schema="vec_a long, vec_b long, cosine double")
    )


def ann_topk_ivf_lazy(
    df: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k with coarse quantization expressed entirely
    IN the plan — no MLlib fit, no driver collect, no Python kernel, so
    building the DataFrame triggers zero Spark jobs (the laziness
    contract every workload query promises).

    Centroids are a deterministic hash-sample of the data itself: the
    ``n_lists`` vectors with the smallest ``md5(vec_id)`` (selected
    in-plan with orderBy+limit — a 16-row relation Spark broadcasts).
    For IVF the centroids only need to induce a balanced Voronoi
    partition; on embedding corpora a random sample is the standard
    cheap initializer (it is exactly k-means||'s seed step), and
    skipping Lloyd iterations trades a little recall for a one-pass,
    fully declarative plan.  Assignment and probe lists come from ONE
    shared scored relation (vector x centroid broadcast join, window
    rank): rank 1 is the inverted-list assignment, ranks <= n_probe are
    the probes.  Candidates = probes equi-joined with inverted lists —
    the only shuffle; scored pairs ~ N * n_probe * N/n_lists, never
    N^2.  At 100 TB you would persist/checkpoint the assignment once
    and reuse it across queries."""
    cent = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
        .limit(n_lists)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cid"))
    ranked = (
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id", "qv", "cid", cosine(F.col("qv"), F.col("cv")).alias("csim")
        )
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= max(n_probe, 1))
    )
    probes = ranked.select("vec_id", F.col("cid").alias("list"))
    inv = ranked.filter(F.col("crank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("nv"),
        F.col("cid").alias("list"),
    )
    cand = (
        probes.join(inv, "list")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id", "nv")
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"))
    scored = cand.join(vecs, "vec_id").select(
        "vec_id", "neighbor_id", cosine(F.col("qv"), F.col("nv")).alias("cosine")
    )
    return _topk(scored, k)


def srp_signatures_portable(
    df: DataFrame,
    n_planes: int = 8,
    n_tables: int = 4,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, t, bucket): deterministic, cross-engine-reproducible
    sign-random-projection buckets — the hash family shared by
    :func:`ann_topk_lsh_portable` (similarity search) and
    :func:`semantic_dedup` (embedding near-dup dedup).

    Hyperplanes are ±1 vectors from md5('srp:t:j:i') parity and dot
    products run over fixed-point-quantized int64 components, so bucket
    assignment is exact integer math a SQL oracle reproduces
    byte-for-byte (see ann_topk_lsh_portable's docstring for why).
    Entirely map-side: one Arrow-batched int64 matmul per batch."""

    def sig_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(n_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64) * quant
            xq = _round_half_up(x).astype(np.int64)
            s = _srp_sign_matrix(n_tables, n_planes, xq.shape[1])
            dots = xq @ s.T  # (batch, n_tables*n_planes), exact int64
            bits = (dots >= 0).astype(np.int64).reshape(
                len(xq), n_tables, n_planes
            )
            buckets = (bits * weights).sum(axis=2)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_tables),
                    "t": np.tile(np.arange(n_tables, dtype=np.int64), len(ids)),
                    "bucket": buckets.ravel(),
                }
            )

    return df.select(F.col(id_col).alias("vec_id"), F.col(vec_col)).mapInPandas(
        sig_gen, schema="vec_id long, t long, bucket long"
    )


def semantic_dedup(
    df: DataFrame,
    tau: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 8,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_chunks: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup (SemDeDup-style): every
    vector mapped to the representative of its semantic-duplicate
    cluster — (vec_id, rep_id, is_kept), one row per input vector,
    is_kept = (vec_id == rep_id = min id in the cluster).

    Plan: SRP buckets (map-side, srp_signatures_portable) -> one
    shuffle grouping each (table, bucket) with its member vectors ->
    within-bucket exact-cosine scoring in a numpy applyInPandas kernel
    (pairs never materialize as rows; only survivors with
    round(cos, 6) >= tau are emitted) -> distinct across tables ->
    connected components over the kept-pair graph (operators/graph.py
    pointer doubling) -> left join back so singletons keep themselves.

    The kernel replaces the earlier bucket self-equi-join + per-pair
    zip_with fold: that plan shuffled |candidate pairs| rows EACH
    CARRYING TWO EMBEDDING ARRAYS (at tau=0.4 defaults ~40% of all
    pairs are candidates — measured 811k pairs x 2x64 floats at
    sf0.1, ~6 s to score), where this one shuffles the corpus vectors
    n_tables times (16k rows, 4 MB) and emits only the ~720 surviving
    pairs.  Numerics are unchanged: dot products accumulate
    per-dimension left-to-right (rank-1 updates), the exact order of
    the Catalyst aggregate/zip_with fold and of a SQL oracle's
    position-join sum, and rounding uses the addition-free HALF_UP
    emulation shared with srp_signatures_portable.

    Recall tuning: fewer planes per table widens buckets (higher
    recall at a given cosine, more scored pairs); more tables adds
    independent chances.  Defaults (4 planes x 8 tables) give ~75%
    pair recall at cos 0.4; production near-dup thresholds (tau ~0.9)
    reach ~99% recall with the same config because p(bit agree) =
    1 - angle/pi grows with cosine.  At 100 TB every stage is a scan
    or an equi-join on (t, bucket) / pair keys; per-bucket work is
    quadratic in bucket size — inherent to LSH candidate generation —
    and the component loop is O(log n) rounds over edges only
    (cliques converge in 2-3).

    Memory bound (``n_chunks``): applyInPandas materializes a whole
    group in one Python worker, and with few planes a bucket holds
    ~1/2^n_planes of the corpus — too big at scale.  ``n_chunks > 1``
    hash-splits each bucket's members into chunks and fans every
    member out to its ``n_chunks`` chunk-PAIR groups (the blocked
    triangle join), so one group holds at most ~2/n_chunks of the
    bucket while every unordered pair still meets in exactly one
    group per table.  Cost: the bucket shuffle grows by the
    replication factor n_chunks; results are bit-identical for any
    n_chunks (tested).  Pick n_chunks ~ bucket_size / worker_budget
    at scale; 1 keeps the fixture plan replication-free."""
    if n_chunks < 1:
        raise ValueError("n_chunks must be >= 1")
    sigs = srp_signatures_portable(df, n_planes, n_tables, quant, id_col, vec_col)
    members = sigs.join(
        df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")),
        "vec_id",
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.dedup import md5_int

    chunk = (
        md5_int(F.concat(F.lit("semchunk:"), F.col("vec_id").cast("string")))
        % n_chunks
    )
    members = members.withColumn("_c", chunk).select(
        "t",
        "bucket",
        "vec_id",
        "_v",
        "_c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.least(F.col("_c"), F.lit(cp)).alias("ca"),
                        F.greatest(F.col("_c"), F.lit(cp)).alias("cb"),
                    )
                    for cp in range(n_chunks)
                ]
            )
        ).alias("_cp"),
    ).select("t", "bucket", "vec_id", "_v", "_c", "_cp.ca", "_cp.cb")

    def _emit(ids_a, x_a, nrm_a, off_a, ids_b, x_b, nrm_b, triangle):
        """Score rows of (a) against columns of (b); per-dimension
        left-to-right accumulation — bit-identical to the Catalyst
        fold acc + x_j*y_j (and the oracle's position-join sum), never
        np.dot, whose blocked summation rounds differently.  In
        triangle mode a and b are the same matrix and only global
        column index > row index pairs emit (each unordered pair
        once)."""
        d = x_a.shape[1]
        out_a, out_b = [], []
        blk = 2048  # bounds the dots matrix at blk * len(b) doubles
        for s0 in range(0, x_a.shape[0], blk):
            xa = x_a[s0 : s0 + blk]
            dots = np.zeros((xa.shape[0], x_b.shape[0]))
            for j in range(d):
                dots += np.outer(xa[:, j], x_b[:, j])
            cos = dots / np.outer(nrm_a[s0 : s0 + blk], nrm_b)
            keep = _round_half_up(cos * 1e6) / 1e6 >= tau  # round(cos, 6)
            ri, ci = np.where(keep)
            if triangle:
                mask = ci > (ri + s0 + off_a)
                ri, ci = ri[mask], ci[mask]
            if len(ri):
                ia, ib = ids_a[ri + s0], ids_b[ci]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
        return out_a, out_b

    def _norms(x):
        sq = np.zeros(x.shape[0])
        for j in range(x.shape[1]):
            sq += x[:, j] * x[:, j]
        return np.sqrt(sq)

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        if len(pdf) < 2:
            return empty
        ca, cb = int(pdf["ca"].iloc[0]), int(pdf["cb"].iloc[0])
        if ca == cb:
            ids = pdf["vec_id"].to_numpy()
            x = np.array(pdf["_v"].tolist(), dtype=np.float64)
            nrm = _norms(x)
            out_a, out_b = _emit(ids, x, nrm, 0, ids, x, nrm, triangle=True)
        else:
            pa, pb = pdf[pdf["_c"] == ca], pdf[pdf["_c"] == cb]
            if len(pa) == 0 or len(pb) == 0:
                return empty
            ids_a = pa["vec_id"].to_numpy()
            ids_b = pb["vec_id"].to_numpy()
            xa = np.array(pa["_v"].tolist(), dtype=np.float64)
            xb = np.array(pb["_v"].tolist(), dtype=np.float64)
            out_a, out_b = _emit(
                ids_a, xa, _norms(xa), 0, ids_b, xb, _norms(xb), triangle=False
            )
        if not out_a:
            return empty
        return pd.DataFrame(
            {"vec_a": np.concatenate(out_a), "vec_b": np.concatenate(out_b)}
        )

    dup_pairs = (
        members.groupBy("t", "bucket", "ca", "cb")
        .applyInPandas(score_bucket, schema="vec_a long, vec_b long")
        .distinct()
    )
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import connected_components

    comp = connected_components(dup_pairs, src="vec_a", dst="vec_b")
    return (
        df.select(F.col(id_col).alias("vec_id"))
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("rep_id"),
        )
        .withColumn("is_kept", F.col("vec_id") == F.col("rep_id"))
    )


def ann_topk_lsh_portable(
    df: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_radius: int = 0,
) -> DataFrame:
    """SRP-LSH approximate top-k with a fully deterministic,
    cross-engine-reproducible hash family — the scale-safe ANN plan the
    correctness gate can hash-verify against a SQL oracle.

    Determinism design:

      * hyperplanes are ±1 vectors derived from md5 of "srp:t:j:i" —
        no seeded RNG, byte-identical reproducible in any engine with
        md5;
      * the plane dot products are computed over fixed-point quantized
        components (``round(x*quant)`` as int64), so bucket assignment
        is exact integer math — immune to FP summation-order drift
        between engines (a sign flip near 0.0 would otherwise change
        buckets);
      * candidates are scored with exact double cosine and ranked by
        the ROUNDED cosine (6 dp) with neighbor-id tiebreak, making the
        top-k deterministic across engines.

    Scale shape (the 100 TB plan): signatures are MAP-SIDE — one
    Arrow-batched int64 matmul per batch against the md5-derived ±1
    plane matrix (built once per worker from hashlib, bit-identical to
    the oracle's md5 expression; integer arithmetic has a single
    correct answer, so the numpy kernel and the SQL formulation agree
    exactly).  An earlier formulation spelled the same math as 2048
    column literals + 32 interpreted zip_with/aggregate lambdas per
    row; the Arrow kernel builds in milliseconds instead of seconds
    and vectorizes the per-row work.  Then: bucket self equi-join (the
    only pairwise stage, bucketed never all-pairs) -> per-pair
    array-dot scoring, linear in candidate count -> window top-k.  No
    driver collect, no broadcast of the data matrix.

    ``probe_radius=1`` is MULTI-PROBE LSH (Lv et al. 2007, simplified
    to the full Hamming-1 ring): each vector additionally probes the
    n_planes buckets that differ from its own in exactly one sign
    bit — near-boundary neighbors land one bit apart far more often
    than chance, so radius 1 buys the recall of ~n_planes extra hash
    tables for a map-side explode factor of n_planes+1 on the PROBE
    side only (the index side stays one bucket per vector — storage
    does not grow, unlike adding tables).  Candidates remain a
    superset of radius 0, so recall is monotone (tested).
    """
    if probe_radius not in (0, 1):
        raise ValueError("probe_radius must be 0 or 1")
    sigs = srp_signatures_portable(df, n_planes, n_tables, quant, id_col, vec_col)
    # Both sides of the self-join derive sigs; persist so the (pure
    # map-side, but 32-lambda) signature scan runs once.  Blocks are
    # dropped by the ContextCleaner once the result is gc'd.
    from pyspark import StorageLevel

    sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)  # caller-owned: operators/__init__ contract
    probe = sigs
    if probe_radius == 1:
        probe = sigs.select(
            "vec_id",
            "t",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << j))
                        for j in range(n_planes)
                    ],
                )
            ).alias("bucket"),
        )
    a, b = probe.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id"), F.col("b.vec_id").alias("neighbor_id"))
        .distinct()
    )
    # norms once per vector, before the candidate join
    nrm = F.sqrt(sq_norm(F.col(vec_col)))
    qa = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("qv"), nrm.alias("na"))
    qb = df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"), nrm.alias("nb")
    )
    pair_dot = dot(F.col("qv"), F.col("nv"))
    scored = (
        cand.join(qa, "vec_id")
        .join(qb, "neighbor_id")
        .select(
            "vec_id",
            "neighbor_id",
            F.round(pair_dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )
    return _topk(scored, k, "rnk", "long")


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    keep_vec: bool = False,
) -> DataFrame:
    """Symmetric per-vector linear quantization of an embedding column
    to ``bits``-bit integer codes — the standard 4x storage/bandwidth
    reduction for embedding tables at corpus scale (codes ship as
    int8; the float vector reconstructs as ``code * scale``).

    scale  = max|x| / (2^(bits-1) - 1)
    code_i = floor(x_i / scale + 0.5)   ∈ [-(2^(bits-1)-1), 2^(bits-1)-1]

    floor-based rounding (not half-even round()) keeps the arithmetic
    bit-identical across engines: /, +0.5 and floor are all exactly-
    rounded IEEE ops.  All-zero vectors get scale 0 and all-zero codes.
    Entirely map-side — no shuffle, no UDF.

    Returns (id, scale:double, codes:array<int>); reconstruction error
    is bounded by scale/2 per element.  ``keep_vec=True`` passes the
    original vector column through (for fidelity audits) so consumers
    never need a join to re-attach it.
    """
    qmax = 2 ** (bits - 1) - 1
    amax = F.array_max(F.transform(vec_col, lambda v: F.abs(v.cast("double"))))
    with_scale = df.select(
        F.col(id_col), F.col(vec_col), (amax / F.lit(float(qmax))).alias("scale")
    )
    codes = F.when(
        F.col("scale") > 0,
        F.transform(
            vec_col,
            lambda v: F.floor(v.cast("double") / F.col("scale") + F.lit(0.5)).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(vec_col, lambda v: F.lit(0)))
    kept = [F.col(vec_col)] if keep_vec else []
    return with_scale.select(id_col, "scale", codes.alias("codes"), *kept)
