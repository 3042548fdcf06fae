"""Deterministic centroid assignment and product quantization
(operators/clustering) against independent numpy reconstructions, and
the structural claim the 100 TB story rests on (map-side assignment)."""

import numpy as np
from pyspark.sql import functions as F

from semantic_similarity_system_using_aws_mapreduce_spark.operators.clustering import (
    assign_clusters,
    seed_centroids,
)

SF_DIR = "/root/testdata/sf0.001"
K = 8


def _matrix(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, X


def _numpy_assign(ids, X, seed_ids):
    """Independent reference: 6-dp-rounded squared distances to the
    seed vectors with index tie-break (the engine's portability
    contract)."""
    order = {v: i for i, v in enumerate(ids)}
    C = X[[order[s] for s in seed_ids]]
    d2 = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
    return d2.argmin(axis=1), d2.min(axis=1)  # argmin: lowest index on ties


def test_seed_centroids_are_the_md5_topk(spark):
    import hashlib

    ids, _ = _matrix(spark)
    want = sorted(
        ids, key=lambda v: int(hashlib.md5(f"kmeans:{v}".encode()).hexdigest()[:15], 16)
    )[:K]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = seed_centroids(emb, K).count()
    assert got == K
    # ranks 0..K-1 exactly once, and each seed's dist2 to itself is 0
    assigned = assign_clusters(emb, seed_centroids(emb, K))
    zero = {r.vec_id for r in assigned.filter(F.col("dist2") == 0.0).collect()}
    assert set(want) <= zero  # seeds sit at distance 0 from their centroid


def test_assign_clusters_matches_independent_numpy(spark):
    import hashlib

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ids, X = _matrix(spark)
    seed_ids = sorted(
        ids, key=lambda v: int(hashlib.md5(f"kmeans:{v}".encode()).hexdigest()[:15], 16)
    )[:K]

    assigned = assign_clusters(emb, seed_centroids(emb, K))
    got = {r.vec_id: (r.cluster, r.dist2) for r in assigned.collect()}

    ref_assign, ref_d2 = _numpy_assign(ids, X, seed_ids)
    # fp sum-order near 6-dp boundaries can flip an assignment; on this
    # fixture the two implementations agree exactly
    assert all(got[v][0] == ref_assign[i] for i, v in enumerate(ids))
    np.testing.assert_allclose([got[v][1] for v in ids], ref_d2, rtol=0, atol=1e-6)


def test_assignment_plan_is_exchange_free(spark):
    """The scale contract: assignment never shuffles the vector table —
    the centroid side arrives as a broadcast, the argmin is map-side."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = assign_clusters(emb, seed_centroids(emb, K))._jdf.queryExecution().executedPlan().toString()
    head = plan.split("BroadcastNestedLoopJoin")[0]
    assert "Exchange" not in head, head


def test_pq_encode_matches_numpy_and_stays_mapside(spark):
    """pq_encode vs an independent numpy re-derivation (codes and
    6-dp errors per subspace), plus the plan contract: encoding is a
    broadcast cross join with ZERO exchanges of the vector relation."""
    import hashlib

    import numpy as np

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.clustering import pq_encode

    rng = np.random.default_rng(7)
    n, d, m, k = 60, 24, 4, 8
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in pq_encode(emb, m=m, k=k).collect()}

    # independent model: seeds = k smallest md5('kmeans:'||id) ids
    def h(i):
        return int(hashlib.md5(f"kmeans:{i}".encode()).hexdigest()[:15], 16)

    seed_ids = sorted(range(n), key=lambda i: (h(i), i))[:k]
    sub = d // m
    for i in range(n):
        v64 = vecs[i].astype(np.float64)
        recon = 0.0
        for j in range(m):
            sv = v64[j * sub : (j + 1) * sub]
            cands = []
            for rank, sid in enumerate(seed_ids):
                cv = vecs[sid].astype(np.float64)[j * sub : (j + 1) * sub]
                cands.append((round(float(((sv - cv) ** 2).sum()), 6), rank))
            d2, code = min(cands)
            r = got[i]
            assert getattr(r, f"c{j}") == code, (i, j)
            assert abs(getattr(r, f"e{j}") - d2) < 1e-9
            recon += d2
        assert abs(got[i].recon_err - recon) < 1e-9

    plan = pq_encode(emb, m=m, k=k)._jdf.queryExecution().executedPlan().toString()
    # seeds build aggregates k rows; the encode side of the join must
    # broadcast, never shuffle the vectors
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pq_adc_topk_matches_numpy_model(spark):
    """pq_adc_topk vs an independent numpy ADC: same seed codebook
    model, same 6-dp table rounding, same fixed-order score sum —
    rankings must be identical; and the approximation must be sane
    (each query's own vector lands in its top-k, since its ADC score
    is exactly its reconstruction error)."""
    import hashlib

    import numpy as np

    from semantic_similarity_system_using_aws_mapreduce_spark.operators.clustering import pq_adc_topk

    rng = np.random.default_rng(11)
    n, d, m, k, topk = 80, 24, 4, 8, 5
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    q_ids = [0, 1]
    queries = spark.createDataFrame(
        [(qi, [float(v) for v in vecs[qv]]) for qi, qv in enumerate(q_ids)],
        "q_id int, qvec array<float>",
    )
    got = sorted(
        (r.q_id, r.rank, r.vec_id, r.adc_d2)
        for r in pq_adc_topk(emb, queries, m=m, k=k, topk=topk).collect()
    )

    def h(i):
        return int(hashlib.md5(f"kmeans:{i}".encode()).hexdigest()[:15], 16)

    seed_ids = sorted(range(n), key=lambda i: (h(i), i))[:k]
    sub = d // m
    cbs = [
        [vecs[s].astype(np.float64)[j * sub : (j + 1) * sub] for s in seed_ids]
        for j in range(m)
    ]
    codes = {}
    for i in range(n):
        v = vecs[i].astype(np.float64)
        codes[i] = [
            min(
                (round(float(((v[j * sub : (j + 1) * sub] - cbs[j][r]) ** 2).sum()), 6), r)
                for r in range(k)
            )[1]
            for j in range(m)
        ]
    want = []
    for qi, qv in enumerate(q_ids):
        q = vecs[qv].astype(np.float64)
        tab = [
            [round(float(((q[j * sub : (j + 1) * sub] - cbs[j][r]) ** 2).sum()), 6) for r in range(k)]
            for j in range(m)
        ]
        scored = sorted(
            (round(sum(tab[j][codes[i][j]] for j in range(m)), 6), i) for i in range(n)
        )
        want += [(qi, r + 1, i, s) for r, (s, i) in enumerate(scored[:topk])]
    assert got == sorted(want)
    # self-retrieval sanity: the query vector itself is in its top-k
    for qi, qv in enumerate(q_ids):
        assert any(g[0] == qi and g[2] == qv for g in got)

