"""As-of join and connected-components library operators."""

import datetime

from semantic_similarity_system_using_aws_mapreduce_spark.operators.asof import asof_join
from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import connected_components


def _ts(m):
    return datetime.datetime(2024, 1, 1, 0, m)


def test_asof_backward(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(5)), (2, 10, _ts(1)), (3, 20, _ts(9))],
        ["id", "k", "t"],
    )
    right = spark.createDataFrame(
        [(100, 10, _ts(2), 1.0), (101, 10, _ts(5), 2.0), (102, 20, _ts(10), 3.0)],
        ["rid", "k", "t", "v"],
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        value_cols=["rid", "v"], right_tiebreak="rid",
    )
    got = {r.id: (r.asof_rid, r.asof_v) for r in out.collect()}
    assert got[1] == (101, 2.0)  # same-instant right row is visible
    assert got[2] == (None, None)  # nothing at or before t=1
    assert got[3] == (None, None)  # right row is after left time


def test_asof_equal_ts_tiebreak(spark):
    left = spark.createDataFrame([(1, 5, _ts(3))], ["id", "k", "t"])
    right = spark.createDataFrame(
        [(7, 5, _ts(3), 1.0), (9, 5, _ts(3), 2.0), (8, 5, _ts(3), 3.0)],
        ["rid", "k", "t", "v"],
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        value_cols=["rid"], right_tiebreak="rid",
    ).collect()[0]
    assert out.asof_rid == 9  # greatest tiebreak wins deterministically


def test_connected_components(spark):
    # two components: {1,2,3,4} (chain) and {10,11}; singleton edges absent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converges_on_long_chain(spark):
    n = 24
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_connected_components_local_and_distributed_paths_agree(spark):
    """The size-gated driver union-find is a pure physical-strategy
    choice: on the same graph (cliques + a long chain + self-contained
    pairs) it must produce EXACTLY the labels the distributed
    pointer-doubling loop produces, and the stats hook must report
    which path ran."""
    edges = spark.createDataFrame(
        [(i, i + 100) for i in range(20)]
        + [(i, i + 200) for i in range(20)]
        + [(1000 + i, 1001 + i) for i in range(50)],
        "doc_a long, doc_b long",
    )
    s_local, s_dist = {}, {}
    local = connected_components(edges, stats=s_local)
    dist = connected_components(edges, stats=s_dist, local_threshold=0)
    assert s_local["mode"] == "local" and s_local["rounds"] == 0
    assert s_dist["mode"] == "distributed" and s_dist["rounds"] >= 1
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, dist.collect()))


def test_connected_components_empty_edges(spark):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0
    assert connected_components(empty, local_threshold=0).count() == 0


def test_connected_components_self_loops_and_string_ids_agree(spark):
    """Regression (r5 review): a node whose only edge is a self-loop
    must still receive a label on BOTH paths, and the local path must
    preserve non-long id types instead of hardcoding a long schema."""
    edges = spark.createDataFrame(
        [(5, 5), (1, 2)], "doc_a long, doc_b long"
    )
    local = sorted(map(tuple, connected_components(edges).collect()))
    dist = sorted(
        map(tuple, connected_components(edges, local_threshold=0).collect())
    )
    assert local == dist == [(1, 1), (2, 1), (5, 5)]

    sedges = spark.createDataFrame(
        [("b", "a"), ("c", "c")], "doc_a string, doc_b string"
    )
    got = {r.node: r.cluster_id for r in connected_components(sedges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}
    sdist = {
        r.node: r.cluster_id
        for r in connected_components(sedges, local_threshold=0).collect()
    }
    assert sdist == got


def test_connected_components_paths_agree_on_random_graphs(spark):
    """Property drill: on seeded random graphs (mixed cliques, chains,
    self-loops, isolated pairs), the driver union-find and the
    distributed pointer-doubling loop must produce identical labels."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = []
        for _ in range(80):
            a, b = rng.randrange(n), rng.randrange(n)
            edges.append((a, b))  # includes self-loops when a == b
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        local = sorted(map(tuple, connected_components(df).collect()))
        dist = sorted(
            map(tuple, connected_components(df, local_threshold=0).collect())
        )
        assert local == dist, f"trial {trial} diverged"


def _pagerank_reference(edges, nodes, n_iter=3, damping=850):
    """Pure-Python integer PageRank mirroring operators/graph.pagerank
    (trunc division throughout; dangling nodes contribute nothing)."""
    n = len(nodes)
    wout = {}
    for s, d, w in edges:
        wout[s] = wout.get(s, 0) + w
    r = {v: 1_000_000 // n for v in nodes}
    tp = (1000 - damping) * 1000 // n
    for _ in range(n_iter):
        nxt = {v: tp for v in nodes}
        for s, d, w in edges:
            nxt[d] += damping * w * r[s] // (1000 * wout[s])
        r = nxt
    return r


def test_pagerank_matches_integer_reference(spark):
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import pagerank

    # a hub (0), a chain hanging off it, an isolated node (9), and
    # asymmetric weights — exercises teleport-only nodes, weighted
    # split, and dangling-node leakage (node 4 has no out-edges)
    edges = [
        (0, 1, 5), (0, 2, 1), (1, 0, 3), (2, 0, 1),
        (1, 3, 2), (3, 4, 7),
    ]
    nodes = list(range(5)) + [9]
    got = {
        r.node: r.rank_micro
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long, w long"),
            spark.createDataFrame([(v,) for v in nodes], "node long"),
            n_iter=3,
        ).collect()
    }
    want = _pagerank_reference(edges, nodes)
    assert got == want
    # sanity on the semantics, not just the arithmetic: the hub
    # outranks the chain tail's feeder, the isolated node sits at the
    # teleport floor
    tp3 = want[9]
    assert got[9] == 25000  # 150000 // 6
    assert got[0] > got[2] > tp3


def test_pagerank_rounds_are_deterministic_across_runs(spark):
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23, 1 + (i % 5)) for i in range(200)],
        "src long, dst long, w long",
    )
    a = sorted(map(tuple, pagerank(edges, n_iter=4).collect()))
    b = sorted(map(tuple, pagerank(edges, n_iter=4).collect()))
    assert a == b and len(a) > 0


def test_pagerank_local_and_distributed_paths_agree(spark):
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 11) % 37, 1 + (i % 7)) for i in range(300)],
        "src long, dst long, w long",
    )
    stats_l, stats_d = {}, {}
    local = sorted(map(tuple, pagerank(edges, n_iter=3, stats=stats_l).collect()))
    dist = sorted(
        map(tuple, pagerank(edges, n_iter=3, local_threshold=0, stats=stats_d).collect())
    )
    assert stats_l["mode"] == "local" and stats_d["mode"] == "distributed"
    assert local == dist and len(local) > 0


def test_pagerank_explicit_universe_omitting_endpoints_agrees(spark):
    """An explicitly-passed nodes universe that omits edge endpoints
    must behave identically across the local_threshold boundary: the
    distributed loop drops those contributions (inner join on src,
    left join FROM nodes on dst) while W(u) still counts every
    outgoing edge — the local base case used to KeyError instead
    (ADVICE r6)."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        # endpoints 0..9; edges touching 7/8/9 fall outside the universe
        [(i % 10, (i * 3 + 1) % 10, 1 + (i % 4)) for i in range(40)],
        "src long, dst long, w long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(7)], "node long")
    stats_l, stats_d = {}, {}
    local = sorted(
        map(tuple, pagerank(edges, nodes=nodes, n_iter=3, stats=stats_l).collect())
    )
    dist = sorted(
        map(
            tuple,
            pagerank(
                edges, nodes=nodes, n_iter=3, local_threshold=0, stats=stats_d
            ).collect(),
        )
    )
    assert stats_l["mode"] == "local" and stats_d["mode"] == "distributed"
    assert local == dist
    assert [n for n, _ in local] == list(range(7))
