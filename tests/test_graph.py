"""graph.pagerank semantics: pinned against a sequential Python model of the
identical integer fixed-point chain, plus structural properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_project_spark.operators import graph


def _model_pagerank(edges, dp=850, iterations=3):
    """Sequential reference model: same pico-unit integer arithmetic as
    graph.pagerank (floor division on all-positive quantities)."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {v: graph.RANK_SCALE // n for v in nodes}
    for _ in range(iterations):
        s = {v: 0 for v in nodes}
        for u, v in edges:
            s[v] += r[u] // outdeg[u]
        r = {
            v: (1000 - dp) * graph.RANK_SCALE // (1000 * n) + dp * s[v] // 1000
            for v in nodes
        }
    return r


def test_pagerank_matches_sequential_model(spark):
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),  # cycle
        ("d", "a"), ("e", "a"), ("f", "a"),  # fan-in to a
        ("a", "d"),
        ("d", "a"),  # duplicate edge: must collapse
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        row["node"]: row["rank_pico"]
        for row in graph.pagerank(df, iterations=3).collect()
    }
    assert got == _model_pagerank(edges)


def test_pagerank_long_run_stays_bounded(spark):
    """Bounded-iteration pin for the lazy per-iteration cut: each
    iteration's rank table has one consumer, so a lazy localCheckpoint
    still truncates lineage at construction. At 25 iterations the values
    must equal the sequential model, and the analyzed plan must not grow
    with the iteration count (a cut that kept lineage would make it ~5×
    longer than at 5 iterations)."""
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("d", "a"), ("e", "a"), ("f", "a"),
        ("a", "d"), ("c", "e"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])

    def analyzed_len(iterations):
        ranks = graph.pagerank(df, iterations=iterations)
        return ranks, len(ranks._jdf.queryExecution().analyzed().toString())

    long_run, long_len = analyzed_len(25)
    _, short_len = analyzed_len(5)
    got = {row["node"]: row["rank_pico"] for row in long_run.collect()}
    assert got == _model_pagerank(edges, iterations=25)
    assert long_len <= 1.5 * short_len, (long_len, short_len)


def test_pagerank_cycle_is_uniform(spark):
    """On a pure cycle every node keeps 1/N of the mass (up to the defined
    floor truncation) — and all nodes are exactly equal."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    out = graph.pagerank(
        spark.createDataFrame(edges, ["src", "dst"]), iterations=4
    ).collect()
    ranks = {r["rank_pico"] for r in out}
    assert len(ranks) == 1
    (r,) = ranks
    assert abs(r - graph.RANK_SCALE // 4) <= 4  # floor loss only

def test_pagerank_hub_outranks_leaves(spark):
    edges = [(f"leaf{i}", "hub") for i in range(8)] + [("hub", "leaf0")]
    out = {
        r["node"]: r["rank_pico"]
        for r in graph.pagerank(
            spark.createDataFrame(edges, ["src", "dst"]), iterations=3
        ).collect()
    }
    assert out["hub"] > max(v for k, v in out.items() if k != "hub")


def test_source_rank_weights_bounds(spark):
    edges = [(f"leaf{i}", "hub") for i in range(8)] + [("hub", "leaf0")]
    ranks = graph.pagerank(
        spark.createDataFrame(edges, ["src", "dst"]), iterations=2
    )
    top = max(ranks.collect(), key=lambda r: r["rank_pico"])["node"]
    w = {
        r["node"]: r["weight_permille"]
        for r in graph.source_rank_weights(ranks).collect()
    }
    assert w[top] == 1000  # the max node saturates
    assert all(0 <= v <= 1000 for v in w.values())


def test_pagerank_drives_mixture_sampling(spark):
    """Composition contract: pagerank -> permille weights -> sample_mixture.
    The high-rank source keeps (almost) everything; the low-rank source is
    downsampled roughly in rank proportion."""
    from big_data_project_spark.operators import curation

    # 'good' is linked by everyone and spreads its own mass across all
    # leaves (a hub); 'bad' only links out, so it keeps base rank only
    edges = (
        [(f"u{i}", "good") for i in range(6)]
        + [("good", f"u{i}") for i in range(6)]
        + [("bad", "good")]
    )
    ranks = graph.pagerank(spark.createDataFrame(edges, ["src", "dst"]), iterations=3)
    rates = graph.rank_weight_map(graph.source_rank_weights(ranks))
    assert rates["good"] == 1000 and rates["bad"] < rates["good"]

    docs = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'good' ELSE 'bad' END AS source"
    )
    kept = curation.sample_mixture(docs, rates, key="source")
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src.get("good", 0) == 1000  # rate 1000 keeps all
    expected_bad = rates["bad"]  # ~permille of 1000 docs
    assert abs(by_src.get("bad", 0) - expected_bad) < 150


def test_triangle_count_matches_bruteforce(spark):
    """Oriented wedge-join count vs an itertools brute force, on a messy
    edge list (duplicates, both directions, self-loops)."""
    import itertools

    raw = [(i % 13, (i * 7 + 3) % 13) for i in range(60)] + [
        (5, 5), (1, 2), (2, 1), (3, 7), (7, 3),
    ]
    und = {tuple(sorted(e)) for e in raw if e[0] != e[1]}
    nodes = sorted({x for e in und for x in e})
    expected = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    row = graph.triangle_count(
        spark.createDataFrame(raw, ["src", "dst"])
    ).collect()[0]
    assert row["n_triangles"] == expected
    assert row["n_edges"] == len(und)
    assert row["n_nodes"] == len(nodes)


def test_weighted_pagerank_follows_weight_mass(spark):
    """With all structure equal, the destination of the heavier edge must
    outrank the lighter one, and the unweighted call must equal weight=1."""
    edges = [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank_pico"]
        for r in graph.pagerank(df, iterations=3, weight="w").collect()
    }
    assert got["b"] > got["c"]
    uw = {
        r["node"]: r["rank_pico"]
        for r in graph.pagerank(
            df.select("src", "dst"), iterations=3
        ).collect()
    }
    ones = {
        r["node"]: r["rank_pico"]
        for r in graph.pagerank(
            df.withColumn("w", F.lit(1)), iterations=3, weight="w"
        ).collect()
    }
    assert uw == ones


def test_neighbor_jaccard_matches_bruteforce(spark):
    from big_data_project_spark.operators import graph

    edges = [
        ("s1", "c1"), ("s1", "c2"), ("s1", "c3"),
        ("s2", "c2"), ("s2", "c3"), ("s2", "c4"),
        ("s3", "c9"),                       # disjoint — must not appear
        ("s4", "c1"), ("s4", "c2"), ("s4", "c3"), ("s4", "c4"),
        ("s1", "c1"),                       # duplicate edge tolerated
    ]
    df = spark.createDataFrame(edges, "s string, c string")
    got = {
        (r.na, r.nb): (r.n_inter, r.n_union, r.jaccard_permille)
        for r in graph.neighbor_jaccard(df, min_common=1, k=10).collect()
    }

    nbrs = {}
    for s, c in edges:
        nbrs.setdefault(s, set()).add(c)
    want = {}
    ss = sorted(nbrs)
    for i, a in enumerate(ss):
        for b in ss[i + 1:]:
            inter = len(nbrs[a] & nbrs[b])
            if inter >= 1:
                union = len(nbrs[a] | nbrs[b])
                want[(a, b)] = (inter, union, 1000 * inter // union)
    assert got == want, (got, want)
