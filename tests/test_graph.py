"""Iterative PageRank (operators/graph.py): exact integer recurrence
vs a pure-Python reference on a handcrafted graph, ranking sanity, and
plan shape. The full fixture-graph pipeline is additionally
hash-verified against the unrolled DuckDB oracle in
tests/test_oracle_parity.py (trade_graph_pagerank)."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from mpi_word_count_spark.operators.graph import (
    DAMPING_DEN,
    DAMPING_NUM,
    pagerank_fixed_point,
)

# a small undirected graph: hub 0 — {1,2,3}, plus the 4—5 dumbbell
UNDIRECTED = [(0, 1), (0, 2), (0, 3), (4, 5)]


def both_orientations():
    return UNDIRECTED + [(b, a) for a, b in UNDIRECTED]


def python_pagerank(edges, iterations, scale):
    """The operator's recurrence in plain ints — the ground truth the
    distributed version must hit bit-for-bit."""
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    base = (scale * (DAMPING_DEN - DAMPING_NUM)) // DAMPING_DEN
    rank = {v: scale for v in out}
    for _ in range(iterations):
        recv = defaultdict(int)
        for u, nbrs in out.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                recv[v] += c
        rank = {v: base + (DAMPING_NUM * s) // DAMPING_DEN for v, s in recv.items()}
    return rank


def run_spark_pagerank(spark, iterations, scale=10**6):
    edges = spark.createDataFrame(both_orientations(), "src long, dst long")
    ranks = pagerank_fixed_point(edges, iterations=iterations, scale=scale)
    return {r["node"]: r["rank_fp"] for r in ranks.collect()}


def test_matches_python_recurrence_exactly(spark):
    for iters in (1, 3, 6):
        expect = python_pagerank(both_orientations(), iters, 10**6)
        got = run_spark_pagerank(spark, iters)
        assert got == expect, f"iterations={iters}"


def test_ranking_semantics(spark):
    got = run_spark_pagerank(spark, 6)
    # the hub outranks its leaves; symmetric leaves tie exactly
    assert got[0] > got[1]
    assert got[1] == got[2] == got[3]
    # the isolated dumbbell pair ties and sits between leaf and hub
    assert got[4] == got[5]
    # integer fixed point only truncates: total mass never grows
    assert sum(got.values()) <= 6 * 10**6


def test_iteration_plan_has_no_quadratic_join(spark):
    edges = spark.createDataFrame(both_orientations(), "src long, dst long")
    ranks = pagerank_fixed_point(edges, iterations=2, scale=10**6)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    # each round is an equi-join + hash aggregation; a lineage-truncated
    # round plan must stay O(1) — scanning the prior round's RDD, never
    # re-deriving it
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_counts_match_bruteforce(spark):
    from itertools import combinations

    from mpi_word_count_spark.operators.graph import triangle_counts

    # K4 on {0..3} + a pendant (3—4) + a triangle-free path (5—6—7)
    edges = [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
        (3, 4), (5, 6), (6, 7),
    ]
    eset = {frozenset(e) for e in edges}
    nodes = sorted({n for e in edges for n in e})
    expect = {}
    for n in nodes:
        deg = sum(1 for e in eset if n in e)
        nbrs = [m for m in nodes if frozenset((n, m)) in eset]
        tri = sum(
            1 for a, b in combinations(nbrs, 2) if frozenset((a, b)) in eset
        )
        expect[n] = (deg, tri)

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: (r["degree"], r["triangles"])
        for r in triangle_counts(df).collect()
    }
    assert got == expect  # K4 nodes: 3 triangles each; path: 0


def test_triangle_plan_is_all_equi_joins(spark):
    from mpi_word_count_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "a long, b long")
    plan = (
        triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_path_peels_to_empty_cycle_survives(spark):
    """The defining k-core cascade: a path has NO 2-core (endpoints
    peel first, exposing new endpoints every round — a genuinely
    multi-round cascade), while a cycle IS its own 2-core (every node
    keeps degree 2, nothing ever peels)."""
    from mpi_word_count_spark.operators.graph import kcore_peel

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "a long, b long"
    )
    # 8-node path, k=2: peel depth is ceil(n/2) = 4 rounds
    assert kcore_peel(path, k=2, rounds=4).count() == 0

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "a long, b long"
    )
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_peel(cycle, k=2, rounds=4).collect()
    }
    assert got == {i: 2 for i in range(8)}


def test_kcore_fixed_rounds_cover_convergence(spark):
    """The registered query's fixed depth must COVER the fixture's
    peel depth: one extra round changes nothing, so the fixed-round
    result equals the true k-core."""
    from mpi_word_count_spark.queries.graph_queries import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )
    from mpi_word_count_spark.operators.graph import kcore_peel
    from mpi_word_count_spark.tables import table

    o = table(spark, "orders", SF_DIR)
    li = table(spark, "lineitem", SF_DIR)
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    at_rounds = {
        (r["node"], r["core_degree"])
        for r in kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).collect()
    }
    one_more = {
        (r["node"], r["core_degree"])
        for r in kcore_peel(
            edges, k=_KCORE_K, rounds=_KCORE_ROUNDS + 1
        ).collect()
    }
    assert at_rounds == one_more
    assert at_rounds  # the fixture 10-core is non-empty
    # and the peel is non-vacuous: some node was actually removed
    all_nodes = (
        edges.select(F.col("a").alias("n"))
        .union(edges.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    assert len(at_rounds) < all_nodes


def test_kcore_plan_has_no_quadratic_join(spark):
    from mpi_word_count_spark.operators.graph import kcore_peel

    df = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "a long, b long")
    plan = (
        kcore_peel(df, k=2, rounds=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """Seeded teleport must rank the seeds' neighborhood above the
    global form's flat profile: seeds hold the highest customer ranks,
    and total mass is concentrated (top-5 customers carry a larger
    rank share than under global pagerank)."""
    from mpi_word_count_spark.queries.graph_queries import (
        _PPR_SEED_MAX_CUSTKEY,
        q_personalized_pagerank,
        q_trade_graph_pagerank,
    )
    from tests.conftest import SF_DIR

    ppr = {
        (r["node_type"], r["key"]): r["rank_fp"]
        for r in q_personalized_pagerank(spark, SF_DIR).collect()
    }
    seeds = {
        ("customer", k) for k in range(1, _PPR_SEED_MAX_CUSTKEY + 1)
    }
    cust_ranks = sorted(
        ((k, v) for k, v in ppr.items() if k[0] == "customer"),
        key=lambda kv: -kv[1],
    )
    top5 = {k for k, _ in cust_ranks[:_PPR_SEED_MAX_CUSTKEY]}
    assert top5 == seeds, top5
    glob = {
        (r["node_type"], r["key"]): r["rank_fp"]
        for r in q_trade_graph_pagerank(spark, SF_DIR).collect()
    }

    def share(ranks):
        tot = sum(ranks.values())
        return sum(ranks.get(s, 0) for s in seeds) / tot

    assert share(ppr) > 3 * share(glob)


def test_label_propagation_separates_components_deterministically(spark):
    """Two disjoint cliques must converge to two communities labeled
    by each clique's minimum node id; a star collapses to the hub's
    label in one round (self-loop damping, min-label tie-break)."""
    from mpi_word_count_spark.operators.graph import label_propagation

    def undirected(pairs):
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        return spark.createDataFrame(rows, "src long, dst long")

    cliques = undirected(
        [(2, 4), (4, 6), (2, 6), (1, 3), (3, 5), (1, 5)]
    )
    got = {r["node"]: r["label"] for r in label_propagation(cliques).collect()}
    assert got == {2: 2, 4: 2, 6: 2, 1: 1, 3: 1, 5: 1}

    star = undirected([(0, 2), (0, 4), (0, 6)])
    got = {r["node"]: r["label"] for r in label_propagation(star, rounds=1).collect()}
    assert got == {0: 0, 2: 0, 4: 0, 6: 0}


def test_label_propagation_ignores_input_self_loops(spark):
    """An input self-loop (v, v) must not count v's own label twice:
    the same edge set with and without self-loops on some of its
    nodes gives the same labels, round by round."""
    from mpi_word_count_spark.operators.graph import label_propagation

    def undirected(pairs, loops=()):
        rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
        rows += [(v, v) for v in loops]
        return spark.createDataFrame(rows, "src long, dst long")

    def labels(df, rounds):
        return {
            r["node"]: r["label"]
            for r in label_propagation(df, rounds=rounds).collect()
        }

    star = [(0, 2), (0, 4), (0, 6)]
    assert labels(undirected(star, loops=[2, 4]), 1) == labels(undirected(star), 1)
    # two triangles joined by a bridge, plus a pendant path
    graph = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (6, 7), (7, 8)]
    for rounds in (1, 2, 4):
        assert labels(undirected(graph, loops=[3, 5, 7, 8]), rounds) == labels(
            undirected(graph), rounds
        )
