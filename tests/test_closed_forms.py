"""Closed-form fixtures for the round-5 continuation operators.

The avg_local_cc descale bug proved the failure mode these tests
exist for: a DuckDB oracle that MIRRORS the Spark formulation
hash-matches even when both share a semantic mistake. Every test here
checks an operator against a hand-computable ground truth on a
constructed input, independent of any oracle SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ascii_hydra_spark.operators import analytics, graph


def test_clustering_coefficients_on_disjoint_cliques(spark):
    # two disjoint 4-cliques: every node deg 3, t=3, local cc exactly 1
    edges = []
    for base in (0, 10):
        ids = [base + i for i in range(4)]
        edges += [(a, b) for a in ids for b in ids if a < b]
    df = spark.createDataFrame(edges, "src INT, dst INT")
    row = graph.clustering_coefficients(df).collect()[0]
    assert row["n_nodes_deg2"] == 8
    assert row["n_wedges"] == 8 * 3  # C(3,2)=3 wedges per node
    assert row["n_closed_wedges"] == 8 * 3
    assert row["transitivity"] == 1.0
    assert row["avg_local_cc"] == 1.0


def test_clustering_coefficients_on_a_path(spark):
    # path 0-1-2-3: no triangles; only nodes 1,2 have deg >= 2
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src INT, dst INT")
    row = graph.clustering_coefficients(df).collect()[0]
    assert row["n_nodes_deg2"] == 2
    assert row["n_wedges"] == 2 and row["n_closed_wedges"] == 0
    assert row["transitivity"] == 0.0 and row["avg_local_cc"] == 0.0


def test_degree_assortativity_star_is_minus_one(spark):
    # a star graph is perfectly disassortative: r = -1
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src INT, dst INT"
    )
    row = graph.degree_assortativity(df).collect()[0]
    assert row["n_edges"] == 5
    assert row["assortativity"] == -1.0


def test_degree_assortativity_regular_graph_is_null(spark):
    # a cycle is regular (zero degree variance): r undefined -> NULL
    df = spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)], "src INT, dst INT"
    )
    row = graph.degree_assortativity(df).collect()[0]
    assert row["assortativity"] is None


def test_triangle_kernel_on_noisy_k4(spark):
    # K4 on {1..4} (4 triangles) plus a reversed edge, a self-loop, a
    # pendant edge, an island edge and a duplicate: 8 canonical edges,
    # degrees 3,3,3,4 on the clique and 1 on nodes 5, 6, 7
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    noise = [(2, 1), (3, 3), (4, 5), (6, 7), (1, 2)]
    df = spark.createDataFrame(k4 + noise, "src INT, dst INT")
    n_tri = graph.triangle_count(df).collect()[0]["n_triangles"]
    assert n_tri == 4
    cc = graph.clustering_coefficients(df).collect()[0]
    assert cc["n_closed_wedges"] == 3 * n_tri
    assert cc["n_nodes_deg2"] == 4
    assert cc["n_wedges"] == 3 + 3 + 3 + 6
    # local cc: 1 on nodes 1-3, 2*3/(4*3) = 0.5 on node 4
    assert cc["transitivity"] == 0.8 and cc["avg_local_cc"] == 0.875
    r = graph.degree_assortativity(df).collect()[0]
    assert r["n_edges"] == 8
    # 16 directed copies: sum dx = 46, sum dx^2 = 148, sum dx*dy = 136
    assert r["assortativity"] == round((16 * 136 - 46**2) / (16 * 148 - 46**2), 6)


def test_hits_path_graph_authority_ordering(spark):
    # directed path a->b->c plus d->c: c has two hub parents -> top
    # authority; normalization makes its score exactly 1.0
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 3)], "src INT, dst INT"
    )
    rows = graph.hits(df, k=10).collect()
    assert rows[0]["n"] == 3 and rows[0]["authority"] == 1.0
    assert all(r["authority"] <= 1.0 for r in rows)


def test_reciprocity_mixed_graph(spark):
    # 1<->2 reciprocal, 1->3 not: 2 of 3 directed edges reciprocated
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3)], "src INT, dst INT"
    )
    row = graph.reciprocity(df).collect()[0]
    assert row["n_directed_edges"] == 3
    assert row["n_reciprocal"] == 2
    assert row["reciprocity"] == round(2 / 3, 6)


def test_bfs_frontier_counts_on_a_path(spark):
    # path 0-1-2-3-4 (undirected expansion), seed {0}:
    # frontiers {1}, {2}, {3}; visited 2, 3, 4
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "src INT, dst INT"
    )
    seeds = spark.createDataFrame([(0,)], "user_id INT")
    got = {
        r["hop"]: (r["n_frontier"], r["n_visited"])
        for r in graph.bfs_frontier_counts(edges, seeds).collect()
    }
    assert got == {1: (1, 2), 2: (1, 3), 3: (1, 4)}


def test_kendall_tau_perfect_and_inverted(spark):
    up = spark.createDataFrame(
        [(i, float(i), float(10 + i)) for i in range(6)],
        "k INT, x DOUBLE, y DOUBLE",
    )
    row = analytics.kendall_tau(up, "k", "x", "y").collect()[0]
    assert row["tau_b"] == 1.0 and row["discordant"] == 0
    down = spark.createDataFrame(
        [(i, float(i), float(10 - i)) for i in range(6)],
        "k INT, x DOUBLE, y DOUBLE",
    )
    row = analytics.kendall_tau(down, "k", "x", "y").collect()[0]
    assert row["tau_b"] == -1.0 and row["concordant"] == 0


def test_max_drawdown_hand_case(spark):
    # series 10, 8, 12, 5: peak before trough is 12, drawdown 7
    df = spark.createDataFrame(
        [("2020-01-0%d" % (i + 1), v) for i, v in enumerate([10.0, 8.0, 12.0, 5.0])],
        "day STRING, value DOUBLE",
    ).select(F.col("day").cast("date").alias("day"), "value")
    row = analytics.max_drawdown(df, "day", "value").collect()[0]
    assert row["trough_day"] == "2020-01-04"
    assert row["peak_value"] == 12.0 and row["trough_value"] == 5.0
    assert row["max_drawdown"] == 7.0
    assert row["drawdown_pct"] == round(7 / 12, 6)


def test_poisson_dispersion_constant_counts(spark):
    # constant counts: variance 0 -> dispersion 0, z negative
    df = spark.createDataFrame([(i, 5) for i in range(10)], "e INT, n INT")
    row = analytics.poisson_dispersion(df, "n").collect()[0]
    assert row["mean"] == 5.0 and row["dispersion"] == 0.0
    assert row["z"] == round(-math.sqrt(4.5), 6)


def test_abc_classification_boundary_entity(spark):
    # four entities 40/40/15/5: cum shares 40%, 80% (exact boundary ->
    # still A), 95% (exact boundary -> still B), 100% (C)
    df = spark.createDataFrame(
        [(1, 40.0), (2, 40.0), (3, 15.0), (4, 5.0)], "k INT, v DOUBLE"
    )
    got = {
        r["abc_class"]: (r["n_entities"], r["value_share"])
        for r in analytics.abc_classification(df, "k", "v").collect()
    }
    assert got["A"] == (2, 0.8)
    assert got["B"] == (1, 0.15)
    assert got["C"] == (1, 0.05)


def test_pareto_coverage_includes_crossing_entity(spark):
    # 50/30/20: cum-before for the 2nd is 50 < 80 -> included; for the
    # 3rd is 80, NOT < 80 -> excluded. n_needed = 2, covered 80%
    df = spark.createDataFrame(
        [(1, 50.0), (2, 30.0), (3, 20.0)], "k INT, v DOUBLE"
    )
    row = analytics.pareto_coverage(df, "k", "v").collect()[0]
    assert row["n_needed"] == 2
    assert row["covered_share"] == 0.8


def test_chi2_uniform_weekday_on_uniform_data(spark):
    # exactly 3 orders on each of the 7 weekdays -> chi2 = 0, p = 1
    days = [
        "2024-01-0%d" % d for d in range(1, 8)
    ]  # 2024-01-01 is a Monday; 7 consecutive days cover all weekdays
    df = spark.createDataFrame(
        [(d,) for d in days for _ in range(3)], "d STRING"
    ).select(F.col("d").cast("timestamp").alias("d"))
    row = analytics.chi2_uniform_weekday(df, "d").collect()[0]
    assert row["n_total"] == 21 and row["n_dows"] == 7
    assert row["chi2"] == 0.0 and row["p_value"] == 1.0


def test_entity_mix_entropy_extremes(spark):
    # entity 1: single item (H=0, bucket 0); entity 2: 2 equally-likely
    # items (H=ln2~0.693, bucket 6)
    rows = [(1, "a")] * 4 + [(2, "a")] * 3 + [(2, "b")] * 3
    df = spark.createDataFrame(rows, "e INT, i STRING")
    got = {
        r["bucket"]: r["n_entities"]
        for r in analytics.entity_mix_entropy_hist(df, "e", "i").collect()
    }
    assert got == {0: 1, 6: 1}


def test_lifecycle_states_hand_case(spark):
    # user active 2020-01, 2020-02, 2020-04: new, retained, resurrected
    df = spark.createDataFrame(
        [(1, "2020-01-15"), (1, "2020-02-15"), (1, "2020-04-15")],
        "user_id INT, ts STRING",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    got = {
        (r["month"], r["state"]): r["n_users"]
        for r in analytics.lifecycle_states(df, "user_id", "ts").collect()
    }
    assert got == {
        ("2020-01", "new"): 1,
        ("2020-02", "retained"): 1,
        ("2020-04", "resurrected"): 1,
    }
