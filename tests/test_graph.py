"""PageRank properties (operators/graph.py).

Correctness is pinned by conservation, symmetry, and a hand-computed
reference implementation, on BOTH physical arms: every PageRank helper
here runs the driver-local numpy arm and the Spark arm (forced by setting
``graph._LOCAL_MAX_EDGES`` below any edge count) and requires the same
schema and the same ranks. The DuckDB oracle (an unrolled CTE, see
``verification._pagerank_unrolled_sql``) covers the registry entries.
"""

from __future__ import annotations

import inspect

import pytest

from ascii_hydra_spark.operators import graph
from ascii_hydra_spark.verification import REGISTRY
from tests.oracle_compare import assert_results_match

# -1 is below any edge count, the empty graph's included
SPARK_ARM = -1


def _both_arms(edges, **kw) -> dict:
    """Run pagerank on each arm; assert equal schemas, node sets and ranks
    (1e-12) and return {node: rank}."""
    out = {}
    for arm, cap in (("local", graph._LOCAL_MAX_EDGES), ("spark", SPARK_ARM)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "_LOCAL_MAX_EDGES", cap)
            ranks = graph.pagerank(edges, **kw)
            out[arm] = (ranks.schema, {r.node: r.rank for r in ranks.collect()})
    (local_schema, local), (spark_schema, dist) = out["local"], out["spark"]
    assert local_schema == spark_schema
    assert local.keys() == dist.keys()
    for v in local:
        assert local[v] == pytest.approx(dist[v], abs=1e-12), v
    return local


def _ranks(spark, edge_rows, iterations=20, damping=0.85):
    e = spark.createDataFrame(edge_rows, "src LONG, dst LONG")
    return _both_arms(e, iterations=iterations, damping=damping)


def _reference_pagerank(edge_rows, iterations, damping=0.85):
    """Plain-Python reference: same fixed-iteration, dangling-uniform model."""
    nodes = sorted({s for s, _ in edge_rows} | {d for _, d in edge_rows})
    out = {}
    for s, d in set(edge_rows):
        out.setdefault(s, []).append(d)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for s, ds in out.items():
            for d in ds:
                contrib[d] += rank[s] / len(ds)
        dangling = sum(rank[v] for v in nodes if v not in out)
        base = (1 - damping) / n + damping * dangling / n
        rank = {v: base + damping * contrib[v] for v in nodes}
    return rank


def test_pagerank_cycle_is_uniform(spark):
    got = _ranks(spark, [(1, 2), (2, 3), (3, 1)])
    assert got[1] == pytest.approx(1 / 3, abs=1e-9)
    assert got[2] == pytest.approx(1 / 3, abs=1e-9)
    assert got[3] == pytest.approx(1 / 3, abs=1e-9)


def test_pagerank_matches_reference_with_dangling(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 4)]  # 4 is dangling
    got = _ranks(spark, edges, iterations=15)
    want = _reference_pagerank(edges, iterations=15)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    # mass conservation
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # the sink-fed node outranks the sources
    assert got[3] > got[1] and got[4] > got[1]


def test_pagerank_star_hub_dominates(spark):
    edges = [(i, 99) for i in range(1, 6)]
    got = _ranks(spark, edges, iterations=10)
    assert got[99] == max(got.values())
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_loop_body_has_no_collect(spark):
    """The dangling-mass term stays in-plan (1-row aggregate cross-broadcast
    into the rank update); an iteration must not issue a driver .collect().
    Pinned at the source level: the loop body of the Spark arm contains no
    .collect call (the lineage cut is the only per-round action)."""
    src = inspect.getsource(graph._pagerank_spark)
    loop = src.split("for _ in range(iterations):", 1)[1].split("ew.unpersist()", 1)[0]
    assert ".collect()" not in loop


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([], "src LONG, dst LONG"),
        ([(7, 7)], "src LONG, dst LONG"),
        ([(1, 2), (1, 2), (2, 1), (1, 3), (1, 3)], "src LONG, dst LONG"),
        ([(1, 2), (1, 3), (1, 4), (5, 4)], "src LONG, dst LONG"),
        ([(1, 2), (2, 3), (3, 1), (3, 4)], "src INT, dst INT"),
        ([(1, 2), (2, 3), (3, 1), (3, 4)], "src INT, dst BIGINT"),
        ([("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src STRING, dst STRING"),
        ([(1, 2), (None, 2), (2, None), (None, None), (2, 3)], "src LONG, dst LONG"),
    ],
    ids=["empty", "self_loop", "duplicates", "all_dangling_sinks", "int_ids",
         "int_bigint_ids", "string_ids", "null_endpoints"],
)
def test_pagerank_arms_agree_on_edge_cases(spark, rows, ddl):
    got = _both_arms(spark.createDataFrame(rows, ddl), iterations=7)
    assert None not in got  # a NULL endpoint is not a node
    pairs = [(s, d) for s, d in rows if s is not None and d is not None]
    want = _reference_pagerank(pairs, iterations=7) if pairs else {}
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    if got:
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_small_graph_job_budget(spark):
    """A graph under the switch costs the distinct edge build plus the one
    bounded take: at most 3 Spark jobs, whatever the iteration count."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(50)] + [(i, 99) for i in range(20)],
        "src LONG, dst LONG",
    )
    sc.setJobGroup("pagerank_job_budget", "pagerank job budget")
    try:
        ranks = graph.pagerank(edges, iterations=10)
        jobs = sc.statusTracker().getJobIdsForGroup("pagerank_job_budget")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert len(jobs) <= 3, jobs
    assert sum(r.rank for r in ranks.collect()) == pytest.approx(1.0, abs=1e-12)


def test_pagerank_spark_arm_matches_oracle(spark, oracle, sf_dir, monkeypatch):
    """The registry PageRank entries take the local arm at fixture scale;
    this keeps the 100 TB arm under the DuckDB oracle too."""
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", SPARK_ARM)
    spec = REGISTRY["graph_pagerank_top"]
    assert_results_match(
        spec.fn(spark, sf_dir), oracle.execute(spec.sql).fetchdf(), name=spec.name
    )


def test_triangle_count_hand_crafted(spark):
    """K4 on {1,2,3,4} has 4 triangles; adding a pendant node and a
    disconnected edge adds none. Duplicate/reversed/self edges must not
    change the count (canonicalization + distinct)."""
    from ascii_hydra_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    noise = [(2, 1), (3, 3), (4, 5), (6, 7), (1, 2)]  # dup, self, pendant, island
    edges = spark.createDataFrame(k4 + noise, ["src", "dst"])
    assert triangle_count(edges).collect()[0]["n_triangles"] == 4


def test_triangle_count_hub_graph(spark):
    """A star (hub + 6 leaves) has no triangles regardless of orientation
    handling; closing one leaf pair adds exactly one."""
    from ascii_hydra_spark.operators.graph import triangle_count

    star = [(0, i) for i in range(1, 7)]
    assert triangle_count(
        spark.createDataFrame(star, ["src", "dst"])
    ).collect()[0]["n_triangles"] == 0
    assert triangle_count(
        spark.createDataFrame(star + [(1, 2)], ["src", "dst"])
    ).collect()[0]["n_triangles"] == 1


def test_kcore_peel_triangle_plus_tail(spark):
    from ascii_hydra_spark.operators.graph import kcore_peel

    # triangle a-b-c (each degree 2) + pendant d hanging off a
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")],
        "src string, dst string",
    )
    out = {r["round"]: r for r in kcore_peel(edges, k=2, rounds=2).collect()}
    # round 1: d (degree 1) peeled -> triangle remains (3 nodes, 3 edges)
    assert (out[1]["n_nodes"], out[1]["n_edges"]) == (3, 3)
    # round 2: stable — the triangle IS the 2-core
    assert (out[2]["n_nodes"], out[2]["n_edges"]) == (3, 3)
    # k=3 wipes everything in one round
    out3 = {r["round"]: r for r in kcore_peel(edges, k=3, rounds=1).collect()}
    assert (out3[1]["n_nodes"], out3[1]["n_edges"]) == (0, 0)


def test_jaccard_link_prediction_crafted(spark):
    from ascii_hydra_spark.operators import graph

    # contexts: a,b share 2 of (2 + 3 - 2) = 3 ctxs -> 2/3; a,c share 1 of 4
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "b"), (3, "c"),
        (4, "c"),
        (4, "c"),  # duplicate incidence must not inflate degree or overlap
    ]
    edges = spark.createDataFrame(rows, "ctx long, node string")
    out = {
        (r["node_a"], r["node_b"]): (r["n_common"], r["n_a"], r["n_b"], r["jaccard"])
        for r in graph.jaccard_link_prediction(
            edges, "ctx", "node", k=10, min_common=1
        ).collect()
    }
    assert out[("a", "b")] == (2, 2, 3, round(2 / 3, 6))
    assert out[("b", "c")] == (1, 3, 2, 0.25)
    assert ("a", "c") not in out  # no shared context


def test_jaccard_link_prediction_topk_order(spark):
    from ascii_hydra_spark.operators import graph

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "x"), (3, "y"), (4, "x")]
    edges = spark.createDataFrame(rows, "ctx long, node string")
    top = graph.jaccard_link_prediction(edges, "ctx", "node", k=1).collect()
    # (a,b) jaccard 1.0 beats (x,y) 0.5
    assert len(top) == 1 and (top[0]["node_a"], top[0]["node_b"]) == ("a", "b")


def test_label_propagation_clique_stability_and_chain_depth(spark):
    from ascii_hydra_spark.operators import graph

    # 4-clique {0,1,2,3} + chain 3-4-5: without self-inclusion a clique
    # oscillates under sync updates; with it, round 1 settles the clique
    # at min id and each chain hop needs one more round
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        clique + [(3, 4), (4, 5)], "src long, dst long"
    )
    for rounds, want5 in ((1, 4), (2, 3), (3, 0), (4, 0)):
        out = {
            r["node"]: r["label"]
            for r in graph.label_propagation(edges, iterations=rounds).collect()
        }
        assert all(out[n] == 0 for n in range(4)), (rounds, out)
        assert out[5] == want5, (rounds, out)


def test_label_propagation_bridged_cliques_stay_separate(spark):
    from ascii_hydra_spark.operators import dedup, graph

    # two 5-cliques joined by ONE bridge edge: connected components sees
    # one component; LPA keeps two density communities
    c1 = [(a, b) for a in range(5) for b in range(5) if a < b]
    c2 = [(a + 10, b + 10) for a in range(5) for b in range(5) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(4, 10)], "src long, dst long")
    out = {
        r["node"]: r["label"]
        for r in graph.label_propagation(edges, iterations=4).collect()
    }
    assert all(out[n] == 0 for n in range(5))
    assert all(out[n + 10] == 10 for n in range(5))
    comps = dedup.connected_components(
        spark.createDataFrame([(i,) for i in list(range(5)) + list(range(10, 15))], "id long"),
        spark.createDataFrame(c1 + c2 + [(4, 10)], "src long, dst long"),
        id_col="id",
    )
    assert comps.select("component").distinct().count() == 1
