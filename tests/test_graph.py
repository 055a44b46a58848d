"""Connected components (alternating star) vs a union-find reference."""

from __future__ import annotations

from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators import (
    graph,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    out: dict[int, int] = {}
    for n in parent:
        root = find(n)
        out[n] = root
    # root labels are already the component minimum because we always union
    # the larger root under the smaller
    return out


def _regimes(monkeypatch):
    """Run the caller's loop body once per CC regime. Every graph here is
    far below the default edge budget, so it alone would only ever close
    the edge set on the driver (``union_find``, no star round); a budget
    of 1 forces the star rounds to the distributed fixpoint (groupBy+join
    stars, aggregate probe, coalesce sizing, star-forest labelling) — the
    path a corpus-scale graph takes."""
    for budget in (graph.ROWS_PER_PARTITION, 1):
        monkeypatch.setattr(graph, "ROWS_PER_PARTITION", budget)
        yield budget


def _check(spark, monkeypatch, edges: list[tuple[int, int]]) -> None:
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _uf_components(edges)
    for budget in _regimes(monkeypatch):
        got = {
            r.node: r.component
            for r in graph.connected_components(df).collect()
        }
        assert got == want, budget


def test_cc_two_triangles_and_bridge(spark, monkeypatch):
    _check(spark, monkeypatch, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (3, 10)])


def test_cc_long_chain(spark, monkeypatch):
    """A path graph needs multiple star rounds — exercises the iteration."""
    _check(spark, monkeypatch, [(i, i + 1) for i in range(40)])


def test_cc_star_and_singletons(spark, monkeypatch):
    _check(spark, monkeypatch, [(100, i) for i in range(5)] + [(7, 8), (20, 21)])


def test_cc_pseudorandom(spark, monkeypatch):
    """Deterministic pseudo-random graph, including duplicate and reversed
    edges, against union-find: CC runs no dedup pass before round 1, so
    this pins that the repeats change nothing in either regime."""
    edges = []
    x = 7
    for _ in range(120):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a = x % 60
        x = (x * 1103515245 + 12345) % (1 << 31)
        b = x % 60
        if a != b:
            edges.append((a, b))
    edges += [(b, a) for a, b in edges[:10]]
    edges += edges[10:20]
    _check(spark, monkeypatch, edges)


def test_cc_mid_loop_driver_handoff(spark, monkeypatch):
    """A budget between the input's edge count and a later round's: the
    star rounds run until the edge set fits, then the driver closes it.
    A 2048-node chain given in both orientations counts 4094 input rows
    and 2047 edges after round 1's distinct (a connected graph keeps at
    least n - 1 edges, so a plain chain would never fit a smaller
    budget); the star loop alone needs about 11 rounds on it, so one
    round means the driver finished. Star rounds preserve the components
    and the node set, so the rows equal the union-find reference."""
    n = 2048
    edges = [(i, i + 1) for i in range(n - 1)]
    edges += [(b, a) for a, b in edges]
    monkeypatch.setattr(graph, "ROWS_PER_PARTITION", 3000)
    stats: dict = {}
    comp = graph.connected_components(
        spark.createDataFrame(edges, "src long, dst long"), stats=stats
    )
    assert {r.node: r.component for r in comp.collect()} == _uf_components(edges)
    assert stats["rounds"] == 1, stats


def test_cc_degenerate_edges_and_int_ids(spark, monkeypatch):
    """Only NULL endpoints or self-loops give no rows; an ``int`` edge
    list gives ``int`` node/component columns. Both regimes."""
    degenerate = spark.createDataFrame(
        [(None, 1), (2, None), (None, None), (3, 3)], "src long, dst long"
    )
    ints = spark.createDataFrame([(5, 4), (4, 6), (9, 8)], "src int, dst int")
    for budget in _regimes(monkeypatch):
        none = graph.connected_components(degenerate)
        assert none.collect() == [], budget
        assert [f.dataType.simpleString() for f in none.schema] == ["bigint"] * 2
        comp = graph.connected_components(ints)
        assert {r.node: r.component for r in comp.collect()} == {
            4: 4, 5: 4, 6: 4, 8: 8, 9: 8
        }, budget
        assert [f.dataType.simpleString() for f in comp.schema] == ["int"] * 2


def test_cc_small_graph_runs_two_jobs(spark):
    """Under the default budget a small graph runs no star round and two
    Spark jobs: the count and the Arrow collect. A star round, probe or
    extra action added back to the small path fails here."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    stats: dict = {}
    sc.setJobGroup("cc-small", "cc-small")
    try:
        comp = graph.connected_components(edges, stats=stats)
    finally:
        sc.setJobGroup(None, None)
    assert stats["rounds"] == 0
    assert len(sc.statusTracker().getJobIdsForGroup("cc-small")) <= 2
    assert sorted(comp.collect()) == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in graph.keep_canonical(docs, pairs).collect()
    )
    # {1,3,5} -> keep 1; {2,6} -> keep 2; others untouched
    assert kept == [0, 1, 2, 4, 7]


def test_cc_adversarial_chain_logarithmic_rounds(spark, monkeypatch):
    """Worst-case diameter: a 2048-node path collapses in O(log n) rounds
    (Kiveris et al. bound), not O(diameter) — the property that makes the
    alternating-star algorithm usable on billion-node near-dup graphs."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
        connected_components,
    )

    n = 2048
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    for budget in _regimes(monkeypatch):
        stats: dict = {}
        comp = connected_components(edges, stats=stats)
        rows = comp.collect()
        assert len(rows) == n
        assert {r.component for r in rows} == {0}
        # log2(2048)=11; each alternating round roughly squares star
        # reach. +fixpoint-detection round; bound generous but far below
        # diameter.
        assert stats["rounds"] <= 16, (budget, stats)


def test_cc_adversarial_star_of_stars(spark, monkeypatch):
    """Hub-of-hubs (heavy skew: one node with 512 spokes, each spoke a
    sub-hub of 8): converges in a handful of rounds and one component."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
        connected_components,
    )

    edges = []
    nid = 1
    for s in range(512):
        hub = nid
        nid += 1
        edges.append((0, hub))
        for _ in range(8):
            edges.append((hub, nid))
            nid += 1
    df = spark.createDataFrame(edges, "src long, dst long")
    for budget in _regimes(monkeypatch):
        stats: dict = {}
        comp = connected_components(df, stats=stats)
        rows = comp.collect()
        assert len(rows) == nid
        assert {r.component for r in rows} == {0}
        assert stats["rounds"] <= 6, (budget, stats)


def test_pagerank_symmetric_cycle(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
        pagerank,
    )

    e = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    got = {r.node: r.pr for r in pagerank(e, iterations=5).collect()}
    assert abs(got["a"] - 0.5) < 1e-12 and abs(got["b"] - 0.5) < 1e-12


def test_pagerank_dangling_mass_hand_computed(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
        pagerank,
    )

    # a -> b, b dangling. After one iteration from (.5, .5):
    # dangling mass .5 redistributes; pr(a)=.15/2+.85*(.5/2)=0.2875,
    # pr(b)=.15/2+.85*(.5+.5/2)=0.7125. Total mass stays 1.
    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r.node: r.pr for r in pagerank(e, iterations=1).collect()}
    assert abs(got["a"] - 0.2875) < 1e-12
    assert abs(got["b"] - 0.7125) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_weights_shift_rank(spark):
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
        pagerank,
    )

    # c splits its vote 9:1 toward a; a and b both return to c.
    e = spark.createDataFrame(
        [("c", "a", 9.0), ("c", "b", 1.0), ("a", "c", 1.0), ("b", "c", 1.0)],
        "src string, dst string, w double",
    )
    got = {r.node: r.pr for r in pagerank(e, weight="w", iterations=8).collect()}
    assert got["a"] > got["b"]
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_null_edges_and_zero_weight_pagerank(spark):
    """NULL-endpoint edges are excluded from both operators, and zero or
    NULL weights cannot make pagerank's out-normalization divide by zero
    (regression: ANSI abort)."""
    from pyspark.sql import functions as F  # noqa: F401

    edges = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None)], "src long, dst long"
    )
    comp = {r.node for r in graph.connected_components(edges).collect()}
    assert comp == {1, 2}

    weighted = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (3, 1, 0.0), (3, 2, 0.0), (4, 1, None)],
        "src long, dst long, w double",
    )
    pr = graph.pagerank(weighted, weight="w", iterations=2).collect()
    assert all(r.pr is not None and r.pr == r.pr for r in pr)  # finite, no abort


def test_keep_best_policy(spark):
    """Per-cluster argmax(score, then smallest id): the best copy
    survives, singletons pass through, ties break to the smaller id."""
    from aws_autonomous_driving_data_lake_mwaa_ros_bag_image_extraction_pipeline_spark.operators.graph import (
        keep_best,
    )

    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (7, 0.4), (8, 0.4), (9, 0.1)],
        "doc_id long, score double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in keep_best(docs, pairs, "score").collect()
    )
    # cluster {1,2,3}: 2 wins on score; cluster {7,8}: tie -> 7; 9 untouched
    assert kept == [2, 7, 9]
