from __future__ import annotations


def test_pagerank_known_graph(spark):
    from trading_etl_python_spark.operators.graph import pagerank

    # two-node cycle with equal weights -> symmetric scores 0.5/0.5;
    # a dangling sink attached to one node shifts mass but totals ~1
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)], ["src", "dst", "w"]
    )
    out = {r["node"]: r["score"] for r in pagerank(edges, iters=30).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-3          # stochastic: mass conserved
    assert out[1] > out[3]                               # cycle member beats sink
    # node 3 is dangling: its mass recycles uniformly, nothing lost
    assert all(v > 0 for v in out.values())


def test_pagerank_uniform_on_symmetric_cycle(spark):
    from trading_etl_python_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 4, 2.0) for i in range(4)], ["src", "dst", "w"]
    )
    out = {r["node"]: r["score"] for r in pagerank(edges, iters=12).collect()}
    assert all(abs(v - 0.25) < 1e-9 for v in out.values())


def test_triangle_counts_known_graph(spark):
    from trading_etl_python_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4}: every node is in C(3,2)=3 triangles; node 5 hangs
    # off node 1 and is in none
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)] + [(1, 5)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_no_triangles(spark):
    from trading_etl_python_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["doc_a", "doc_b"])
    assert triangle_counts(df).count() == 0


def test_triangle_counts_degree_cap_audits_super_node(spark):
    from trading_etl_python_spark.operators.graph import triangle_counts

    # node 0 is a hub touching everything (degree 6); {1,2,3} is a
    # clique.  With max_degree=3 the hub is cut: its hub-spoke
    # triangles (0,1,2),(0,1,3),(0,2,3) vanish, the {1,2,3} clique
    # survives, and the hub is audited with its centered wedge count
    # C(6,2)=15 instead of silently disappearing.
    hub = [(0, n) for n in range(1, 7)]
    clique = [(1, 2), (1, 3), (2, 3)]
    df = spark.createDataFrame(hub + clique, ["doc_a", "doc_b"])
    rows = triangle_counts(df, max_degree=3).collect()
    out = {r["node"]: (r["n_triangles"], r["wedges_dropped"]) for r in rows}
    assert out == {0: (0, 15), 1: (1, 0), 2: (1, 0), 3: (1, 0)}
    # uncapped: each clique node sits in 2 hub triangles + the clique
    full = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, max_degree=64).collect()
    }
    assert full == {0: 3, 1: 3, 2: 3, 3: 3}


def test_label_propagation_separates_cliques(spark):
    from trading_etl_python_spark.operators.graph import label_propagation

    # two triangles bridged by a single edge: LPA should give each
    # triangle one community; min-label tie-break makes it deterministic
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(7, 8), (7, 9), (8, 9)]
    df = spark.createDataFrame(tri1 + tri2 + [(3, 7)], ["doc_a", "doc_b"])
    out = {r["node"]: r["community"] for r in label_propagation(df, iters=6).collect()}
    assert out[1] == out[2] == out[3]
    assert out[7] == out[8] == out[9]
    assert out[1] != out[7]

    # partitioning-independent
    out2 = {r["node"]: r["community"]
            for r in label_propagation(df.repartition(5), iters=6).collect()}
    assert out == out2


def test_fold_twins_match_loops_exactly(spark, monkeypatch):
    """r14: the small-graph kernel paths (pagerank / hits / label
    propagation / textrank) must reproduce the distributed loops
    row-for-row — the kernel is an execution-strategy change, never a
    semantic one.  The one gate constant is monkeypatched to force the
    loop."""
    from pyspark.sql import functions as F

    import trading_etl_python_spark.operators.graph as G
    from trading_etl_python_spark.operators.text import textrank_keywords

    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 1, 1.0), (1, 3, 1.0), (3, 4, 5.0), (4, 2, 1.0), (5, 1, 3.0)],
        ["src", "dst", "w"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (7, 8)], ["doc_a", "doc_b"]
    )
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma beta alpha delta epsilon alpha " * 3)
         for i in range(6)],
        ["doc_id", "text"],
    )
    # PageRank's loop sums doubles in shuffle order, so kernel == loop
    # holds after ROUND(., 6) only if no unrounded score sits within the
    # ~1e-16 reordering noise of a rounding boundary; make sure none is
    # within 1e-9 of one
    outw = edges.groupBy("src").agg(F.sum("w").alias("_ow"))
    norm = edges.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("_ow")).alias("_frac")
    )
    raw = G._graph_kernel(norm, "pagerank", damping=0.85, iters=4, quantize=False)
    assert all(abs((r.score * 1e6) % 1.0 - 0.5) > 1e-3 for r in raw.collect())
    cases = [
        lambda: G.pagerank(edges, iters=4),
        lambda: G.hits(edges, iters=3),
        lambda: G.label_propagation(pairs, iters=3),
        lambda: textrank_keywords(docs, iters=3),
    ]

    def run(make):
        df = make()
        return [f.name for f in df.schema], sorted(map(tuple, df.collect()))

    kernel = [run(make) for make in cases]
    monkeypatch.setattr(G, "_KERNEL_MAX_EDGES", -1)
    assert [run(make) for make in cases] == kernel


def test_kcore_fold_matches_peel_loop_exactly(spark, monkeypatch):
    """r14: the small-graph k-core fold must reproduce the peel loop
    boolean-for-boolean (the contract is EXACTLY `rounds` synchronous
    peels, so the fold has no round-bound caveat at all)."""
    import trading_etl_python_spark.operators.graph as G

    # a triangle (3-core... actually 2-core), a 4-clique (3-core), a
    # chain (peels away for k=2), and a pendant off the clique
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)]
        + [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
        + [(20, 21), (21, 22), (22, 23)]
        + [(13, 30)],
        ["doc_a", "doc_b"],
    )
    fold = sorted(map(tuple, G.kcore_layers(pairs).collect()))
    monkeypatch.setattr(G, "_KERNEL_MAX_EDGES", -1)
    loop = sorted(map(tuple, G.kcore_layers(pairs).collect()))
    assert fold == loop
    c = dict(fold)
    assert c[1] == c[2] == c[3] == 2          # triangle: 2-core
    assert c[10] == c[11] == c[12] == c[13] == 3  # 4-clique: 3-core
    assert c[20] == c[23] == 1 and c[30] == 1     # chain ends / pendant


def _build_jobs(spark, group, fn) -> int:
    """Spark jobs fired by ``fn()``, counted through a job group once the
    listener bus has delivered every job start (as tests/test_jobs.py)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_graph_gate_fires_one_count_and_no_node_count(spark):
    """Building the kernel path costs the gate's one count of the edge
    table and one Arrow collect of it, with no node-count job.  pagerank:
    1 job for its eager edge checkpoint + 5 for counting the normalized
    edges (out-weight aggregate, join, count) + 1 collect;
    label_propagation: 2 for counting its pairs + 1 collect."""
    import trading_etl_python_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 1, 1.0), (1, 3, 1.0), (3, 4, 5.0), (4, 2, 1.0), (5, 1, 3.0)],
        ["src", "dst", "w"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (7, 8)], ["doc_a", "doc_b"]
    )
    assert _build_jobs(spark, "gate-pagerank", lambda: G.pagerank(edges)) == 7
    assert _build_jobs(spark, "gate-lpa", lambda: G.label_propagation(pairs)) == 3


def test_small_graph_result_is_a_local_relation(spark):
    """The kernel runs in the driver and returns a local relation:
    collecting a small pagerank fires no job, and no stage of its plan
    runs Python."""
    import trading_etl_python_spark.operators.graph as G

    edges = spark.createDataFrame(
        [(1, 2, 2.0), (2, 1, 1.0), (1, 3, 1.0), (3, 4, 5.0), (4, 2, 1.0), (5, 1, 3.0)],
        ["src", "dst", "w"],
    )
    pr = G.pagerank(edges)
    rows = []
    assert _build_jobs(spark, "collect-pagerank", lambda: rows.extend(pr.collect())) == 0
    assert len(rows) == 5
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "LocalTableScan" in plan, plan


def test_graph_kernel_above_the_cap_fires_the_count_alone(spark, monkeypatch):
    """Above ``_KERNEL_MAX_EDGES`` the gate returns None after its count:
    no edge is collected to the driver."""
    import trading_etl_python_spark.operators.graph as G

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (6, 4), (7, 8)], ["u", "v"]
    ).localCheckpoint()
    count_jobs = _build_jobs(spark, "count-pairs", pairs.count)
    monkeypatch.setattr(G, "_KERNEL_MAX_EDGES", 5)
    out = []
    jobs = _build_jobs(
        spark, "gate-closed", lambda: out.append(G._graph_kernel(pairs, "lpa", iters=3))
    )
    assert out == [None]
    assert jobs == count_jobs


def test_graph_entry_points_on_empty_input(spark):
    """An empty edge list takes the numpy kernel, which returns no rows:
    every entry point gives an empty result with its usual columns, and
    dedup_clusters labels every doc as its own singleton."""
    import trading_etl_python_spark.operators.graph as G
    from trading_etl_python_spark.operators.dedup import dedup_clusters
    from trading_etl_python_spark.operators.text import textrank_keywords

    edges = spark.createDataFrame([], "src long, dst long, w double")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    docs = spark.createDataFrame([], "doc_id long, text string")
    cases = {
        "pagerank": (G.pagerank(edges), ["node", "score"]),
        "hits": (G.hits(edges), ["node", "authority", "hub"]),
        "lpa": (G.label_propagation(pairs), ["node", "community"]),
        "kcore": (G.kcore_layers(pairs), ["node", "coreness"]),
        "textrank": (textrank_keywords(docs), ["node", "score"]),
    }
    for name, (df, cols) in cases.items():
        assert df.columns == cols, name
        assert df.collect() == [], name
    ids = spark.createDataFrame([(i,) for i in (5, 1, 3)], "doc_id long")
    got = sorted(map(tuple, dedup_clusters(ids, pairs=pairs).collect()))
    assert got == [(1, 1, True), (3, 3, True), (5, 5, True)]
