"""Iterative graph algorithms: distributed DataFrame loops, plus one
numpy kernel that runs small graphs in the driver.

Connected components (large-star/small-star) lives in
``operators/dedup.py`` next to its near-dup consumer; this module holds
the general-purpose iterative algorithms (PageRank, HITS, label
propagation, k-core) and the small-graph kernel they, CC and TextRank
share.

Scale design: each PageRank iteration is one join (edges x ranks, keyed
on the source node) + one groupBy(dst) — the canonical shuffle pair every
distributed PageRank pays.  The normalized edge table is computed once
and ``localCheckpoint``'d (reused verbatim every iteration, lineage
truncated so the plan does not grow), and on a real cluster both sides
should be pre-partitioned by node key so iterations reuse one
distribution.  Rank state stays a DataFrame end-to-end; the only driver
scalar is the node COUNT (one long).  Dangling-node mass (out-degree-0
nodes) is redistributed uniformly each iteration via a 1-row broadcast —
the standard stochastic-matrix fix, kept in-plan.

Graphs of at most ``_KERNEL_MAX_EDGES`` edges skip the loop.
``_graph_kernel`` is the one place that makes that choice, from one
count of the edge table its caller checkpoints; on a small graph it
collects the edge list to the driver as Arrow, indexes the nodes once
(``np.unique`` over the endpoints, i.e. node order), runs the whole
iteration in numpy in the driver process, and hands the result back as
a local relation, so no stage of the query needs a Python worker (the
kernel-vs-loop table is at the gate).  Each algorithm's kernel
reproduces its loop's arithmetic exactly: integer counts and
1e-12-quantized int64 sums are order-free, and the one plain double sum
(PageRank's) runs sequentially in a fixed order.

Numeric parity with the SQL oracle: all arithmetic in IEEE doubles with
identical literals; per-iteration sums differ only in accumulation order
(~1e-16), damping < 1 keeps the drift contractive, and the final
6-decimal rounding absorbs it (verified across sf0.001/0.01/0.1).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Small-graph gate, the one policy every entry point shares:
# ``_graph_kernel`` counts the edge table it is handed and, at or below
# this many edges, collects it to the driver and runs the whole iteration
# there in numpy; above it the caller takes its distributed loop.  One
# count and no node count: an edge list has V <= 2E, so E alone bounds
# the kernel's work and what it holds in the driver.
#
# Kernel vs loop, seconds to build + run (noop write), local[4] on 4
# cores; random graphs with xxhash64 endpoints, edge table checkpointed
# before timing, each algorithm warmed once per graph; two kernel
# samples, one loop sample; CC is ``dedup._cc_star_labels``:
#
#   edges / nodes  pagerank          label propagation  CC
#                  kernel    loop    kernel    loop     kernel    loop
#   10k / 6.6k     0.65-0.87  4.83   0.25-0.26  2.24    0.28-0.33  5.26
#   100k / 66k     0.63-0.81  4.58   0.53-0.59  4.05    0.51-0.56  7.48
#   300k / 198k    1.36-1.86  6.13   1.41-1.45  6.60    1.13-1.31 11.09
#   1M / 660k      5.78-6.04 16.71   4.83-5.07 16.85    4.32-4.74 26.65
#
# Cost law: one count job, one Arrow collect of E rows, O(iters x (V+E))
# numpy work, then a V-row local relation built in the driver and scanned
# by the caller's plan; time grows about linearly in E above 100k.  The
# driver's Python peak RSS was 145 MB at 10k edges and 359 MB at 1M
# (about 0.2 KB per edge: the Arrow edge list, its numpy copies and a
# result of up to 2E rows).  The kernel wins at every measured size
# (2.8-16x), so the cap is not a crossover: it is the largest measured
# size, and it bounds the driver memory above.
_KERNEL_MAX_EDGES = 1_000_000


def _half_up(x: np.ndarray) -> np.ndarray:
    """Spark ``ROUND(x, 0)`` as int64: HALF_UP on the exact double.  The
    fraction ``a - floor(a)`` is exact, so unlike ``floor(a + 0.5)`` this
    also holds at the largest double below 0.5."""
    a = np.abs(x)
    r = np.floor(a)
    return np.copysign(r + (a - r >= 0.5), x).astype(np.int64)


def _qsum(idx: np.ndarray, x: np.ndarray, n: int) -> np.ndarray:
    """Per-node int64 sum of ``ROUND(x * 1e12, 0)`` — exact in any order."""
    q = np.zeros(n, np.int64)
    np.add.at(q, idx, _half_up(x * 1e12))
    return q


def _pagerank_np(s, d, w, n, damping, iters, quantize):
    """``pagerank``'s loop (``quantize=False``) or ``textrank_keywords``'
    (``quantize=True``: contributions summed as 1e-12 units; its graph
    has no dangling node).  Double sums run sequentially (``np.add.at``,
    ``np.add.accumulate``) in (dst, src, weight) order and, for the
    dangling mass, node order."""
    o = np.lexsort((w, s, d))
    s, d, w = s[o], d[o], w[o]
    dangling = np.bincount(s, minlength=n) == 0
    sc = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iters):
        dm = np.add.accumulate(sc[dangling])[-1] if dangling.any() else 0.0
        if quantize:
            c = _qsum(d, w * sc[s], n) / 1e12
        else:
            c = np.zeros(n)
            np.add.at(c, d, w * sc[s])
        sc = base + damping * (c + dm / n)
    return {"score": sc}


def _hits_np(s, d, w, n, iters):
    """``hits``' loop: weights normalize once against their int64 total,
    contributions quantize to 1e-12 units, each L1 norm is the exact
    int64 total."""
    f = w.astype(np.float64) / float(w.sum())
    h = np.full(n, 1.0 / n)
    for _ in range(iters):
        aq = _qsum(d, f * h[s], n)
        a = aq / float(aq.sum())
        hq = _qsum(s, f * a[d], n)
        h = hq / float(hq.sum())
    return {"authority": a, "hub": h}


def _lpa_np(s, d, w, n, iters):
    """``label_propagation``'s loop: each node takes the most frequent
    label among its neighbours, the smallest label on ties (labels are
    node indices, whose order is node order)."""
    u, v = np.concatenate([s, d]), np.concatenate([d, s])
    lab = np.arange(n)
    for _ in range(iters):
        key, cnt = np.unique(v * n + lab[u], return_counts=True)
        node, best = key // n, key % n
        o = np.lexsort((best, -cnt, node))
        o = o[np.r_[True, node[o][1:] != node[o][:-1]]]
        lab[node[o]] = best[o]
    return {"community": lab}


def _kcore_np(s, d, w, n, rounds):
    """``kcore_layers``' loop: exactly ``rounds`` synchronous peels per k;
    a node is in the k-core if it survives with a surviving neighbour."""
    u, v = np.concatenate([s, d]), np.concatenate([d, s])

    def member(k):
        alive = np.ones(n, bool)
        for _ in range(rounds):
            alive = np.bincount(v[alive[u] & alive[v]], minlength=n) >= k
        return np.bincount(v[alive[u] & alive[v]], minlength=n) > 0

    return {"coreness": 1 + member(2).astype(np.int64) + member(3)}


def _cc_np(s, d, w, n):
    """Connected components by union-find with the smallest node index
    as root (path halving): the component-min label for every node, on
    any input, with no round bound."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for a, b in zip(s.tolist(), d.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {"label": np.array([find(x) for x in range(n)], np.int64)}


# algorithm -> (numpy kernel, result columns after ``node``); a ``{node}``
# column holds node indices and leaves the kernel as node values
_KERNELS = {
    "pagerank": (_pagerank_np, "score double"),
    "hits": (_hits_np, "authority double, hub double"),
    "lpa": (_lpa_np, "community {node}"),
    "kcore": (_kcore_np, "coreness bigint"),
    "cc": (_cc_np, "label {node}"),
}


def _kernel_frame(edges: pa.Table, algo: str, params: dict) -> pa.Table:
    """The kernel body on one Arrow table of (src, dst[, weight]) rows:
    index the endpoints in node order, run ``algo``, map back to nodes."""
    fn, cols = _KERNELS[algo]
    m = edges.num_rows
    nodes, idx = np.unique(
        np.concatenate([edges.column(0).to_numpy(), edges.column(1).to_numpy()]),
        return_inverse=True,
    )
    w = edges.column(2).to_numpy() if edges.num_columns > 2 else None
    out = fn(idx[:m], idx[m:], w, len(nodes), **params)
    if "{node}" in cols:
        out = {c: nodes[v] for c, v in out.items()}
    return pa.table({"node": nodes, **out})


def _graph_kernel(edges: DataFrame, algo: str, **params) -> DataFrame | None:
    """Run one small-graph algorithm in the driver, or return None when
    ``edges`` holds more than ``_KERNEL_MAX_EDGES`` rows (the caller then
    runs its loop).  Two jobs at most: the gate's count, then one Arrow
    collect of the edge list (``toArrow``) below the cap, none for an
    empty one; so pass a checkpointed frame that the loop can reuse and
    the collect re-reads.  Counting first keeps a graph above the cap
    out of the driver.  ``edges`` holds (src, dst[, weight]) as its
    columns, in that order; the node set is every endpoint.  Returns
    (node, <algorithm columns>), one row per node, unrounded, as a local
    relation: later operators read it in the JVM and start no Python
    worker.  An empty edge list returns no rows."""
    m = edges.count()
    if m > _KERNEL_MAX_EDGES:
        return None
    s, d = edges.columns[:2]
    node_t = edges.select(s).unionAll(edges.select(d)).schema[0].dataType.simpleString()
    schema = f"node {node_t}, " + _KERNELS[algo][1].format(node=node_t)
    # an empty graph has no node to run on: no collect
    out = _kernel_frame(edges.toArrow(), algo, params) if m else []
    return edges.sparkSession.createDataFrame(out, schema)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 8,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank with uniform dangling-mass redistribution.
    ``edges`` is a directed weighted edge list; returns (node, score)
    for every node appearing as a source or destination, after a FIXED
    number of power iterations (fixed so the result is deterministic
    and oracle-checkable; convergence-gated variants just change the
    loop condition)."""
    # materialize the caller's edge-construction plan exactly ONCE: norm
    # and nodes both derive from it, and without this checkpoint each of
    # their own checkpoints re-runs the (typically expensive) upstream
    # plan — measured as ~5 s of a 5.4 s query on the TPC-H trade graph
    edges = edges.localCheckpoint()
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_ow"))
    norm = edges.join(outw, src).select(
        F.col(src), F.col(dst), (F.col(weight) / F.col("_ow")).alias("_frac")
    ).localCheckpoint(eager=False)
    pr = _graph_kernel(norm, "pagerank", damping=damping, iters=iters, quantize=False)
    if pr is not None:
        return pr.select("node", F.round("score", 6).alias("score"))
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    # parallelism tracks the GRAPH size, not the (often much larger)
    # edge-construction input: below the threshold the per-iteration
    # state is driver-page-sized and 32-task stages are pure scheduler
    # overhead — one partition runs the whole loop in single-task
    # stages (measured ~0.3 s off the 8-iteration warm floor at sf0.1).
    # Above it, the shuffles keep the session's partitioning and AQE
    # right-sizes each exchange.
    if n <= 100_000:
        norm, nodes = norm.coalesce(1), nodes.coalesce(1)
    norm, nodes = norm.localCheckpoint(), nodes.localCheckpoint()
    # distinct sources come from the CHECKPOINTED norm table, never from
    # outw: outw's lineage contains the caller's whole edge-construction
    # plan, and the per-iteration dangling anti-join would re-run it
    # every round (measured as the dominant cost of the loop)
    sources = norm.select(F.col(src).alias("node")).distinct().localCheckpoint()
    # the dangling-node SET is static across iterations — resolve it
    # once so each round's mass aggregate is a broadcast probe of a
    # precomputed (typically tiny) set, not a fresh anti-join exchange
    dang = nodes.join(sources, "node", "left_anti").localCheckpoint()
    ranks = nodes.withColumn("score", F.lit(1.0 / n))
    for it in range(iters):
        contrib = (
            norm.join(ranks, norm[src] == ranks["node"])
            .select(F.col(dst).alias("node"), (F.col("_frac") * F.col("score")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_c"))
        )
        dangling = (
            ranks.join(F.broadcast(dang), "node")
            .agg(F.coalesce(F.sum("score"), F.lit(0.0)).alias("_dm"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_c"), F.lit(0.0)) + F.col("_dm") / n)
                ).alias("score"),
            )
        )
        # Checkpoint every SECOND iteration, LAZILY: lineage is still
        # truncated at the mark, but materialization folds into the
        # next job that reads ranks instead of paying a dedicated
        # eager job per mark (~0.6 s/round measured at small sizes).
        # The final round is left unmarked for the caller's action.
        if it % 2 == 1 and it != iters - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.round("score", 6).alias("score"))


def triangle_counts(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_degree: int = 64,
) -> DataFrame:
    """Per-node triangle participation over an undirected graph given as
    canonically-oriented pairs (a < b).  Each triangle (x < y < z) is
    enumerated exactly once by closing the wedge (x,y)+(y,z) with (x,z).

    Super-node cut (the standard heavy-hitter bound): nodes whose
    undirected degree exceeds ``max_degree`` are removed before the
    wedge join and AUDITED — each contributes a row with
    ``n_triangles = 0`` and ``wedges_dropped = d*(d-1)/2`` (the wedge
    count it would have centered).  Without the cut the wedge space is
    Σ deg² and one celebrity node at web scale owns almost all of it;
    with it, the wedge space is bounded by N·max_degree² and the drop
    is visible in the output instead of silent.  Triangles counted are
    exactly those of the degree-capped subgraph.

    Scale: the wedge join is bounded by sum of squared out-degrees
    under the orientation (≤ N·max_degree² after the cut); join keys
    are node ids, partial-aggregated counts; nothing driver-side.

    Returns (node, n_triangles, wedges_dropped)."""
    # the edge table participates in the join THREE times (e1/e2/e3);
    # checkpoint so the caller's pair-construction plan runs once
    e0 = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint()
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    heavy = deg.filter(F.col("_d") > max_degree)
    e = (
        e0.join(F.broadcast(heavy), e0["u"] == heavy["node"], "left_anti")
        .join(F.broadcast(heavy), e0["v"] == heavy["node"], "left_anti")
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
    )
    counted = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .withColumn("wedges_dropped", F.lit(0).cast("long"))
    )
    audited = heavy.select(
        "node",
        F.lit(0).cast("long").alias("n_triangles"),
        F.expr("(_d * (_d - 1)) div 2").alias("wedges_dropped"),
    )
    return counted.unionAll(audited)


def label_propagation(
    pairs: DataFrame, iters: int = 5, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. LPA) over an
    undirected graph given as canonical pairs: every node starts as its
    own community, then repeatedly adopts the most frequent label among
    its neighbors (tie-break: smallest label — the choice that makes
    sync LPA deterministic and therefore oracle-checkable; stock LPA
    randomizes here).  Fixed iteration count, same rationale as
    ``pagerank``.

    Scale: per iteration one join (edges x labels on the neighbor key)
    + one (node, label) count + one per-node argmax window riding the
    same hash(node) distribution; state is one label per node.  The
    edge list is symmetrized once and checkpointed."""
    from pyspark.sql import Window

    # materialize the caller's pair-construction plan once BEFORE the
    # symmetrizing union (which references it twice — an un-checkpointed
    # upstream would run twice inside the union's checkpoint)
    p = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint(eager=False)
    # small graphs run in the numpy kernel (integer counts, same
    # tie-break: exact) — see _KERNEL_MAX_EDGES
    out = _graph_kernel(p, "lpa", iters=iters)
    if out is not None:
        return out
    edges = p.unionAll(
        p.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.col("_c").desc(), F.col("label").asc())
    for it in range(iters):
        labels = (
            edges.join(labels, edges["v"] == labels["node"])
            .select(F.col("u").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("_c"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        # every-2nd-round LAZY checkpoint, same fixed-floor rationale as
        # ``pagerank`` (labels are read once per round, so the lazy
        # round costs one extra round of recompute at most)
        if it % 2 == 1 and it != iters - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("label").alias("community"))


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """HITS hub/authority scores over a directed weighted graph, with
    L1 normalization (scores sum to 1 — the Kleinberg L2 variant swaps
    the norm; L1 keeps every step a ratio of exact integers).

    Parity design (the textrank discipline): edge weights normalize
    ONCE against the exact integer total (one bit-identical division);
    every iteration's contributions w_frac*score quantize to integer
    1e-12 units BEFORE the per-node sums, and the L1 norm is then the
    exact integer total of those sums — each authority/hub update is
    integer arithmetic plus one division, order-exact at any fan-in.
    Per-iteration state is 2x node count; the corpus-sized work is the
    caller's edge construction (checkpointed once)."""
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).cast("long").alias("wl")
    ).localCheckpoint(eager=False)
    # small graphs run in the numpy kernel instead of 5 x 4 jobs — exact
    # (quantized-integer contributions), see _KERNEL_MAX_EDGES
    out = _graph_kernel(e, "hits", iters=iters)
    if out is not None:
        return out.select(
            "node",
            F.round("authority", 6).alias("authority"),
            F.round("hub", 6).alias("hub"),
        )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("d").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    total = e.agg(F.sum("wl")).collect()[0][0]
    frac = e.select(
        "s", "d", (F.col("wl").cast("double") / F.lit(float(total))).alias("frac")
    ).localCheckpoint(eager=False)
    hub = nodes.withColumn("h", F.lit(1.0) / F.lit(float(n)))
    auth = None
    for _ in range(iters):
        araw = (
            frac.join(hub, frac["s"] == hub["node"])
            .groupBy("d")
            .agg(
                F.sum(
                    F.round(F.col("frac") * F.col("h") * F.lit(1e12), 0).cast("long")
                ).alias("aq")
            )
        )
        atot = araw.agg(F.sum("aq").alias("_atot"))
        auth = (
            nodes.join(araw, nodes["node"] == araw["d"], "left")
            .crossJoin(F.broadcast(atot))
            .select(
                "node",
                (
                    F.coalesce(F.col("aq"), F.lit(0)).cast("double")
                    / F.col("_atot").cast("double")
                ).alias("a"),
            )
            .localCheckpoint(eager=False)
        )
        hraw = (
            frac.join(auth, frac["d"] == auth["node"])
            .groupBy("s")
            .agg(
                F.sum(
                    F.round(F.col("frac") * F.col("a") * F.lit(1e12), 0).cast("long")
                ).alias("hq")
            )
        )
        htot = hraw.agg(F.sum("hq").alias("_htot"))
        hub = (
            nodes.join(hraw, nodes["node"] == hraw["s"], "left")
            .crossJoin(F.broadcast(htot))
            .select(
                "node",
                (
                    F.coalesce(F.col("hq"), F.lit(0)).cast("double")
                    / F.col("_htot").cast("double")
                ).alias("h"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        auth.join(hub, "node")
        .select(
            "node",
            F.round("a", 6).alias("authority"),
            F.round("h", 6).alias("hub"),
        )
    )


def kcore_layers(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    rounds: int = 6,
) -> DataFrame:
    """Coreness layers 1/2/3 of an undirected graph via iterative
    peeling: for k in (2, 3), repeatedly drop nodes whose degree in the
    surviving subgraph is below k (``rounds`` synchronous rounds — the
    distributed k-core kernel; rounds bounds the peel-chain length, and
    6 converges on every tested graph).  coreness = 3 means "3-core or
    denser".  Degrees are exact integers throughout — no float enters
    the query at all, so it is hash-exact by construction.

    Scale: each round is one degree groupBy + one semi-join filter on
    fixed-width node keys; the edge set only shrinks."""
    # checkpoint the caller's pair construction BEFORE symmetrizing:
    # unionAll(pairs, pairs) would inline the (typically expensive)
    # build twice into one plan and double its cost
    p0 = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint(eager=False)
    # small graphs run in the numpy kernel: the peel loop is 2 k-values
    # x `rounds` x (degree agg + 2 joins + every-2nd-round eager
    # checkpoint) on a tiny edge set, and the kernel peels exactly
    # `rounds` times per k — boolean-for-boolean the loop
    out = _graph_kernel(p0, "kcore", rounds=rounds)
    if out is not None:
        return out
    e0 = p0.unionAll(p0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    all_nodes = e0.select(F.col("u").alias("node")).distinct().localCheckpoint()

    def core_nodes(k: int) -> DataFrame:
        e = e0
        for i in range(rounds):
            keep = (
                e.groupBy("u")
                .agg(F.count(F.lit(1)).alias("_deg"))
                .filter(F.col("_deg") >= k)
                .select("u")
            )
            e = (
                e.join(keep, "u")
                .join(keep.withColumnRenamed("u", "v"), "v")
                .select("u", "v")
            )
            if i % 2 == 1:
                e = e.localCheckpoint()
        return e.select(F.col("u").alias("node")).distinct()

    c2 = core_nodes(2).withColumn("_c2", F.lit(1))
    c3 = core_nodes(3).withColumn("_c3", F.lit(1))
    return (
        all_nodes.join(c2, "node", "left")
        .join(c3, "node", "left")
        .select(
            "node",
            (
                F.lit(1)
                + F.coalesce(F.col("_c2"), F.lit(0))
                + F.coalesce(F.col("_c3"), F.lit(0))
            ).cast("long").alias("coreness"),
        )
    )


def clustering_coefficient(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_degree: int = 64,
) -> DataFrame:
    """Local clustering coefficient c = 2T / (d(d-1)) per node of the
    degree-capped subgraph (same super-node cut as triangle_counts, so
    T and d are CONSISTENT — both measured after removing nodes with
    degree > ``max_degree``).  T and d are exact integers; c is
    ROUND(2T/(d(d-1)), 6) — a small-denominator rational, safe at 6dp.
    Nodes with capped degree < 2 emit NULL coefficient."""
    e0 = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint()
    deg0 = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    heavy = deg0.filter(F.col("_d") > max_degree).select("node")
    e = (
        e0.join(F.broadcast(heavy), e0["u"] == heavy["node"], "left_anti")
        .join(F.broadcast(heavy), e0["v"] == heavy["node"], "left_anti")
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            e.alias("e3"),
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
        .select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    d = F.col("degree")
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            t.alias("n_triangles"),
            F.when(
                d >= 2,
                F.round(
                    F.lit(2.0) * t.cast("double")
                    / (d.cast("double") * (d.cast("double") - F.lit(1.0))),
                    6,
                ),
            ).alias("clustering_coef"),
        )
    )


def degree_assortativity(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """One-row graph summary: node/edge counts, max degree, mean degree
    (emitted as the exact 2m/n division, unrounded — bit-identical),
    and degree assortativity (Pearson r of endpoint degrees over both
    edge orientations) computed from exact integer moments.  Negative r
    = hubs attach to leaves (dissortative, typical of similarity
    graphs).  Integer-moment products stay inside int64 for graphs up
    to ~1e5 edges x 1e4 max degree — a whole-graph scalar diagnostic,
    documented analysis-scale."""
    p0 = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).localCheckpoint()
    e = p0.unionAll(p0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    dx = deg.select(F.col("u").alias("nx"), F.col("d").alias("dx"))
    dy = deg.select(F.col("u").alias("ny"), F.col("d").alias("dy"))
    x = (
        e.join(dx, e["u"] == dx["nx"])
        .join(dy, e["v"] == dy["ny"])
        .select("dx", "dy")
    )
    m = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    nodes = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"), F.max("d").alias("max_degree")
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return m.crossJoin(nodes).select(
        "n_nodes",
        (F.col("n") / F.lit(2)).cast("long").alias("n_edges"),
        "max_degree",
        (
            F.col("n").cast("double")
            / F.nullif(F.col("n_nodes").cast("double"), F.lit(0.0))
        ).alias("mean_degree"),
        F.when(
            (denx > 0) & (deny > 0),
            F.round(num / F.sqrt(denx * deny), 6),
        ).alias("assortativity"),
    )
