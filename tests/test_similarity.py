from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trading_etl_python_spark.functions.vector import cosine, dot
from trading_etl_python_spark.operators import similarity as S
from trading_etl_python_spark.sources.tables import load_table


def test_dot_and_cosine_expressions(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>")
    row = df.select(dot("a", "b").alias("d"), cosine("a", "a").alias("c")).collect()[0]
    assert row.d == pytest.approx(32.0)
    assert row.c == pytest.approx(1.0)


def test_topk_cosine_self_is_top(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    top = S.topk_cosine(emb, query_vec_id=0, k=5).collect()
    assert top[0].vec_id == 0  # the query vector matches itself first
    assert top[0].cos_sim == pytest.approx(1.0, abs=1e-4)
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in S.topk_cosine(emb, 0, 10).collect()]
    approx = [r.vec_id for r in S.ann_lsh_topk(emb, 0, 10, n_planes=12, max_hamming=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"ANN recall@10 = {recall}"
    assert approx[0] == 0  # query always lands in its own bucket


def test_ivf_assign_is_nearest_centroid(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    cents = S.collect_centroids(emb, n_cells=4)
    assigned = {r.vec_id: r._cell for r in S.ivf_assign(emb, cents).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    for vid, v in vecs.items():
        best = min(cents, key=lambda c: (-S._seq_dot(v, cents[c]), c))
        assert assigned[vid] == best, f"vec {vid}: {assigned[vid]} != {best}"


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in S.topk_cosine(emb, 0, 10).collect()]
    approx = [r.vec_id for r in S.ann_ivf_topk(emb, 0, 10, n_cells=16, n_probe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.4, f"IVF recall@10 = {recall}"
    assert approx[0] == 0  # query's own cell is always probed


def test_ann_ivf_missing_query_raises(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="query vector"):
        S.ann_ivf_topk(emb, query_vec_id=10_000_000)


def test_train_ivf_kmeans_shape(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    cents = S.train_ivf_kmeans(emb, n_cells=4)
    assert set(cents) == {0, 1, 2, 3}
    assert all(len(v) == 64 for v in cents.values())
    # trained centroids drive the same assignment machinery
    cells = {r._cell for r in S.ivf_assign(emb, cents).collect()}
    assert cells <= {0, 1, 2, 3}


def test_cosine_pairs_blocked_symmetry_free(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.cosine_pairs_blocked(emb, threshold=-1.0, block_col="label").limit(1000).collect()
    assert all(r.vec_a < r.vec_b for r in pairs)  # each pair exactly once


def test_kmeans_step_means_and_counts(spark):
    from trading_etl_python_spark.operators.similarity import kmeans_step

    # two obvious clusters on a 2d simplex; seeds = vec_id<2 (one per side)
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [0.9, 0.1]), (3, [0.1, 0.9]), (4, [0.8, 0.2]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r.cell, r.dim): r for r in kmeans_step(df, n_cells=2).collect()}
    assert out[(0, 0)].n_members == 3  # vecs 0, 2, 4
    assert abs(out[(0, 0)].centroid_val - (1.0 + 0.9 + 0.8) / 3) < 1e-5
    assert out[(1, 1)].n_members == 2
    assert abs(out[(1, 1)].centroid_val - (1.0 + 0.9) / 2) < 1e-5


def test_kmeans_fit_reaches_fixpoint(spark):
    from trading_etl_python_spark.operators.similarity import kmeans_fit, kmeans_step

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [0.9, 0.1]), (3, [0.1, 0.9]), (4, [0.8, 0.2]), (5, [0.05, 0.95]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = kmeans_fit(df, n_cells=2, max_iter=5)
    # fixpoint: one more step reproduces the same centroids
    again = {(r.cell, r.dim): r.centroid_val for r in kmeans_step(df, cents).collect()}
    for (cell, dim), v in again.items():
        assert abs(cents[cell][dim] - v) < 1e-9


def test_gram_matrix_hand_values(spark):
    from trading_etl_python_spark.operators.similarity import gram_matrix

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    out = {(r.i, r.j): r for r in gram_matrix(df).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 1)}  # upper triangle only
    assert out[(0, 0)].g == 1 + 9  # 1*1 + 3*3
    assert out[(0, 1)].g == 2 + 12
    assert out[(1, 1)].g == 4 + 16
    assert all(r.n == 2 for r in out.values())


def test_ivf_assign_join_matches_inline(spark, sf_dir):
    """The broadcast-join assignment (large-K path) must produce the
    exact same cell per vector — including the smaller-cell-id
    tie-break — as the literal-inline argmax."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = S.collect_centroids(emb, 16)
    via_inline = {
        r.vec_id: r._cell for r in S.ivf_assign(emb, cents).select("vec_id", "_cell").collect()
    }
    cdf = S.centroids_to_df(spark, cents)
    via_join = {
        r.vec_id: r._cell
        for r in S.ivf_assign_join(emb, cdf).select("vec_id", "_cell").collect()
    }
    assert via_inline == via_join
    # schema parity: join path carries every input column through
    assert set(S.ivf_assign_join(emb, cdf).columns) == set(S.ivf_assign(emb, cents).columns)
    # unique-id contract (r12 ADVICE): one output row per input row
    assert len(via_join) == emb.count()


def test_ivf_assign_join_rejects_null_ids(spark):
    """The join-back argmax silently drops null ids through its inner
    join; the in-plan guard must turn that silent loss into a raise
    (the unique/non-null id precondition, r12 ADVICE)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    cdf = S.centroids_to_df(spark, {0: [1.0, 0.0], 1: [0.0, 1.0]})
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (None, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    # the in-plan raise_error surfaces as PySparkException when the
    # error-class mapping applies and as a bare Py4JJavaError otherwise
    # (depends on accumulated session state under the full suite)
    with pytest.raises((PySparkException, Py4JJavaError)) as exc_info:
        S.ivf_assign_join(df, cdf).collect()
    assert "null vec_id" in str(exc_info.value)


def test_kmeans_step_switches_to_join_past_crossover(spark, sf_dir):
    """kmeans_step at K > IVF_INLINE_MAX_CELLS must route through the
    broadcast-join assignment (constant plan size) and still produce
    per-cell means consistent with the inline path on the same
    centroids."""
    emb = load_table(spark, sf_dir, "embeddings").limit(400)
    # 300 centroids: real vectors for the first 16 cells, tiny distinct
    # offsets for the rest so assignment is still deterministic
    base = S.collect_centroids(emb, 16)
    dim = len(next(iter(base.values())))
    cents = dict(base)
    for c in range(16, 300):
        cents[c] = [10.0 + c] + [0.0] * (dim - 1)
    assert len(cents) > S.IVF_INLINE_MAX_CELLS
    got = {
        (r.cell, r.dim): (r.centroid_val, r.n_members)
        for r in S.kmeans_step(emb, cents).collect()
    }
    # direct inline assignment on the same centroids gives the expected means
    asn = S.ivf_assign(emb, cents, "_cell")
    exp = {
        (r.cell, r.dim): (r.centroid_val, r.n_members)
        for r in asn.select(F.col("_cell").alias("cell"), F.posexplode("embedding").alias("dim", "val"))
        .groupBy("cell", "dim")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"), F.count(F.lit(1)).alias("n_members"))
        .collect()
    }
    assert got == exp


def test_quantize_codes_in_range_and_roundtrip(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = S.collect_quant_params(emb)
    assert len(mins) == len(maxs) and all(m <= x for m, x in zip(mins, maxs))
    coded = emb.select(
        "vec_id", S.quantize_vec("embedding", mins, maxs).alias("code")
    )
    rng = coded.select(
        F.min(F.array_min("code")).alias("lo"), F.max(F.array_max("code")).alias("hi")
    ).first()
    assert rng["lo"] >= 0 and rng["hi"] <= 255

    # dequantized vectors reproduce quantization_error's per-vector MSE
    dq = coded.join(emb, "vec_id").select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                "embedding",
                S.dequantize_vec("code", mins, maxs),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias("sse"),
    )
    d = len(mins)
    direct = {r["vec_id"]: r["q_mse_ppm"] for r in S.quantization_error(emb).collect()}
    for r in dq.collect():
        assert abs(r["sse"] / d * 1e6 - direct[r["vec_id"]]) < 1e-3


def test_quantized_topk_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = S.collect_quant_params(emb)
    dq = emb.select(
        "vec_id", "label", S.dequantize_vec(
            S.quantize_vec("embedding", mins, maxs), mins, maxs
        ).alias("embedding")
    )
    exact = {r["vec_id"] for r in S.topk_cosine(emb, 0, k=20).collect()}
    quant = {r["vec_id"] for r in S.topk_cosine(dq, 0, k=20).collect()}
    assert len(exact & quant) >= 16  # int8 reconstruction keeps the shortlist


def test_hard_negatives_exclude_same_label(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.hard_negatives(emb, n_probes=10, k=5)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows and all(len({r["probe_id"] for r in rows if r["probe_id"] == p}) for p in range(10))
    for r in rows:
        assert labels[r["neg_id"]] != labels[r["probe_id"]]
    # exactly k per probe (corpus has >5 per foreign label at every sf)
    from collections import Counter

    per_probe = Counter(r["probe_id"] for r in rows)
    assert all(v == 5 for v in per_probe.values()) and len(per_probe) == 10


def test_quantization_per_dim_error_bound(spark):
    """int8 reconstruction error is bounded by half a quantization step
    per dimension: |x - dq| <= (mx - mn)/255/2 (+ float slack)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, rng.uniform(-1, 1, 16).astype(float).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mins, maxs = S.collect_quant_params(df)
    dq = df.select(
        "vec_id",
        S.dequantize_vec(S.quantize_vec("embedding", mins, maxs), mins, maxs).alias("dq"),
        "embedding",
    ).collect()
    steps = [(mx - mn) / 255 for mn, mx in zip(mins, maxs)]
    for r in dq:
        for x, y, s in zip(r["embedding"], r["dq"], steps):
            assert abs(x - y) <= s / 2 + 1e-12


def test_silhouette_separated_clusters(spark):
    """Two tight, well-separated clusters: every vector's silhouette is
    near 1; mislabel one vector into the far cluster and its silhouette
    goes negative (closer to its true cluster's centroid)."""
    from trading_etl_python_spark.operators.similarity import (
        cluster_quality,
        silhouette_scores,
    )

    rows = []
    for i in range(4):
        rows.append((i, [0.1 + 0.001 * i, 0.1], 0))       # cluster 0 near (0.1, 0.1)
        rows.append((10 + i, [-0.4, -0.4 - 0.001 * i], 1))  # cluster 1 near (-0.4,-0.4)
    rows.append((99, [0.1, 0.1], 1))  # mislabeled: sits in cluster 0
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r.vec_id: r for r in silhouette_scores(emb).collect()}
    assert all(out[i].silhouette > 0.9 for i in range(4))
    assert out[99].silhouette < 0.0
    assert out[99].b_sq < out[99].a_sq  # nearer the other centroid

    q = {r.label: r for r in cluster_quality(emb).collect()}
    assert q[0].n_vecs == 4 and q[1].n_vecs == 5
    assert q[0].mean_sil > 0.9 > q[1].mean_sil


def test_silhouette_bit_identical_under_repartition(spark, sf_dir):
    """§62 rulebook compliance: exact integer moments -> bit-identical
    under any input partitioning."""
    from trading_etl_python_spark.operators.similarity import silhouette_scores
    from trading_etl_python_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = {r.vec_id: (r.a_sq, r.b_sq, r.silhouette)
            for r in silhouette_scores(emb).collect()}
    for k in (1, 7):
        got = {r.vec_id: (r.a_sq, r.b_sq, r.silhouette)
               for r in silhouette_scores(emb.repartition(k)).collect()}
        assert got == base and base


def test_silhouette_translation_invariant(spark):
    """Adding a 1e-6-grid-aligned constant vector to every embedding
    shifts each quantized component and each centroid component by the
    same integer, so every squared distance — and therefore every
    silhouette — is EXACTLY unchanged (the integer-moment construction
    makes this an identity, not an approximation)."""
    import random

    from trading_etl_python_spark.operators.similarity import silhouette_scores

    rng = random.Random(7)
    rows = [
        (i, [round(rng.uniform(-0.5, 0.5), 6) for _ in range(8)], i % 3)
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    shift = [0.123456, -0.2, 0.000001, 0.4, -0.111111, 0.05, 0.25, -0.3]
    shifted = spark.createDataFrame(
        [(i, [round(v + s, 6) for v, s in zip(vec, shift)], lab)
         for i, vec, lab in rows],
        "vec_id long, embedding array<float>, label int",
    )
    base = {r.vec_id: (r.a_sq, r.b_sq, r.silhouette)
            for r in silhouette_scores(emb).collect()}
    got = {r.vec_id: (r.a_sq, r.b_sq, r.silhouette)
           for r in silhouette_scores(shifted).collect()}
    assert base and got == base


def test_semdedup_auto_equals_literal_at_gate_scale(spark, sf_dir):
    # N = 500 -> derived n_cells = max(16, ceil(sqrt(500))) = 23 and
    # (r11) derived skew bound m = 4*ceil(500/23) = 88: the auto
    # default and the pinned literal (23, 88) join path must agree —
    # the sub-split depends only on (|cell|, m), both identical
    emb = load_table(spark, sf_dir, "embeddings")
    auto = {r.vec_id: (r.cell, r.is_kept) for r in S.semdedup(emb).collect()}
    lit = {
        r.vec_id: (r.cell, r.is_kept)
        for r in S.semdedup(
            emb, n_cells=23, assign_via_join=True, max_cell=88
        ).collect()
    }
    assert auto == lit and len(auto) == 500


def test_semdedup_auto_scales_cell_count_with_corpus(spark):
    # 3000 synthetic vectors -> derived n_cells = ceil(sqrt(3000)) = 55;
    # the auto path must equal the literal-55 join path (same
    # centroids = lowest-id rows)
    n = 3000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            ((F.col("id") * 131) % 997).cast("double") / 997,
            ((F.col("id") * 257) % 991).cast("double") / 991,
            ((F.col("id") * 389) % 983).cast("double") / 983,
            F.lit(1.0),
        ).alias("embedding"),
    )
    auto = {r.vec_id: (r.cell, r.is_kept) for r in S.semdedup(df).collect()}
    # r11: the auto default carries the derived skew bound
    # m = 4*ceil(3000/55) = 220 — pin it explicitly on the literal side
    lit = {
        r.vec_id: (r.cell, r.is_kept)
        for r in S.semdedup(
            df, n_cells=55, assign_via_join=True, max_cell=220
        ).collect()
    }
    assert auto == lit and len(auto) == n
    cells = {c for c, _ in auto.values()}
    # dot-product assignment concentrates on high-norm centroids, so
    # occupancy is sparse — the regime proof is that the centroid RANGE
    # genuinely exceeded the 16 floor (cells >= 16 received members)
    assert max(cells) in range(16, 55)


def test_semdedup_max_cell_validation(spark):
    # ADVICE r10: max_cell < 1 must raise, never silently collapse the
    # sub-split to 1 group (which hands back the uncapped quadratic the
    # caller believes is capped); non-"auto" strings and bools likewise
    df = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    import pytest

    for bad in (0, -3, True, False, "bogus"):
        with pytest.raises(ValueError, match="max_cell"):
            S.semdedup(df, max_cell=bad)


def test_semdedup_auto_cap_engages_under_skew(spark):
    # One dominant centroid captures 332/350 vectors: |cell0| = 332 >
    # m = 4*ceil(350/19) = 76, so the r11 auto default sub-splits it
    # into ceil(332/76) = 5 hash groups.  All cell-0 members are exact
    # dups (dot = 1), so: uncapped keeps ONLY the global min id; the
    # auto cap keeps one survivor per sub-group.  The capped keep-set
    # must be a strict SUPERSET (the cap only ever MISSES dup pairs,
    # never invents them — the r10 superset law, now on the default).
    n = 350
    rows = [(0, [1.0, 0.0, 0.0, 0.0])]
    rows += [(j, [0.0, 0.3 + j / 100.0, 0.5, 0.0]) for j in range(1, 19)]
    rows += [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(19, n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    auto_keep = {
        r.vec_id for r in S.semdedup(emb).collect() if r.is_kept
    }
    unc_keep = {
        r.vec_id for r in S.semdedup(emb, max_cell=None).collect() if r.is_kept
    }
    assert unc_keep < auto_keep  # cap engaged AND only added survivors
    # every sub-group keeps exactly its min id: survivors among the
    # dominant cell = number of non-empty hash groups (<= 5), vs 1
    extra = auto_keep - unc_keep
    assert 1 <= len(extra) <= 4


def test_semdedup_fixed_budget_regime_is_capped_pinned(spark):
    """The fixed-budget regime (n_cells AND max_cell both pinned — the
    q_semdedup_fixedk production shape): the explicit int cap applies in
    the pinned-K path too, its keep-set is a superset of the uncapped
    pinned-K keep-set (cap only misses dup pairs), and with a cap large
    enough to cover every cell the two are identical."""
    from trading_etl_python_spark.operators import similarity as S

    # 60 exact dups of one vector + 20 spread vectors, K=4 pinned
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
    rows += [(100 + j, [0.0, 0.1 + j / 30.0, 0.7, 0.0]) for j in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    unc = {r.vec_id for r in S.semdedup(
        emb, n_cells=4, max_cell=None, assign_via_join=True).collect()
        if r.is_kept}
    capped = {r.vec_id for r in S.semdedup(
        emb, n_cells=4, max_cell=8, assign_via_join=True).collect()
        if r.is_kept}
    wide = {r.vec_id for r in S.semdedup(
        emb, n_cells=4, max_cell=1000, assign_via_join=True).collect()
        if r.is_kept}
    assert unc <= capped          # superset law under the pinned regime
    assert len(capped) > len(unc)  # m=8 < |dup cell| = 60: cap engaged
    assert wide == unc             # m >= every cell: cap inert
