"""Vector similarity search over embedding columns
(driver-mandated extension, SURVEY.md §2.3 X3; top-k similarity
literature in /root/repo/PAPERS.md).

Three tiers, by scale:

1. ``topk_cosine`` — brute-force scan + TakeOrderedAndProject: the exact
   baseline.  One pass over the table, per-partition top-k heaps, only
   k rows cross the network.  At 100 TB this is the *correct* shape for
   one-off queries (it is bandwidth-bound, embarrassingly parallel).
2. ``cosine_pairs_blocked`` — all-pairs within a blocking key (here the
   coarse ``label``, standing in for an IVF cell assignment): exact
   within block, never materializes the global pair space.
3. ``ann_lsh_topk`` — random-hyperplane LSH: probe only buckets matching
   the query signature, rerank exactly.  Recall/probe tradeoff via
   ``n_planes``/``n_probe_bits``; the sketch is JVM-side expressions.
4. ``ann_ivf_topk`` — inverted-file (IVF) ANN: assign every vector to its
   nearest coarse centroid MAP-SIDE (broadcast-literal centroid table, no
   shuffle), probe only the ``n_probe`` cells nearest the query, rerank
   exactly.  Assignment runs at scan time on every query; no query here
   reads a stored cell-partitioned index, so none is written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot
from ..util import spread


def topk_cosine(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 20, id_col: str = "vec_id"
) -> DataFrame:
    """Exact top-k by cosine (embeddings are unit-norm -> dot).  The
    1-row query side is broadcast; ORDER BY+LIMIT compiles to
    TakeOrderedAndProject.  Ties broken by id pre-rounding."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col("embedding").alias("_qv")
    )
    sim = dot("embedding", "_qv")
    return (
        embeddings.crossJoin(F.broadcast(q))
        .select(id_col, "label", sim.alias("_sim"))
        .orderBy(F.col("_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "label", F.round("_sim", 6).alias("cos_sim"))
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.8,
    block_col: str = "label",
    id_col: str = "vec_id",
    rows_per_block: int = 500,
) -> DataFrame:
    """X2-embedding — near-duplicate vector pairs within a blocking key.

    The block key is COMPOSITE: (block_col, porthash(id) % nb) with
    nb = max(1, N // rows_per_block), so the bucket count GROWS with the
    corpus and the pair space stays Σ_b |b|² ≈ N·rows_per_block /
    |labels| — LINEAR in N, not quadratic.  A fixed low-cardinality
    block key (the pre-r6 shape) does not subdivide with N: 10× data
    meant 100× pairs and this query died at scale while its banded
    siblings (MinHash/SimHash/LSH) survived.  The price is recall:
    near-dup pairs split across hash buckets are not compared —
    acceptable for the enumeration variant because the
    probability-complete paths (q_dedup_minhash, q_ann_lsh) exist; at
    gate scale (N <= rows_per_block) nb = 1 and the enumeration is
    label-complete, which keeps the oracle values identical to the
    unbucketed semantics there.

    ``rows_per_block=0`` disables subdivision (label-only blocking).
    N is computed in-plan (1-row agg, broadcast) — no driver collect;
    the oracle computes the same nb in a CTE."""
    from .dedup import porthash32

    # spread the probe side across cores (single-file scans arrive as one
    # partition); the build side is NOT force-broadcast — Catalyst picks
    # broadcast under autoBroadcastJoinThreshold and falls back to a
    # shuffle join when the table outgrows it (a mandatory hint would
    # abort >8GB tables instead of shuffling)
    if rows_per_block:
        tot = embeddings.agg(F.count(F.lit(1)).alias("_n"))
        nb = F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.col("_n") / F.lit(rows_per_block)).cast("long"),
        )
        keyed = (
            embeddings.crossJoin(F.broadcast(tot))
            .withColumn(
                "_blk", porthash32(F.col(id_col).cast("string")) % nb
            )
            .drop("_n")
        )
    else:
        keyed = embeddings.withColumn("_blk", F.lit(0).cast("long"))
    a = spread(keyed).alias("a")
    b = keyed.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a._blk") == F.col("b._blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            sim.alias("_sim"),
        )
        .filter(F.col("_sim") >= threshold)
        .select("vec_a", "vec_b", F.round("_sim", 6).alias("cos_sim"))
    )


# ------------------------------------------------------------------- IVF


def _seq_dot(a, b) -> float:
    """Strict left-to-right double fold — same accumulation order as the
    ``dot()`` HOF and DuckDB's list_sum(list_transform(...)), so driver-
    side and engine-side dot products agree bit-for-bit."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def collect_centroids(
    embeddings: DataFrame, n_cells: int = 16, id_col: str = "vec_id"
) -> dict[int, list[float]]:
    """Deterministic coarse centroids: the ``n_cells`` lowest-id vectors.
    A production build trains these with KMeans (``train_ivf_kmeans``);
    the deterministic pick keeps the whole IVF query oracle-checkable.

    r10: the pick is the true k-lowest (distributed sort+limit =
    TakeOrderedAndProject, k rows to the driver) rather than an
    ``id < n_cells`` slice, so offset/sparse id spaces can never yield
    an undersized-or-empty centroid set (ADVICE r9).  Identical on
    dense 0-based ids — every registry oracle keeps its ``vec_id < k``
    form, exact on the gate data."""
    rows = (
        embeddings.select(F.col(id_col).alias("cell"), "embedding")
        .sort("cell")
        .limit(n_cells)
        .collect()
    )
    return {int(r["cell"]): [float(v) for v in r["embedding"]] for r in rows}


def train_ivf_kmeans(
    embeddings: DataFrame, n_cells: int = 16, seed: int = 42, id_col: str = "vec_id"
) -> dict[int, list[float]]:
    """KMeans-trained centroids via Spark ML (the scale path: train on a
    sample, assignment stays map-side).  Engine-seeded -> queries built on
    these are rows-only checkable, not value-hash.

    Skew warning (r10, a3e8e3f:PLANS.md §72.1): on modal/blob-shaped embedding
    corpora trained centroids produce heavily SKEWED cells (measured:
    17% of a 20k corpus in one cell at K=47), and semdedup's pair join
    costs sum(|cell|^2) — pass ``max_cell`` to semdedup when feeding it
    trained centroids (38.4 s -> 2.52 s at the derived K in the r10
    grid).  The corpus-slice auto path measured balanced on the same
    data (seeds drawn FROM the density adapt to it; k-means|| init
    over-weights fringe points)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.select(array_to_vector(F.col("embedding").cast("array<double>")).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(vecs)
    return {i: [float(v) for v in c] for i, c in enumerate(model.clusterCenters())}


def ivf_assign(
    embeddings: DataFrame, centroids: dict[int, list[float]], cell_col: str = "_cell"
) -> DataFrame:
    """Nearest-centroid cell id per row, computed entirely map-side: the
    (small) centroid table is inlined as a literal array-of-structs and the
    argmax runs as a HOF expression — zero shuffle, scales linearly.  Ties
    break toward the smaller cell id (negated-cell max trick) to match the
    oracle's ROW_NUMBER ordering."""
    cent = F.array(
        *[
            F.struct(
                F.lit(cid).alias("cell"),
                F.array(*[F.lit(v) for v in vec]).alias("cv"),
            )
            for cid, vec in sorted(centroids.items())
        ]
    )
    best = F.array_max(
        F.transform(
            cent,
            lambda c: F.struct(
                dot(F.col("embedding"), c["cv"]).alias("sim"),
                (-c["cell"]).alias("negcell"),
            ),
        )
    )
    return embeddings.withColumn(cell_col, (-best["negcell"]).cast("int"))


def centroids_to_df(spark, centroids: dict[int, list[float]]) -> DataFrame:
    """Materialize a centroid dict as a (cell int, cv array<double>)
    DataFrame — the broadcast side of ``ivf_assign_join``."""
    return spark.createDataFrame(
        [(int(c), [float(v) for v in vec]) for c, vec in sorted(centroids.items())],
        "cell int, cv array<double>",
    )


def ivf_assign_join(
    embeddings: DataFrame, centroids_df: DataFrame, cell_col: str = "_cell", id_col: str = "vec_id"
) -> DataFrame:
    """Nearest-centroid assignment via broadcast hash join + ``max_by``
    argmax — the LARGE-K companion to ``ivf_assign``.

    Crossover: the literal-inline path embeds K x dim doubles in the
    plan; past K ~ 256 (dim 64) that bloats analysis/codegen and the
    task binary, and at production K (~2^16 cells) it is unworkable.
    This variant ships the centroid table as a broadcast relation
    (torrent-distributed once per executor, constant plan size): each
    row fans out to K scored candidates INSIDE its partition, and the
    groupBy(id) argmax collapses them map-side via partial aggregation
    — the final exchange carries one row per input row, and that
    exchange is exactly the hash(id) distribution the k-means mean
    recompute or a write-time ``partitionBy(cell)`` wants next.
    Identical assignment (incl. the smaller-cell-id tie-break) to
    ``ivf_assign``; proven by tests/test_similarity.py.

    The input is spread by hash(id) first: the K-way candidate fan-out
    multiplies per-task CPU by K, so a narrow scan (the sf1 embeddings
    parquet reads as 2 partitions) would pin the whole assignment to
    two cores — measured at sf1/K=160: 25.8s -> ~2s; the groupBy(id)
    argmax then rides the same hash(id) distribution.

    The argmax aggregates SKINNY (id, cell, sim) rows and joins the
    winning cell back to the input afterward (r12).  The r11 form ran
    ``max_by(struct(embedding, ...), ...)`` — an array-typed buffer
    forces SortAggregate, which SORTS the full N*K candidate stream
    WITH every row's embedding: at sf10 (200k x 448 = 89.6M wide rows)
    that one stage spilled 50 GB memory / 23 GB disk and pushed the
    designed ~N^1.5 semdedup family to a measured 39x per 10x data
    (a3e8e3f:sweeps/r12_semdedup_audit_sf10.json).  Dropping the payload from
    the aggregation leaves the same N*K dot products but only 24-byte
    rows in the sort, and the join back is one linear hash(id)-aligned
    pass — assignment semantics (incl. tie-break) are bit-identical.

    PRECONDITION: ``id_col`` must be UNIQUE and NON-NULL (r12 ADVICE).
    The r11 groupBy form collapsed duplicate ids to one output row and
    kept null-id rows; this join-back form fans duplicate ids out to
    one output row per input row and silently DROPS null ids via the
    inner join.  Every current caller feeds the parquet ``vec_id``
    primary key, where both hold; tests/test_similarity.py pins the
    contract (unique-id round-trip row count + a null-id raise)."""
    if embeddings.schema[id_col].nullable:
        # enforce the non-null half of the contract in-plan: a null id
        # raises instead of silently vanishing through the inner join
        embeddings = embeddings.withColumn(
            id_col,
            F.when(
                F.col(id_col).isNull(),
                F.raise_error(F.lit(f"ivf_assign_join: null {id_col} (ids must be unique+non-null)")),
            ).otherwise(F.col(id_col)),
        )
    embeddings = spread(embeddings, id_col, factor=16)
    carry = [c for c in embeddings.columns if c != id_col]
    sim = dot(F.col("embedding"), F.col("cv"))
    win = (
        embeddings.select(id_col, "embedding")
        .join(F.broadcast(centroids_df), how="cross")
        .select(F.col(id_col), F.col("cell"), sim.alias("_sim"))
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.col("cell"),
                F.struct(F.col("_sim").alias("sim"), (-F.col("cell")).alias("negcell")),
            ).alias("_wcell")
        )
    )
    return embeddings.join(win, id_col).select(
        id_col, *carry, F.col("_wcell").cast("int").alias(cell_col)
    )


#: above this many cells the literal-inline assignment path gives way to
#: the broadcast-join path (plan-size / codegen crossover, dim ~64)
IVF_INLINE_MAX_CELLS = 256


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    centroids: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``n_probe`` cells whose
    centroids are nearest the query, exact-rerank only their members.
    Probe-cell selection runs driver-side over the collected centroids
    (same sequential fold as the engine).  With default deterministic
    centroids this is fully value-hash oracle-checkable."""
    cents = centroids if centroids is not None else collect_centroids(embeddings, n_cells, id_col)
    qrows = embeddings.filter(F.col(id_col) == query_vec_id).select("embedding").collect()
    if not qrows:
        raise ValueError(f"query vector {id_col}={query_vec_id} not found")
    qvec = [float(v) for v in qrows[0]["embedding"]]
    probe = sorted(cents, key=lambda cid: (-_seq_dot(qvec, cents[cid]), cid))[:n_probe]
    qlit = F.array(*[F.lit(v) for v in qvec])
    cands = ivf_assign(embeddings, cents).filter(F.col("_cell").isin([int(p) for p in probe]))
    return (
        cands.select(id_col, "label", dot("embedding", qlit).alias("_sim"))
        .orderBy(F.col("_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "label", F.round("_sim", 6).alias("cos_sim"))
    )


# ------------------------------------------------------------------- LSH


def lsh_planes(n_planes: int = 12, dim: int = 64, seed: int = 11) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix from the shared LCG —
    generated once in Python and inlined as literals in BOTH the Spark
    plan and the DuckDB oracle, so the bucketing is engine-independent.
    Sign-random-projection only needs the signs, not gaussians (Charikar
    2002); ±1 keeps the literal table tiny (n_planes x dim ints)."""
    from ..util import lcg_stream

    bits = lcg_stream(seed, n_planes * dim, mod=2)
    return [
        [1.0 if bits[p * dim + i] else -1.0 for i in range(dim)]
        for p in range(n_planes)
    ]


def _lsh_signature(vec_col, planes: list[list[float]]):
    """Signature = Σ_p 2^p * [dot(v, plane_p) > 0] — the plane rows are
    literal arrays, the dot is the same left-fold HOF as ``dot()``."""
    sig = F.lit(0).cast("long")
    for p, w in enumerate(planes):
        wlit = F.array(*[F.lit(x) for x in w])
        proj = dot(vec_col, wlit)
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 12,
    max_hamming: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures, candidate filter
    by signature Hamming distance, exact rerank of candidates.  The
    signature is computed at scan time, on every query."""
    sig = _lsh_signature(F.col("embedding"), lsh_planes(n_planes, dim))
    with_sig = embeddings.withColumn("_sig", sig)
    q = with_sig.filter(F.col(id_col) == query_vec_id).select(
        F.col("embedding").alias("_qv"), F.col("_sig").alias("_qsig")
    )
    ham = F.bit_count(F.col("_sig").bitwiseXOR(F.col("_qsig")))
    cands = with_sig.crossJoin(F.broadcast(q)).filter(ham <= max_hamming)
    return (
        cands.select(id_col, "label", dot("embedding", "_qv").alias("_sim"))
        .orderBy(F.col("_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "label", F.round("_sim", 6).alias("cos_sim"))
    )


def kmeans_step(
    embeddings: DataFrame,
    centroids: dict[int, list[float]] | None = None,
    n_cells: int = 16,
    id_col: str = "vec_id",
) -> DataFrame:
    """One distributed Lloyd iteration (the body of k-means at scale):
    nearest-centroid assignment entirely MAP-SIDE (``ivf_assign``'s
    literal-centroid argmax HOF — zero shuffle over the fact table), then
    the mean recompute in LONG form — ``posexplode(embedding)`` ->
    groupBy(cell, dim) avg — one fully map-side-combinable shuffle whose
    key cardinality is K x dim, independent of row count.  Iterating is a
    driver loop feeding the output back in as the next centroid literal;
    empty cells simply drop out (standard Lloyd).

    Returns (cell, dim, centroid_val, n_members) — the updated centroid
    matrix in coordinate form."""
    cents = (
        centroids
        if centroids is not None
        else collect_centroids(embeddings, n_cells, id_col)
    )
    if len(cents) > IVF_INLINE_MAX_CELLS:
        cdf = centroids_to_df(embeddings.sparkSession, cents)
        asn = ivf_assign_join(embeddings, cdf, "_cell", id_col)
    else:
        asn = ivf_assign(embeddings, cents, "_cell")
    long = asn.select(
        F.col("_cell").alias("cell"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    return long.groupBy("cell", "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_members"),
    )


def _centroids_from_rows(rows, dim: int) -> dict[int, list[float]]:
    """Rebuild the centroid dict from a collected (cell, dim, val) round
    — shared by both Lloyd drivers so the re-inline semantics cannot
    drift between them."""
    nxt: dict[int, list[float]] = {}
    for r in rows:
        nxt.setdefault(int(r["cell"]), [0.0] * dim)[int(r["dim"])] = float(
            r["centroid_val"]
        )
    return nxt


def kmeans_fit(
    embeddings: DataFrame,
    n_cells: int = 16,
    max_iter: int = 10,
    id_col: str = "vec_id",
) -> dict[int, list[float]]:
    """Full Lloyd loop built from ``kmeans_step``: each round collects only
    the K x dim coordinate matrix (tiny, independent of data size) and
    re-inlines it as the next round's literal centroid table.  Stops early
    when assignments stop moving the centroids (exact fixpoint)."""
    cents = collect_centroids(embeddings, n_cells, id_col)
    dim = len(next(iter(cents.values())))
    for _ in range(max_iter):
        rows = kmeans_step(embeddings, cents, id_col=id_col).collect()
        nxt = _centroids_from_rows(rows, dim)
        if nxt == cents:
            break
        cents = nxt
    return cents


def gram_matrix(embeddings: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Gram / scatter matrix X^T X in coordinate form — the building block
    for covariance, PCA, and linear probes over an embedding corpus,
    computed WITHOUT a self-join: each row emits its own outer product
    (two chained posexplodes, upper triangle only) and the per-partition
    partial aggregation collapses everything to d*(d+1)/2 keys before the
    single shuffle.  Shuffle bytes are O(d^2 x partitions), independent
    of corpus size — the map-reduce outer-product-sum.

    Returns (i, j, g, n) with j >= i: g = sum over rows of x_i * x_j."""
    lng = embeddings.select(
        F.col("embedding").cast("array<double>").alias("_v")
    ).select("_v", F.posexplode("_v").alias("i", "xi"))
    pairs = lng.select("i", "xi", F.posexplode("_v").alias("j", "xj")).filter(
        F.col("j") >= F.col("i")
    )
    return pairs.groupBy("i", "j").agg(
        F.round(F.sum(F.col("xi") * F.col("xj")), 6).alias("g"),
        F.count(F.lit(1)).alias("n"),
    )


def _semdedup_assign(vecs, cents, assign_via_join: bool, id_col: str):
    """semdedup's literal-centroid routing, extracted so the
    inline-vs-join decision is directly plan-testable (the checkpoint
    barrier in semdedup hides the assignment subplan from the final
    executedPlan — tests/test_late_r4.py asserts on THIS builder)."""
    if assign_via_join or len(cents) > IVF_INLINE_MAX_CELLS:
        cdf = centroids_to_df(vecs.sparkSession, cents)
        return ivf_assign_join(vecs, cdf, "_cell", id_col)
    return ivf_assign(vecs, cents, "_cell")


#: semdedup's auto cell-count floor.  The auto rule is ``n_cells =
#: max(SEMDEDUP_MIN_CELLS, ceil(sqrt(N)))``: exact SemDeDup pays
#: N*K dot products for assignment plus ~N²/K for the in-cell pair
#: join, so K = sqrt(N) BALANCES the two terms and minimizes total
#: compute at ~2*N^1.5 — a K that merely grows linearly in N (the
#: naive rows-per-cell rule) makes assignment itself the quadratic
#: term.  At the paper's corpus sizes the rule lands on the paper's
#: own K (sqrt(100M) = 10k, Abbas et al. use 10-50k); sqrt is
#: IEEE-correctly-rounded on both engines so the oracle's
#: GREATEST(16, CEIL(SQRT(COUNT(*)))) derives the identical count.
SEMDEDUP_MIN_CELLS = 16

#: auto skew bound: cells larger than SEMDEDUP_SKEW_FACTOR x the
#: balanced size ceil(N/K) are sub-split (r10 VERDICT #2 -> r11
#: default).  4x is deliberately generous: the bound is INERT on
#: balanced cells (where |c| ~ N/K) and engages exactly where the r10
#: balance measurement (a3e8e3f:sweeps/r10_semdedup_scale.json) showed trained
#: centroids blowing up sum|c|^2 — 12% of the corpus in one cell, ~8x
#: the balanced pair work.  With the bound, worst-case pair work is
#: ~N * 4*ceil(N/K) = 4*N^1.5 at K=sqrt(N) — the same order as the
#: balanced ideal, now guaranteed rather than assumed.
SEMDEDUP_SKEW_FACTOR = 4


def semdedup(
    embeddings: DataFrame,
    n_cells: int | None = None,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    centroids: dict[int, list[float]] | None = None,
    assign_via_join: bool = False,
    max_cell: int | str | None = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    semantic deduplication over an embedding corpus with the pairwise
    work bounded by k-means cells.  Assign every vector to its nearest
    coarse centroid (MAP-SIDE ``ivf_assign`` — zero shuffle), compute
    exact cosine only WITHIN each cell, and drop every vector that has a
    lower-id cell-mate with similarity >= ``threshold`` (first-writer-
    wins, the same canonical-survivor rule as ``dedup_exact``).

    Scale: the pair space is Σ_c |c|², never N² — the cell count is the
    knob that trades assignment cost against pair-join cost (the paper
    uses K ~ 10k on 100M+ corpora; cells also parallelize the join
    perfectly since both sides hash-partition on the cell id).  For
    production K, swap ``collect_centroids`` for ``train_ivf_kmeans``
    and set ``assign_via_join`` — same contract.

    ``assign_via_join`` routes assignment through ``ivf_assign_join``
    (broadcast centroid relation + max_by argmax) instead of the
    literal-inline ``ivf_assign`` — the shape that survives production
    K (~10k cells), where K x dim literals would bloat the plan; it is
    forced automatically past ``IVF_INLINE_MAX_CELLS``.  Assignment
    (incl. the smaller-cell-id tie-break) is identical either way, so
    both paths share one oracle.

    ``n_cells=None`` (the default since r9 — r8 VERDICT #3) derives the
    cell count IN-PLAN as ``max(16, ceil(sqrt(N)))``: the corpus count
    enters as a broadcast 1-row aggregate, the centroid relation is the
    ``vec_id < k`` slice of the corpus itself, and assignment runs
    through the broadcast-join path — no driver-side count, no literal
    K anywhere.  K = sqrt(N) is the COMPUTE-BALANCED choice (see
    ``SEMDEDUP_MIN_CELLS``): assignment costs N*K dots, the in-cell
    pair join ~N²/K, so sqrt(N) equalizes them at ~2*N^1.5 total — at
    fixed K the pair join is quadratic (the r8 sweep measured the old
    literal-16 default at 8.46x per 10x data), while K linear in N
    (rows-per-cell) just moves the quadratic into assignment.  An
    explicit integer ``n_cells`` pins the literal regime (the oracle
    cross-check forms; ``q_semdedup``'s auto oracle derives the same
    count with GREATEST/CEIL/SQRT).

    ``max_cell`` (r10; default since r11) bounds the pair space against
    cell SKEW: the in-cell join costs sum(|c|^2), which equals the
    idealized N^2/K only for BALANCED cells — the r10 balance
    measurement (a3e8e3f:sweeps/r10_semdedup_scale.json) found trained KMeans
    centroids on blob-shaped data putting 12% of the corpus in ONE cell
    (sum_sq ~8x the balanced value at the same K), so wall-clock is
    governed by the largest cell, not by K.  With ``max_cell=m`` every
    cell larger than m is sub-split into ceil(|c|/m) hash groups
    (portable ``porthash32(id)``, oracle-expressible), and pairs are
    compared only within a (cell, sub) group: worst-case pair work
    drops to ~N*m — LINEAR in N at fixed m — at the cost of missing
    duplicate pairs that straddle sub-groups of an oversized cell
    (bounded recall loss on exactly the cells where exact SemDeDup is
    intractable anyway; the paper's own answer to huge cells is more
    K, which moves the quadratic into assignment).

    ``max_cell="auto"`` (the DEFAULT, r10 VERDICT #2): in the auto
    ``n_cells=None`` path the bound is derived IN-PLAN as
    ``SEMDEDUP_SKEW_FACTOR * ceil(N/K)`` — 4x the balanced cell size,
    so it is inert on balanced cells and engages exactly under the
    skew the r10 measurement demonstrated; worst-case pair work
    becomes ~4*N^1.5, the balanced ideal's order, GUARANTEED.  In the
    pinned regimes (explicit ``n_cells`` or ``centroids``) "auto"
    applies NO cap — those paths exist to pin exact literal semantics
    (the measurement twins).  ``None`` forces uncapped everywhere; an
    int >= 1 pins an explicit bound (values < 1 raise — a zero/negative
    bound would silently collapse the sub-split to 1 group and hand
    back the exact uncapped quadratic the caller believes is capped).

    Returns (vec_id, cell, is_kept) for EVERY input vector — an audit
    table a curation DAG can join back to filter, weight, or inspect.
    """
    if isinstance(max_cell, bool) or (
        isinstance(max_cell, int) and max_cell < 1
    ):
        raise ValueError(f"max_cell must be an int >= 1, 'auto' or None; got {max_cell!r}")
    if isinstance(max_cell, str) and max_cell != "auto":
        raise ValueError(f"max_cell must be an int >= 1, 'auto' or None; got {max_cell!r}")
    vecs = embeddings.select(id_col, "embedding")
    m_col = None  # double Column: sub-split divisor, None = uncapped
    if isinstance(max_cell, int):
        m_col = F.lit(float(max_cell))
    if n_cells is None and centroids is None:
        stats = F.broadcast(
            embeddings.agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(F.col(id_col)).alias("_min_id"),
            )
        )
        k = F.greatest(
            F.lit(SEMDEDUP_MIN_CELLS).cast("long"),
            F.ceil(F.sqrt(F.col("_n"))),
        )
        # centroid slice anchored at MIN(id), not 0: `id < min_id + k`
        # is identical to `id < k` on dense 0-based ids (every gate
        # dataset) but stays NON-EMPTY for offset ids, so the
        # every-input-vector audit contract can never be voided by an
        # empty centroid relation silently emptying the assignment
        # join.  Sparse ids (gaps below min_id+k) yield fewer than k
        # centroids — coarser cells, contract intact; exact-k on
        # sparse ids would need a global rank (single-task sort at
        # corpus scale), which is the wrong trade for a seed pick.
        cdf = (
            embeddings.crossJoin(stats)
            .filter(F.col(id_col) < F.col("_min_id") + k)
            .select(
                F.col(id_col).cast("int").alias("cell"),
                F.col("embedding").alias("cv"),
            )
        )
        asn = ivf_assign_join(vecs, cdf, "_cell", id_col)
        if max_cell == "auto":
            # in-plan skew bound m = 4*ceil(N/K): the same broadcast
            # 1-row stats that derived K also carries N, so the bound
            # adds no pass over the data — only the per-cell window
            # count below, which shuffles by _cell, the distribution
            # the pair join needs anyway.  ceil(double) -> long on
            # Spark, CEIL(double) -> double on DuckDB; both exact
            # integers, so the oracle's 4*CEIL(n/k) derives the
            # identical divisor.
            asn = asn.crossJoin(stats)
            m_col = (
                F.lit(SEMDEDUP_SKEW_FACTOR)
                * F.ceil(F.col("_n").cast("double") / k)
            ).cast("double")
    else:
        cents = (
            centroids
            if centroids is not None
            else collect_centroids(embeddings, n_cells, id_col)
        )
        asn = _semdedup_assign(vecs, cents, assign_via_join, id_col)
    on = (F.col("a._cell") == F.col("b._cell")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if m_col is not None:
        from pyspark.sql import Window

        from .dedup import porthash32

        # ceil(|c|/m) sub-groups per cell; the window count shuffles by
        # _cell, the same distribution the pair join needs anyway
        nsub = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(
                F.count(F.lit(1)).over(Window.partitionBy("_cell")) / m_col
            ),
        )
        asn = asn.withColumn(
            "_sub", porthash32(F.col(id_col).cast("string")) % nsub
        ).select(id_col, "embedding", "_cell", "_sub")
        on = on & (F.col("a._sub") == F.col("b._sub"))
    # the assignment feeds THREE subtrees (both sides of the in-cell
    # pair join + the final audit left-join); checkpoint it once so the
    # assignment join/scan doesn't re-execute per reference (measured
    # sf1 auto: ~5.7s -> ~3s warm; the curate_corpus_full precedent)
    asn = asn.localCheckpoint(eager=False)
    a = spread(asn).alias("a")
    b = asn.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding"))
    dup = (
        a.join(b, on)
        .filter(sim >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return asn.join(dup, id_col, "left").select(
        id_col,
        F.col("_cell").alias("cell"),
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("is_kept"),
    )


def pca_power(embeddings: DataFrame, iters: int = 4) -> DataFrame:
    """Top principal direction of the embedding corpus by power iteration
    over the DISTRIBUTED Gram matrix — the PCA/whitening step of an
    embedding pipeline done with exactly ONE pass over the data:
    ``gram_matrix`` reduces the corpus to d(d+1)/2 coordinate rows
    (independent of row count), and every subsequent iteration is a
    join + fold over that d x d table — O(d²) work per step no matter
    how large the corpus was.

    Engine-portability: the matrix-vector product folds each row's terms
    in ORDER BY j sequence (sort_array + left fold) and the norm folds
    ORDER BY i, so Spark and any SQL twin accumulate in the identical
    order — bit-exact, no summation-order rounding slack needed.  The
    Gram input is itself rounded at 6dp (``gram_matrix``'s contract),
    making the whole computation a deterministic function of identical
    inputs.  Start vector = all-ones (normalized on the first step);
    sign is whatever the iteration converges to — deterministic, since
    every operation is.

    Returns (dim, loading) — the unit top-eigenvector estimate, 6dp."""
    g = gram_matrix(embeddings)
    full = g.select("i", "j", "g").union(
        g.filter(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    # d² rows, referenced every iteration: cut the lineage once
    full = full.localCheckpoint(eager=True)
    v = full.select(F.col("i").alias("dim")).distinct().withColumn(
        "v", F.lit(1.0)
    )
    for _ in range(iters):
        terms = full.join(v, full["j"] == v["dim"]).select(
            "i", "j", (F.col("g") * F.col("v")).alias("p")
        )
        w = terms.groupBy("i").agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("j", "p"))),
                F.lit(0.0),
                lambda acc, t: acc + t["p"],
            ).alias("w")
        )
        n = w.select(
            F.sqrt(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("i", "w"))),
                    F.lit(0.0),
                    lambda acc, t: acc + t["w"] * t["w"],
                )
            ).alias("_n")
        )
        v = w.crossJoin(F.broadcast(n)).select(
            F.col("i").alias("dim"), (F.col("w") / F.col("_n")).alias("v")
        )
    return v.select("dim", F.round("v", 6).alias("loading"))


# ------------------------------------------------- scalar quantization


def quantize_params(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (min, max) over the corpus — the codebook for int8
    scalar quantization.  posexplode + groupBy(dim): map-side combiners
    reduce each task to d partial rows, so the shuffle moves
    O(tasks x d) tiny tuples regardless of corpus size."""
    ex = embeddings.select(F.posexplode(F.col(vec_col)).alias("dim", "_v"))
    return ex.groupBy("dim").agg(
        F.min(F.col("_v").cast("double")).alias("mn"),
        F.max(F.col("_v").cast("double")).alias("mx"),
    )


def collect_quant_params(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Collect the d-row codebook to the driver (same bounded-collect
    posture as ``collect_centroids``: d doubles, not data rows) so the
    quantize/dequantize passes stay pure map-side literals."""
    rows = quantize_params(embeddings, vec_col).orderBy("dim").collect()
    return [r["mn"] for r in rows], [r["mx"] for r in rows]


def _dequant_expr(x, mn, mx):
    """Quantize-then-reconstruct one component in double precision:
    code = clamp(floor((x-mn)/(mx-mn)*255 + 0.5)); back to
    mn + code/255*(mx-mn).  floor(+0.5) instead of round() — identical
    on every engine (no half-even vs half-up ambiguity)."""
    s = mx - mn
    code = F.least(
        F.lit(255.0), F.greatest(F.lit(0.0), F.floor((x - mn) / s * 255 + F.lit(0.5)))
    )
    return F.when(s > 0, mn + code / 255 * s).otherwise(mn)


def quantize_vec(vec_col, mins: list[float], maxs: list[float]):
    """int8 code array for a vector column — 4x memory cut vs float32
    (16x vs the doubles they widen to), pure JVM transform()."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    mn = F.array(*[F.lit(v) for v in mins])
    mx = F.array(*[F.lit(v) for v in maxs])

    def code(x, i):
        m, s = F.element_at(mn, i + 1), F.element_at(mx, i + 1) - F.element_at(mn, i + 1)
        c = F.least(
            F.lit(255.0),
            F.greatest(F.lit(0.0), F.floor((x.cast("double") - m) / s * 255 + F.lit(0.5))),
        )
        return F.when(s > 0, c).otherwise(F.lit(0.0)).cast("int")

    return F.transform(vec, code)


def dequantize_vec(code_col, mins: list[float], maxs: list[float]):
    code = F.col(code_col) if isinstance(code_col, str) else code_col
    mn = F.array(*[F.lit(v) for v in mins])
    mx = F.array(*[F.lit(v) for v in maxs])
    return F.transform(
        code,
        lambda c, i: F.when(
            F.element_at(mx, i + 1) > F.element_at(mn, i + 1),
            F.element_at(mn, i + 1)
            + c.cast("double")
            / 255
            * (F.element_at(mx, i + 1) - F.element_at(mn, i + 1)),
        ).otherwise(F.element_at(mn, i + 1)),
    )


def quantization_error(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector reconstruction MSE (in ppm) of int8 scalar
    quantization — the compression-loss audit for the ANN scale path
    (quantized vectors make the IVF/LSH probe sets 4x smaller before
    exact rerank).  The whole scoring pass is one map stage: per-dim
    params ride in as a broadcast-joined d-row table, reconstruction
    and the error fold are sequential array expressions (summation
    order matches the DuckDB oracle)."""
    params = quantize_params(embeddings, vec_col)
    mn = F.array_sort(F.collect_list(F.struct("dim", "mn")))
    mx = F.array_sort(F.collect_list(F.struct("dim", "mx")))
    packed = params.agg(
        F.transform(mn, lambda s: s["mn"]).alias("_mns"),
        F.transform(mx, lambda s: s["mx"]).alias("_mxs"),
    )
    err = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.sequence(F.lit(0), F.size(vec_col) - 1),
            lambda x, i: x.cast("double")
            - _dequant_expr(
                x.cast("double"),
                F.element_at(F.col("_mns"), i + 1),
                F.element_at(F.col("_mxs"), i + 1),
            ),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d * d,
    ) / F.size(vec_col)
    return (
        embeddings.crossJoin(F.broadcast(packed))
        .select(
            F.col(id_col),
            "label",
            F.round(err * 1e6, 6).alias("q_mse_ppm"),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    n_probes: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector (the training batch — here ids < ``n_probes``), the k
    most-similar corpus vectors with a DIFFERENT label.

    Plan: the probe batch broadcasts (batch-sized, like the training
    loop's anchors), the corpus is scanned once, and the per-probe
    top-k is a window over partitionBy(probe).  The shuffle carries
    |corpus| x |probes| scored (id, id, sim) triples — fine for
    batch-sized probe sets; for corpus-x-corpus mining swap the scan
    for the ANN index probe (``ann_lsh_topk``/``ann_ivf_topk``) and
    rerank, same output contract."""
    from pyspark.sql import Window

    p = embeddings.filter(F.col(id_col) < n_probes).select(
        F.col(id_col).alias("probe_id"),
        F.col(label_col).alias("_plabel"),
        F.col("embedding").alias("_pv"),
    )
    sim = dot("embedding", "_pv")
    scored = (
        embeddings.crossJoin(F.broadcast(p))
        .filter(F.col(label_col) != F.col("_plabel"))
        .select(
            "probe_id", F.col(id_col).alias("neg_id"), sim.alias("_sim")
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_sim").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("probe_id", "neg_id", F.round("_sim", 6).alias("neg_sim"))
    )


def ann_recall(
    embeddings: DataFrame,
    n_probes: int = 8,
    k: int = 10,
    n_planes: int = 12,
    max_hamming: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the LSH probe path against the exact scan, per probe
    — the index-quality ACCEPTANCE GATE an ANN deployment runs before
    trusting the approximate path (and re-runs after re-indexing).
    Probes are the ``n_probes`` lowest-id vectors (deterministic, same
    convention as ``collect_centroids``).

    One corpus scan serves both sides: every row is scored against the
    broadcast probe batch; the exact side ranks by cosine, the LSH side
    Hamming-filters on the signature BEFORE ranking (so its candidate
    set is what the real probe would rerank).  Per-probe rank windows
    ride one hash(probe_id) distribution; the final recall join is
    k x n_probes rows a side — driver-negligible.

    Returns (probe_id, n_overlap, recall) — recall = |exact ∩ lsh| / k.
    """
    planes = lsh_planes(n_planes, _dim_of(embeddings))
    from pyspark.sql import Window

    probes = (
        embeddings.filter(F.col(id_col) < n_probes)
        .select(
            F.col(id_col).alias("probe_id"),
            F.col("embedding").alias("_qv"),
            _lsh_signature(F.col("embedding"), planes).alias("_qsig"),
        )
    )
    corpus = embeddings.select(
        id_col, "embedding", _lsh_signature(F.col("embedding"), planes).alias("_sig")
    )
    scored = corpus.join(F.broadcast(probes), how="cross").select(
        "probe_id",
        id_col,
        dot("embedding", "_qv").alias("_sim"),
        F.bit_count(F.col("_sig").bitwiseXOR(F.col("_qsig"))).alias("_ham"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_sim").desc(), F.col(id_col).asc()
    )
    exact = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("probe_id", id_col)
    )
    approx = (
        scored.filter(F.col("_ham") <= max_hamming)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("probe_id", id_col)
    )
    hits = exact.join(approx, ["probe_id", id_col]).groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        probes.select("probe_id")
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(F.coalesce("n_overlap", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall"
            ),
        )
    )


def _dim_of(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Embedding dimensionality from the FIRST row (schema carries no
    array length) — one 1-row driver fetch, cached per call site."""
    row = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
    return int(row[0]["d"]) if row else 0


# ------------------------------------------------- product quantization


def pq_codebooks(
    embeddings: DataFrame, m: int = 8, k: int = 16, id_col: str = "vec_id"
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: split the d-dim
    space into ``m`` contiguous subspaces; subspace s's ``k`` centroids
    are the k lowest-id vectors' s-th subvectors (same oracle-checkable
    convention as ``collect_centroids`` — a production build trains
    each subspace with k-means on a sample instead, same contract).
    Returns codebooks[s][j] = centroid j of subspace s.

    Requires ids 0..k-1 to be PRESENT (code j == source id j — the
    contract the SQL twin's ``cent`` CTE relies on) and d divisible by
    m (a silent remainder would leave tail dimensions unencoded) —
    both violations raise instead of mis-encoding."""
    rows = (
        embeddings.filter(F.col(id_col) < k)
        .select(id_col, "embedding")
        .orderBy(id_col)
        .collect()
    )
    if [int(r[id_col]) for r in rows] != list(range(k)):
        raise ValueError(
            f"pq_codebooks: ids 0..{k - 1} must all be present "
            f"(got {[int(r[id_col]) for r in rows]})"
        )
    d = len(rows[0]["embedding"])
    if d % m != 0:
        raise ValueError(f"pq_codebooks: dim {d} not divisible by m={m}")
    ds = d // m
    return [
        [[float(v) for v in r["embedding"][s * ds : (s + 1) * ds]] for r in rows]
        for s in range(m)
    ]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    with_dists: bool = False,
) -> DataFrame:
    """PQ encoding, entirely MAP-SIDE: each subvector takes the index of
    its nearest subspace centroid (squared-L2 argmin, ties to the
    smaller index).  d floats compress to m small codes (4 bits each at
    k=16) — the FAISS-style memory step between scalar quantization
    (8x) and binary sketches.

    Execution is an Arrow-vectorized ``mapInPandas`` kernel (SURVEY
    §7.4 license — the same class as the linear recurrences): the m*k
    distance evaluations per row are elementwise float64 numpy ops.
    Numeric contract for oracle parity: distances accumulate in STRICT
    ascending-dimension order (``acc = acc + diff*diff`` per dimension
    — elementwise IEEE adds in exactly a left fold's order, so every
    distance is bit-identical to the SQL twin's ``list_reduce``), and
    ``np.argmin`` returns the FIRST minimum, matching the
    smaller-index tie-break.  The pure-JVM twin (zip_with+aggregate
    fold per centroid, or the unrolled add chain) computes the same
    bits but pays per-element interpreted-lambda cost — measured 8 s /
    13 s respectively for 2000 vectors at (m=8, k=16); the unrolled
    form also overflows janino's 64 KB method limit and loses codegen
    entirely.  Vectorized: ~0.1 s.

    Adds ``pq_codes`` (array<int>, length m) to the input columns;
    ``with_dists=True`` also emits ``pq_dists`` — the per-subspace
    chosen squared distances the argmin already computed (so auditors
    like ``pq_error`` never re-derive them)."""
    import numpy as np
    from pyspark.sql import types as T

    m = len(codebooks)
    ds = len(codebooks[0][0])
    cents = [
        [[float(v) for v in c] for c in cb] for cb in codebooks
    ]  # plain lists: picklable, no Spark objects in the closure
    out_schema = T.StructType(
        list(embeddings.schema.fields)
        + [T.StructField("pq_codes", T.ArrayType(T.IntegerType()))]
        + (
            [T.StructField("pq_dists", T.ArrayType(T.DoubleType()))]
            if with_dists
            else []
        )
    )

    def enc(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # NULL / wrong-length / non-finite-element embeddings
            # propagate as NULL codes, never an executor crash.  Arrow
            # surfaces element NULLs as NaN, indistinguishable here
            # from a genuine NaN — both would argmin to a confident
            # wrong code 0, so BOTH are treated as invalid.  This is
            # deliberately STRICTER than the expression twin (which
            # NULLs only whole-array NULL and computes codes through
            # NaN/Inf arithmetic); the judged corpora carry no
            # non-finite elements, so oracle parity is unaffected.
            emb = list(pdf["embedding"])
            cand = [
                r
                for r, v in enumerate(emb)
                if v is not None and len(v) == m * ds
            ]
            Xc = np.empty((len(cand), m * ds), dtype=np.float64)
            for r, ii in enumerate(cand):
                Xc[r, :] = np.asarray(emb[ii], dtype=np.float64)
            finite = np.isfinite(Xc).all(axis=1)
            vidx = [cand[i] for i in np.flatnonzero(finite)]
            nv = len(vidx)
            X = Xc[finite]
            codes = np.empty((nv, m), dtype=np.int64)
            dists = np.empty((nv, m), dtype=np.float64) if with_dists else None
            for s in range(m):
                sub = X[:, s * ds : (s + 1) * ds]
                C = np.asarray(cents[s], dtype=np.float64)  # (k, ds)
                acc = np.zeros((nv, C.shape[0]), dtype=np.float64)
                for i in range(ds):  # strict ascending-dim fold
                    diff = sub[:, i : i + 1] - C[None, :, i]
                    acc = acc + diff * diff
                j = np.argmin(acc, axis=1)  # first min = smaller index
                codes[:, s] = j
                if with_dists:
                    dists[:, s] = acc[np.arange(nv), j]
            codes_out: list = [None] * n
            for r, ii in enumerate(vidx):
                codes_out[ii] = [int(x) for x in codes[r]]
            out = pdf.copy()
            out["pq_codes"] = codes_out
            if with_dists:
                dists_out: list = [None] * n
                for r, ii in enumerate(vidx):
                    dists_out[ii] = [float(x) for x in dists[r]]
                out["pq_dists"] = dists_out
            yield out

    enc_df = embeddings.mapInPandas(enc, out_schema)
    cols = [id_col, "embedding", "pq_codes"]
    if with_dists:
        cols.append("pq_dists")
    return enc_df.select(*cols)


def pq_error(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector PQ reconstruction error (ppm of the squared norm) —
    the compression-quality audit, same contract as
    ``quantization_error`` for the scalar path.  Map-side: encode +
    literal codebook lookup + strict-fold norms."""
    enc = pq_encode(embeddings, codebooks, id_col, with_dists=True)
    # s-ascending fold over the residuals the argmin already computed
    err = F.aggregate("pq_dists", F.lit(0.0), lambda a, v: a + v)
    norm2 = dot("embedding", "embedding")
    return enc.select(
        id_col,
        F.concat_ws(",", F.col("pq_codes")).alias("codes"),
        F.floor(err / F.nullif(norm2, F.lit(0.0)) * 1_000_000)
        .cast("long")
        .alias("err_ppm"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec_id: int = 0,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k with exact rerank: the query
    stays FULL-PRECISION and each subspace contributes a 16-entry
    lookup table of dot(query_sub, centroid_j); a candidate's
    approximate similarity is the sum of m table lookups on its codes —
    no vector arithmetic per candidate, the scan cost that makes PQ the
    billion-vector workhorse.  The top ``rerank`` ADC candidates are
    re-scored with the exact dot — the result is the exact top ``k``
    WITHIN that candidate set (the standard PQ caveat: a true neighbor
    the ADC ranks below ``rerank`` is missed, so size ``rerank``
    against the recall you need — the ``ann_recall`` harness measures
    it).

    The LUT is built ONCE on the driver from the (1-row, bounded) query
    vector with ``_seq_dot`` — the strict left fold whose accumulation
    order matches the SQL twin bit-for-bit — and inlined as literal
    arrays, so per-row scoring is m pure element_at lookups (an in-plan
    per-row dot would re-fold all m*k LUT entries for EVERY candidate —
    the interpreted-HOF cost class, measured ~3.5 s of this query at
    2000 vectors).  At deployment the codes table is the only thing
    scanned (m bytes/vector) and the LUT is a literal, exactly as
    here."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    qrows = (
        embeddings.filter(F.col(id_col) == query_vec_id)
        .select("embedding")
        .collect()
    )
    if not qrows:
        raise ValueError(f"query vector {id_col}={query_vec_id} not found")
    qvec = [float(v) for v in qrows[0]["embedding"]]
    # qvec is already on the driver — inline it as a literal column
    # (same inlining as the LUT) instead of re-scanning embeddings for
    # a 1-row DataFrame to crossJoin
    enc = pq_encode(embeddings, codebooks, id_col).withColumn(
        "_qv", F.array(*[F.lit(v) for v in qvec])
    )
    approx = F.lit(0.0)
    for s, cents in enumerate(codebooks):
        qsub = qvec[s * ds : (s + 1) * ds]
        lut = F.array(*[F.lit(_seq_dot(qsub, c)) for c in cents])
        approx = approx + F.element_at(lut, F.element_at("pq_codes", s + 1) + 1)
    cand = (
        enc.select(id_col, "embedding", "_qv", approx.alias("_adc"))
        .orderBy(F.col("_adc").desc(), F.col(id_col).asc())
        .limit(rerank)
    )
    exact = dot("embedding", "_qv")
    return (
        cand.select(id_col, F.round("_adc", 6).alias("adc_sim"), exact.alias("_sim"))
        .orderBy(F.col("_sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "adc_sim", F.round("_sim", 6).alias("cos_sim"))
    )


def ann_ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    pq_k: int = 16,
    rerank: int = 50,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ — the FAISS billion-scale default, composed from the two
    halves this module already proves separately: the IVF coarse probe
    keeps only the n_probe/n_cells of the data whose cells are nearest
    the query (a filter on the scan-time cell assignment), and within
    the probed cells
    candidates are scored by PQ asymmetric distance (m LUT lookups per
    candidate — no vector arithmetic), with the ADC top ``rerank``
    exactly re-scored: the result is the exact top ``k`` within the
    probed-and-reranked candidate set (a true neighbor outside the
    probed cells or below ADC rank ``rerank`` is missed — size
    ``n_probe``/``rerank`` against measured ``ann_recall``).

    At deployment the scanned table is (cell, codes) — m bytes/vector,
    partition-pruned — and full vectors are fetched only for the
    ``rerank`` finalists.  Here both halves keep their deterministic
    codebook conventions, so the whole composition is value-hash
    oracle-checkable."""
    cents = collect_centroids(embeddings, n_cells, id_col)
    cbs = pq_codebooks(embeddings, m=m, k=pq_k, id_col=id_col)
    qrows = (
        embeddings.filter(F.col(id_col) == query_vec_id).select("embedding").collect()
    )
    if not qrows:
        raise ValueError(f"query vector {id_col}={query_vec_id} not found")
    qvec = [float(v) for v in qrows[0]["embedding"]]
    probe = sorted(cents, key=lambda c: (-_seq_dot(qvec, cents[c]), c))[:n_probe]

    cand = ivf_assign(embeddings, cents).filter(
        F.col("_cell").isin([int(p) for p in probe])
    ).drop("_cell")
    # the query's own cell is always probe[0] (same strict-fold ordering
    # and tie-break select it), so the query row is in cand and the ADC
    # + rerank tail is exactly pq_adc_topk over the pruned candidates
    return pq_adc_topk(cand, cbs, query_vec_id, k=k, rerank=rerank, id_col=id_col)


def kmeans_fit_steps(
    embeddings: DataFrame, n_iters: int = 3, n_cells: int = 16, id_col: str = "vec_id"
) -> DataFrame:
    """EXACTLY ``n_iters`` Lloyd iterations (no early stop — the
    fixed-iteration twin of ``kmeans_fit`` that an unrolled SQL oracle
    can reproduce): each round collects only the K x d coordinate
    matrix (6dp-rounded, which also pins cross-engine parity per round)
    and re-inlines it as the next round's literal centroid table.
    Returns the round-``n_iters`` (cell, dim, centroid_val, n_members)
    table (lazy — the final round runs when the caller evaluates it;
    only the n_iters-1 intermediate rounds collect)."""
    if n_iters < 1:
        raise ValueError("kmeans_fit_steps: n_iters must be >= 1")
    cents = collect_centroids(embeddings, n_cells, id_col)
    dim = len(next(iter(cents.values())))
    for _ in range(n_iters - 1):
        rows = kmeans_step(embeddings, cents, id_col=id_col).collect()
        cents = _centroids_from_rows(rows, dim)
    return kmeans_step(embeddings, cents, id_col=id_col)


def mmr_select(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-k: iteratively pick argmax of
    lam * sim(query) - (1-lam) * max sim(already selected) — the
    standard redundancy-penalized retrieval/data-selection operator
    (dedup-aware example picking for eval and fine-tune sets).

    Execution: k passes over the corpus; driver state is the selected
    (id, vector) list — k x d floats, corpus-size-independent (the
    kmeans/PCA pattern).  Each pass is one scan: sims to the <=k-1
    selected vectors are inline literal-array dot folds, the argmax is
    TakeOrderedAndProject (no full sort).  Parity: query and selected
    sims round to 6dp BEFORE entering the score; the score arithmetic
    on those rounded doubles is bit-identical cross-engine; ties break
    by id ascending (the (rounded score, id) ordering rule)."""
    from ..functions.vector import dot

    one_minus = 1.0 - lam
    qrow = embeddings.filter(F.col(id_col) == query_vec_id).select("embedding").first()
    qv = [float(x) for x in qrow[0]]
    qlit = F.array(*[F.lit(x) for x in qv])
    base = embeddings.select(
        id_col, "label", "embedding", F.round(dot("embedding", qlit), 6).alias("_qs")
    )
    selected: list[tuple[int, list[float], float]] = []
    for _ in range(k):
        cand = base
        if selected:
            cand = cand.filter(
                ~F.col(id_col).isin([vid for vid, _, _ in selected])
            )
            sims = [
                F.round(dot("embedding", F.array(*[F.lit(x) for x in v])), 6)
                for _, v, _ in selected
            ]
            ms = sims[0] if len(sims) == 1 else F.greatest(*sims)
            score = F.lit(lam) * F.col("_qs") - F.lit(one_minus) * ms
        else:
            score = F.col("_qs")
        row = (
            cand.withColumn("_score", score)
            .orderBy(F.col("_score").desc(), F.col(id_col).asc())
            .select(id_col, "embedding", "_score")
            .first()
        )
        selected.append((row[0], [float(x) for x in row[1]], float(row[2])))
    spark = embeddings.sparkSession
    # raw driver-side doubles re-enter a DataFrame so the 6dp emit uses
    # ENGINE rounding (F.round half-up == DuckDB ROUND) — python's
    # round() is half-even and would fork on decimal halves
    out = spark.createDataFrame(
        [(i + 1, vid, s) for i, (vid, _, s) in enumerate(selected)],
        f"rank int, {id_col} long, _raw double",
    )
    return out.join(embeddings.select(id_col, "label"), id_col).select(
        "rank", id_col, "label", F.round("_raw", 6).alias("mmr_score")
    )


def knn_classify(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """k-NN label vote: classify each of the first ``n_queries``
    vectors by the majority label of its k nearest neighbors (cosine,
    self excluded) — the evaluation-side complement of the ANN index
    family (same brute-force scoring as topk_cosine, batched for all
    queries in ONE corpus pass via a broadcast query side).

    Determinism: neighbors rank on (ROUNDED sim DESC, id ASC); the
    vote ranks on (count DESC, label ASC) — integers and the rounded
    score only, so no engine float noise can flip either ranking."""
    from pyspark.sql import Window

    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col("embedding").alias("qv")
    )
    from ..functions.vector import dot

    sims = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("qid"))
        .select(
            "qid",
            F.col(id_col).alias("nid"),
            "label",
            F.round(dot("embedding", "qv"), 6).alias("sim"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    nn = sims.withColumn("_rk", F.row_number().over(wr)).filter(F.col("_rk") <= k)
    votes = nn.groupBy("qid", "label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.round(F.max("sim"), 6).alias("best_sim"),
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("label").asc()
    )
    return (
        votes.withColumn("_vr", F.row_number().over(wv))
        .filter(F.col("_vr") == 1)
        .select(
            F.col("qid").alias(id_col),
            F.col("label").alias("pred_label"),
            "n_votes",
            "best_sim",
        )
    )


def silhouette_scores(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per vector — the standard
    cluster-quality diagnostic for curation clusterings (SemDedup
    buckets, k-means domains): a(i) = squared distance to the OWN
    cluster centroid, b(i) = min squared distance to any OTHER
    centroid, silhouette = (b - a) / max(a, b).  The brute-force
    silhouette is O(N²) and dead at corpus scale; the centroid variant
    is O(N·k) — one explode, one (label, dim) aggregation, one
    broadcast-sized join on the dim index (centroids are k×dim rows),
    one (vector, centroid) aggregation.  No pair space anywhere.

    Exactness (ARCHITECTURE.md §4 shape 1): components quantize to 1e-6
    integer units (ROUND half-away-from-zero agrees across engines);
    centroids are FLOOR-pattern integer means kept IN units; squared
    distances are exact BIGINT sums (|x| <= 0.6 -> per-vector distance
    <= ~1e14, int64- and double-exact); the only float op is the final
    (b-a)/max(a,b) over two exact int64 casts, emitted unrounded.
    Vectors in single-point clusters get a_sq = 0; max(a,b) = 0 (all
    centroids identical) emits NULL via the NULLIF guard."""
    # spread before the x64 posexplode and the N*k dim-index join that
    # consumes it un-shuffled: on a narrow single-file scan both run on
    # 1-2 tasks (r11 quiet measured 5.2-5.4 s at sf1 for the two
    # consumers of this function; the join output is N*k rows)
    emb = spread(emb)
    e = emb.select(id_col, label_col, F.posexplode(vec_col).alias("i", "x"))
    eq = e.select(
        id_col,
        label_col,
        "i",
        F.round(F.col("x").cast("double") * F.lit(1e6), 0).cast("long").alias("xq"),
    )
    cent = eq.groupBy(label_col, "i").agg(
        F.floor(F.sum("xq") / F.count(F.lit(1))).alias("cq")
    )
    cc = cent.select(F.col(label_col).alias("lc"), "i", "cq")
    d = (
        eq.join(F.broadcast(cc), "i")
        .groupBy(id_col, label_col, "lc")
        .agg(
            F.sum(
                (F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))
            ).alias("dist")
        )
    )
    s = d.groupBy(id_col, label_col).agg(
        F.max(F.when(F.col("lc") == F.col(label_col), F.col("dist"))).alias("a_sq"),
        F.min(F.when(F.col("lc") != F.col(label_col), F.col("dist"))).alias("b_sq"),
    )
    sil = (F.col("b_sq") - F.col("a_sq")).cast("double") / F.nullif(
        F.greatest("a_sq", "b_sq").cast("double"), F.lit(0.0)
    )
    return s.select(id_col, label_col, "a_sq", "b_sq", sil.alias("silhouette"))


def cluster_quality(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster quality summary over ``silhouette_scores``: member
    count, within-cluster inertia (Σ a_sq, pre-divided to 1e-6 units
    per row so the corpus-level sum stays int64 at any N), and the
    mean silhouette via the FLOOR pattern (each per-vector silhouette
    quantized to 1e-6 ints, summed exactly, FLOOR(Σq/n)/1e6 —
    ARCHITECTURE.md §4 shape 2; NULL silhouettes are excluded from both Σq and n on
    both engines)."""
    s = silhouette_scores(emb, id_col, label_col, vec_col)
    sq = F.round(F.col("silhouette") * F.lit(1e6), 0).cast("long")
    return (
        s.withColumn("_sq", sq)
        .withColumn(
            "_iq", F.floor(F.col("a_sq").cast("double") / F.lit(1e6)).cast("long")
        )
        .groupBy(label_col)
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("_iq").alias("inertia_q"),
            (F.floor(F.sum("_sq") / F.count("_sq")) / F.lit(1e6)).alias("mean_sil"),
        )
    )
