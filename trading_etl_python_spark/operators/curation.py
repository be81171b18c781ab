"""Corpus curation pipeline — the composed training-data path the
driver-mandated extension operators exist for (SURVEY.md §2.3):

    quality filter -> exact dedup -> near-dup removal -> curated corpus

Each stage is an already-tested operator (text.quality_score,
dedup.dedup_exact, dedup.minhash_banded_verified_pairs); this module
only wires them into ONE lazy plan, so Catalyst sees the whole
pipeline: the quality predicate prunes documents before any shuffle,
dedup shuffles on fixed-width sha2 keys, and the near-dup join runs on
the already twice-reduced survivor set.

Scale: stage order IS the optimization — each stage strictly shrinks
the corpus before the next (filter: free, map-side; exact dedup: one
32-byte-key shuffle; near-dup: the only quadratic-risk stage, fed the
smallest set AND bounded by construction — the default pair source is
banded-MinHash candidates + exact-Jaccard verify, whose bucket
collision probability is J^r per band, so candidate counts stay
sub-quadratic as the corpus grows; r8 VERDICT #2 measured the former
exact-pair default at 7.9x per 10x data vs 3.2x banded).  Keep-first
(min doc_id) policies everywhere make the output deterministic, so
replays/retries are idempotent."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import dedup_exact, minhash_banded_verified_pairs
from .text import quality_score

# A pair source takes the survivor corpus (doc_id, text, ...) and
# returns near-dup pairs (doc_a, doc_b, ...) at the composition's
# threshold.  The default is the bounded banded-verified build; pass
# e.g. ``lambda d: ngram_jaccard_pairs(d, 3, 0.8)`` for the exact
# measurement twin (complete recall, posting-list-quadratic cost).
PairsFn = Callable[[DataFrame], DataFrame]


def _barrier(df: DataFrame, checkpoint: bool | str) -> DataFrame:
    """Materialization barrier for a multiply-consumed survivor set.

    ``True`` -> ``localCheckpoint`` (executor-local blocks: fastest, but
    lineage truncation means an executor loss mid-job fails the job —
    acceptable because the pipeline is deterministic, so the job retry
    is idempotent).  ``"reliable"`` (r10 VERDICT #6) -> reliable
    ``checkpoint()`` to the session's configured checkpoint directory
    (``spark.sparkContext.setCheckpointDir`` — HDFS/object-store on a
    real cluster): blocks survive executor loss, so long cluster runs
    get task-level recovery instead of job retry, at the cost of a
    write+read through the checkpoint store.  ``False`` -> no barrier
    (full lineage, for plan-shape tests).  Both checkpoint modes are
    value-identical — only durability and plan visibility differ."""
    if checkpoint == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint='reliable' needs spark.sparkContext."
                "setCheckpointDir(<fault-tolerant path>) configured first"
            )
        return df.checkpoint(eager=False)
    if checkpoint:
        return df.localCheckpoint(eager=False)
    return df


def curate_corpus(
    docs: DataFrame,
    min_quality: float = 0.5,
    neardup_threshold: float = 0.8,
    pairs_fn: PairsFn | None = None,
    checkpoint: bool | str = True,
) -> DataFrame:
    """documents -> curated (doc_id, lang, source, n_tokens, quality).

    Near-dup policy: for every pair with Jaccard >= threshold the
    higher doc_id is dropped (keep-first), matching the exact-dedup
    survivor rule.  Pairs come from ``pairs_fn`` (default: the bounded
    ``minhash_banded_verified_pairs`` — banded candidates, exact
    verify; see module docstring for why this is the production
    default)."""
    if pairs_fn is None:
        pairs_fn = lambda d: minhash_banded_verified_pairs(  # noqa: E731
            d, threshold=neardup_threshold, n=3
        )
    scored = quality_score(docs, keep=("text", "lang", "source"))
    kept = scored.filter(F.col("quality") >= min_quality)
    uniq = dedup_exact(kept)
    # Materialization barrier (the curate_corpus_full precedent): the
    # survivor set feeds the banded pair build THREE ways (signature
    # aggregation, the verify tail's shingle re-join) plus the final
    # anti-join — without it Catalyst re-executes the scan + quality +
    # window-dedup chain per reference.  Measured at sf0.1 when the
    # banded source landed (r9): 7.8s -> ~3s.  ``checkpoint=False``
    # keeps the full lineage visible for plan-shape tests (the barrier
    # hides its subtree from the final executedPlan).
    # Durability trade-off (r10 -> r11): the default localCheckpoint
    # truncates lineage to executor-local blocks — an executor loss
    # mid-job fails the job instead of recomputing; the deterministic
    # pipeline makes the job retry idempotent.  For long cluster runs
    # where task-level recovery matters, pass ``checkpoint="reliable"``
    # (see ``_barrier``) to route through the configured fault-tolerant
    # checkpoint directory instead.
    uniq = _barrier(uniq, checkpoint)
    near = pairs_fn(uniq)
    losers = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return uniq.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_tokens", "quality"
    )


def curate_corpus_full(
    docs: DataFrame,
    min_quality: float = 0.5,
    neardup_threshold: float = 0.8,
    eval_source: str = "src0",
    pairs_fn: PairsFn | None = None,
    checkpoint: bool | str = True,
) -> DataFrame:
    """The COMPLETE training-corpus curation DAG, every stage an
    already-oracle-verified operator, wired as one pipeline:

        quality filter -> normal-form exact dedup -> connected-component
        near-dup clustering (keep canonical) -> benchmark decontamination
        (hold out ``eval_source``) -> deterministic split assignment
        -> per-(lang, split) corpus stats

    Stage order is the optimization (each stage strictly shrinks the
    corpus before the next, and the only quadratic-risk stage — pair
    generation — runs on the smallest set and is bounded by
    construction: clustering consumes ``pairs_fn``, default the banded
    candidates + exact-verify build, via ``dedup_clusters``'s own
    bounded default).  Returns (lang, split, n_docs, avg_quality,
    sum_tokens)."""
    from pyspark.sql import Window

    from .dedup import contamination, dedup_clusters
    from .sampling import split_assign
    from .text import norm_expr, quality_score

    scored = quality_score(docs, keep=("text", "lang", "source"))
    kept = scored.filter(F.col("quality") >= min_quality)
    nrm = kept.withColumn("norm_hash", F.md5(norm_expr("text")))
    w = Window.partitionBy("norm_hash").orderBy(F.col("doc_id").asc())
    uniq = (
        nrm.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "norm_hash")
    )
    # Materialization barrier: the survivor set feeds FIVE downstream
    # subtrees (pair generation x2, canonical join, train split, probe
    # union); without it Catalyst recomputes the scan+quality+dedup
    # chain per reference (8 scans observed).  localCheckpoint — not
    # persist — so the reuse is scoped to THIS query's plan: a fresh
    # call builds a fresh checkpoint, and nothing registers in the
    # CacheManager to leak across queries or bench runs.  This is the
    # in-plan analogue of the stage manifest a production curation
    # pipeline writes between stages.  Measured sf0.1: 6.2s -> 4.1s.
    # Durability: same trade-off as curate_corpus — the default
    # truncates lineage (executor loss -> idempotent job retry);
    # ``checkpoint="reliable"`` routes through the configured
    # fault-tolerant checkpoint dir for task-level recovery.
    uniq = _barrier(uniq, checkpoint)
    clusters = dedup_clusters(
        uniq.select("doc_id", "text"),
        pairs=pairs_fn(uniq.select("doc_id", "text")) if pairs_fn else None,
        n=3,
        threshold=neardup_threshold,
    )
    surv = uniq.join(clusters.filter("is_canonical").select("doc_id"), "doc_id")
    train = surv.filter(F.col("source") != eval_source)
    probe = train.select("doc_id", "text", "source").unionByName(
        docs.filter(F.col("source") == eval_source).select("doc_id", "text", "source")
    )
    flagged = contamination(probe, F.col("source") == eval_source, n=5).select("doc_id")
    final = train.join(flagged, "doc_id", "left_anti")
    sp = split_assign(final)
    return sp.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    group_col: str = "lang",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Token-budget sequence packing — the step that turns a curated
    corpus into fixed-budget training rows: within each ``group_col``
    stream, docs are taken in deterministic ``id_col`` order and cut
    into packs at cumulative-token boundaries of ``budget``
    (``pack_id = floor(exclusive_prefix_sum / budget)``).

    This is the SCALABLE packing variant: one window cumsum per group
    (groups are the parallelism axis — no global sort, no sequential
    state), at the cost of letting a pack overrun its budget by at most
    one document (boundary docs straddle).  Exact first-fit packing is
    inherently sequential per stream; run this shape per-shard when
    strict caps matter, with long docs pre-split upstream.  Contrast
    with salting/AQE notes in operators/skew.py if one group dominates.

    Returns one row per pack: (group, pack_id, n_docs, sum_tokens,
    first_id, last_id) — deterministic, so packs are reproducible across
    runs and engines (the property that makes data ordering auditable
    for a training run)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long")
    packed = df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(tokens_col),
        F.floor(cum_before / F.lit(budget)).cast("long").alias("pack_id"),
    )
    return packed.groupBy(group_col, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens_col).cast("long").alias("sum_tokens"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
    )


def tier_by_cutpoints(
    df,
    score_col: str,
    n_tiers: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    approx: bool = True,
):
    """The 100 TB path for corpus tiering (q_ppl_tiers documents the
    exact-NTILE twin): ONE pass computes the (n_tiers - 1) percentile
    cutpoints — ``percentile_approx`` (mergeable sketch, default) or
    exact ``percentile`` — and bucketing is then a map-side comparison
    against the broadcast 1-row cutpoint array.  No global sort, no
    total order, unlike NTILE; at tier boundaries ties can land either
    side, which is the documented trade for sortlessness."""
    assert len(labels) == n_tiers
    probs = [i / n_tiers for i in range(1, n_tiers)]
    pct = (
        F.percentile_approx(score_col, probs, 10000)
        if approx
        else F.percentile(F.col(score_col), probs)
    )
    cuts = df.agg(pct.alias("_cuts"))
    tier = F.lit(labels[-1])
    for i in range(n_tiers - 2, -1, -1):
        tier = F.when(
            F.col(score_col) <= F.element_at(F.col("_cuts"), i + 1), F.lit(labels[i])
        ).otherwise(tier)
    return df.crossJoin(F.broadcast(cuts)).withColumn("tier", tier).drop("_cuts")


def dsir_weights(
    docs: DataFrame, target_lang: str = "en", id_col: str = "doc_id"
) -> DataFrame:
    """Data-Selection-with-Importance-Resampling weights (Xie et al.
    2023, arXiv:2302.03169, the hashed-ngram variant simplified to
    unigrams): score every document by the mean per-token log-ratio
    ln(p_target(w) / p_source(w)) between an add-1-smoothed unigram LM
    of the TARGET domain (here: lang == ``target_lang``) and one of the
    full corpus.  High scores mark documents that look like the target
    domain — the standard pretraining-data upsampling signal.

    Scale posture: BOTH LMs come out of one conditional aggregation of
    the exploded token stream (source count + filtered target count per
    token — one shuffle, not two).  The freq table is localCheckpoint'd
    (the kcore pattern, graph.py:390-402) so the corpus subtree is
    evaluated ONCE; the three corpus totals are then a separate 1-row
    aggregate of that checkpoint, broadcast-crossJoined back — NOT an
    unpartitioned window, which would drag the whole web-scale
    vocabulary through a single task (Spark's `No Partition Defined for
    Window operation` warning — the r6 scale defect).  The per-token
    score joins the stream against the freq table on the token key (AQE
    broadcasts it when small — never hard-broadcast, web-scale vocab is
    not driver-sized).  No Python anywhere; smoothing keeps every token
    finite, and the join stays inner (a token absent from the source LM
    cannot occur — the stream IS the source corpus).

    Parity: each per-token log-ratio is quantized to EXACT integer
    micro-units (ROUND(lr*1e6) -> BIGINT, identical op order on both
    engines), summed exactly, and the mean emitted via the FLOOR
    pattern FLOOR(Σq/n)/1e6 — order-invariant by construction.  The r6
    form ``ROUND(AVG(lr), 4)`` over raw LN doubles forked engines on
    accumulation order (the r6 driver red, the exact hazard the repo
    float rulebook forbids)."""
    from ..util import spread
    from .text import with_tokens

    # r11: the tokenize+explode consumes the scan directly — fan the
    # narrow gate scan out (no-op on an already-wide corpus scan)
    docs = spread(docs)
    tok = with_tokens(docs).select(
        F.col(id_col), "lang", F.explode("_toks").alias("token")
    )
    freq = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("cs"),
        F.count(F.when(F.col("lang") == target_lang, F.lit(1))).alias("ct"),
    ).localCheckpoint()
    # NOTE: the checkpoint necessarily runs a job at plan-construction
    # time — and eager=False would not avoid it (materializing the
    # checkpoint RDD forces AQE to finalize the shuffle stages, measured
    # on this build).  The cost buys single evaluation of the corpus
    # token aggregation, which the totals broadcast and the score join
    # would otherwise each recompute — the kcore/clustering precedent
    # (graph.py:390-402).  tfidf_cosine_pairs stays fully lazy only
    # because its shared value (N) is one scalar, cheap to re-derive
    # in-plan; a vocab-sized table is not.
    totals = freq.agg(
        F.sum("cs").alias("tot_s"),
        F.sum("ct").alias("tot_t"),
        F.count(F.lit(1)).alias("vocab"),
    )
    scored = (
        tok.join(freq.crossJoin(F.broadcast(totals)), "token")
        .select(
            F.col(id_col),
            F.log(
                (
                    (F.col("ct") + 1).cast("double")
                    / (F.col("tot_t") + F.col("vocab")).cast("double")
                )
                / (
                    (F.col("cs") + 1).cast("double")
                    / (F.col("tot_s") + F.col("vocab")).cast("double")
                )
            ).alias("lr"),
        )
        .select(
            F.col(id_col),
            F.round(F.col("lr") * F.lit(1e6), 0).cast("long").alias("qlr"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (
            F.floor(F.sum("qlr") / F.count(F.lit(1))) / F.lit(1e6)
        ).alias("avg_logratio"),
    )


def logreg_quality(
    docs: DataFrame,
    target_lang: str = "en",
    iters: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """Trainable quality/domain classifier — logistic regression fit by
    full-batch gradient descent over engine-deterministic document
    features (the fastText-classifier slot in a curation pipeline,
    e.g. GPT-3's WebText-vs-CommonCrawl filter, trained *inside* the
    engine instead of imported): features x = [1, n_tokens/100,
    en-stopword ratio, mean-word-length/10], label y = [lang ==
    ``target_lang``], w_{t+1,j} = round(w_tj - lr * avg_i((sigmoid(w·x_i)
    - y_i) * x_ij), 6).

    Scale posture: each iteration is ONE map-side-combinable aggregate
    producing a d-vector gradient (d=4) — per-iteration state is
    corpus-size-independent, the kmeans/PCA house pattern; the driver
    holds only the weight vector.  Weights are 6dp-rounded between
    iterations ON BOTH ENGINES so the recursion never amplifies a
    float-accumulation ulp into a different trajectory (ARCHITECTURE.md §4),
    and the final accuracy decision is the sign of the deterministic
    dot product (z > 0), never a rounded-probability compare.

    Returns ONE row: w_bias/w_len/w_stop/w_wlen (6dp), n_correct,
    n_docs, accuracy (6dp)."""
    from .text import _hits, with_tokens

    t = with_tokens(docs)
    nt = F.size("_toks").cast("double")
    feats = t.select(
        F.lit(1.0).alias("x0"),
        (nt / F.lit(100.0)).alias("x1"),
        (
            _hits(target_lang).cast("double") / F.nullif(nt, F.lit(0.0))
        ).alias("x2"),
        (
            F.length(F.concat_ws("", F.col("_toks"))).cast("double")
            / F.nullif(nt, F.lit(0.0))
            / F.lit(10.0)
        ).alias("x3"),
        F.when(F.col("lang") == target_lang, F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    feats = feats.localCheckpoint(eager=True)  # d+1 cols; reused iters+1 times
    w = [0.0, 0.0, 0.0, 0.0]

    def dot(ws):
        z = F.lit(ws[0]) * F.col("x0")
        for j in (1, 2, 3):
            z = z + F.lit(ws[j]) * F.col(f"x{j}")
        return z

    def _round6(x: float) -> float:
        # half-UP, the DuckDB ROUND behavior the oracle uses — python
        # round() is half-even and would fork the GD trajectory on a
        # representable tie (operators/recursive.round_half_up rationale)
        import math

        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    for _ in range(iters):
        sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot(w)))
        g = feats.agg(
            *[F.avg((sig - F.col("y")) * F.col(f"x{j}")).alias(f"g{j}") for j in range(4)]
        ).first()
        w = [_round6(w[j] - lr * g[f"g{j}"]) for j in range(4)]

    correct = F.sum(
        F.when((dot(w) > 0) == (F.col("y") == 1.0), F.lit(1)).otherwise(F.lit(0))
    )
    return feats.agg(
        correct.alias("n_correct"), F.count(F.lit(1)).alias("n_docs")
    ).select(
        F.lit(w[0]).alias("w_bias"),
        F.lit(w[1]).alias("w_len"),
        F.lit(w[2]).alias("w_stop"),
        F.lit(w[3]).alias("w_wlen"),
        F.col("n_correct").cast("long").alias("n_correct"),
        "n_docs",
        F.round(F.col("n_correct") / F.col("n_docs"), 6).alias("accuracy"),
    )
