"""Deduplication operators for large-scale document corpora
(driver-mandated extensions, SURVEY.md §2.3 X1/X2).

Scale design notes (the 100 TB posture):

- **exact**: partition by a 256-bit content hash, never by the raw text —
  the shuffle key is 32 bytes regardless of document size, and skew from
  giant duplicate clusters is bounded by AQE skew handling.
- **n-gram Jaccard (exact pairwise)**: candidate pairs come from an
  equi-join on shared shingles, so cost is driven by posting-list sizes,
  not |docs|^2.  Still quadratic in the worst case -> use MinHash LSH at
  scale; kept because it is exactly SQL-expressible (oracle-checkable).
- **MinHash LSH**: the scale path — O(docs x bands).  Two variants:
  ``minhash_banded_pairs`` (hand-rolled, md5-derived shingle hashes +
  LCG-seeded affine permutations, fully oracle-checkable because DuckDB
  computes the identical signature) and ``minhash_lsh_pairs`` (Spark
  ML's MinHashLSH — engine-seeded, kept as the library-native path).
- **SimHash**: 64-bit signature fully JVM-side (64 aggregate exprs, no
  Python), banded on 16-bit sub-keys for Hamming-distance blocking.
  Token hashes are md5-derived (portable), so the whole operator has an
  exact SQL twin.

Portable hashing: ``porthash32(c)`` = first 8 hex chars of md5 as an
unsigned 32-bit int.  Spark: ``conv(substring(md5(c),1,8),16,10)``;
DuckDB: ``('0x'||substring(md5(c),1,8))::BIGINT`` — verified
bit-identical.  md5 is ~2x slower than xxhash64 but both are trivially
cheap next to the shuffle they feed; at 100 TB the hash choice is
irrelevant, the banding strategy is everything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import lcg_stream, spread

TOKEN_RE = "[^a-z0-9]+"

#: smallest prime > 2^32 — modulus of the MinHash permutation family;
#: a*h+b stays < 2^30 * 2^32 = 2^62, no 64-bit overflow on either engine
MINHASH_P = 4294967311


def porthash32(c) -> Column:
    """Portable unsigned-32-bit content hash (see module docstring)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def minhash_params(num_perm: int = 32, seed: int = 7) -> tuple[list[int], list[int]]:
    """(a_k, b_k) coefficients of the affine permutation family
    h_k(x) = (a_k*x + b_k) mod P, shared verbatim with the SQL oracle."""
    vals = lcg_stream(seed, 2 * num_perm)
    return [v | 1 for v in vals[:num_perm]], vals[num_perm:]


def tokens_col(text_col: str = "text"):
    return F.filter(F.split(F.lower(F.col(text_col)), TOKEN_RE), lambda x: x != F.lit(""))


#: Absolute slack subtracted from every FLOAT prefilter bound in the
#: length-ratio / AllPairs family.  The prefilters (ratio, prefix
#: length, positional) exist only to PRUNE; membership is always decided
#: by the exact verify comparison.  Pruning is lossless only if a bound
#: computed in floating point is never TIGHTER than its mathematical
#: value — but ``t * n`` can acquire upward rounding error (e.g.
#: 0.07 * 100 == 7.000000000000001, which silently dropped an exactly-
#: at-threshold pair).  Double products with operands below ~1e9 carry
#: absolute error < ~2e-7, so subtracting 1e-6 makes every bound
#: conservative for any set size below ~1e9 elements; the only cost is
#: a vanishing number of extra candidates for the verifier.
_PREFILTER_SLACK = 1e-6


def _ratio_ok(threshold: float, n_a, n_b):
    """Length-ratio prefilter: J >= t forces min >= t*max (slackened)."""
    t, s = F.lit(threshold), F.lit(_PREFILTER_SLACK)
    return (n_a >= t * n_b - s) & (n_b >= t * n_a - s)


def _prefix_pos_le(threshold: float, n_col, pos_col):
    """AllPairs prefix condition pos <= |x| - ceil(t*|x|) + 1, with the
    ceil argument slackened so float error can never shrink the prefix."""
    return pos_col <= n_col - F.ceil(
        F.lit(threshold) * n_col - F.lit(_PREFILTER_SLACK)
    ) + 1


def _positional_ok(threshold: float, n_a, p_a, n_b, p_b):
    """PPJoin positional filter with the alpha ceil slackened (lossless:
    pruned pairs provably cannot reach t even after the slack)."""
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (n_a + n_b)
        - F.lit(_PREFILTER_SLACK)
    )
    return (1 + F.least(n_a - p_a, n_b - p_b)) >= alpha


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X1 — exact dedup, first-writer-wins by id.  Shuffles on
    sha2(text) (fixed-width key), not the document body."""
    h = F.sha2(F.col(text_col), 256)
    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingles(df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id_col, shingle).
    Repartitions the (narrow) doc rows first so the explode fans out
    across cores — a single-file corpus scan would otherwise pin the
    whole shingle generation to one task."""
    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col, factor=16)
    toks = tokens_col(text_col)
    df = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, n)),
    )
    return df.select(id_col, F.explode(F.array_distinct(grams)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame, n: int = 3, threshold: float = 0.5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """X2 (exact variant) — doc pairs with shingle-set Jaccard >= threshold.
    Join on shared shingles -> count intersections -> |A|+|B|-|A∩B|.

    Plan shape (measured against two alternatives): ``n_sh`` is a window
    COUNT over doc_id riding the distribution ``shingles`` already
    produced — no count aggregate joined back, so the shingle pipeline
    computes once per join side (2x total) instead of 4x, and the two
    self-join sides are the SAME subtree (exchange-reusable at shuffle-
    join scale).  The tempting zero-pass variant — size(array) carried
    through the explode — is a trap: the join's inferred
    isnotnull(n_sh) predicate substitutes the whole shingle expression
    below the tokenization projection, where per-shingle slice() calls
    re-tokenize the document per index (quadratic per doc, 5x slower
    end-to-end)."""
    # join on the 64-bit shingle hash, not the string: fixed-width shuffle
    # keys; collision odds at 64 bits are negligible for any corpus size
    sh = shingles(df, n, text_col, id_col).select(id_col, F.xxhash64("shingle").alias("h"))
    side = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a, b = side.alias("a"), side.alias("b")
    # length-ratio prefilter inside the join condition: jaccard >= t forces
    # min(|A|,|B|) >= t*max(|A|,|B|) — output-preserving (slackened
    # bound, see _PREFILTER_SLACK), and it drops hopeless pairs before
    # they hit the aggregation shuffle
    ratio_ok = _ratio_ok(threshold, F.col("a.n_sh"), F.col("b.n_sh"))
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & ratio_ok,
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (scale variant) — MinHash LSH candidate pairs via Spark ML.
    Banding: only docs colliding in >=1 hash table are compared, so the
    pair space never materializes.  Distance = 1 - approx Jaccard."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = shingles(df, 3, text_col, id_col).groupBy(id_col).agg(
        F.collect_list("shingle").alias("sh")
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(sh).filter(F.expr("size(sh) > 0"))
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="dist")
    return (
        pairs.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round(F.lit(1.0) - F.col("dist"), 6).alias("approx_jaccard"),
        )
    )


def minhash_lsh_verified_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hash_tables: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 — LSH candidate generation + exact verification: Spark ML
    MinHashLSH proposes candidate pairs (OR-amplified over
    ``num_hash_tables`` tables — P(miss) <= (1-J)^tables, ~1.5e-5 at
    J>=0.5 with 16 tables), then EXACT shingle-set Jaccard is computed
    on the candidates only and pairs below ``threshold`` are dropped.

    This is the canonical two-phase near-dup shape at 100 TB: the
    quadratic pair space never materializes (candidates only), yet the
    OUTPUT is engine-independent — false positives are removed by the
    exact filter and false negatives are driven to ~zero by table
    count — so a DuckDB exact-Jaccard oracle reproduces it, unlike the
    raw approxSimilarityJoin distances (engine-specific hash seeds).
    The exact-verify join touches only candidate docs: the shingle side
    is semi-join-pruned before the intersection count."""
    cand = minhash_lsh_pairs(
        df, threshold, num_hash_tables, text_col, id_col
    ).select("doc_a", "doc_b").localCheckpoint(eager=False)
    return _verify_pairs_exact_jaccard(df, cand, threshold, n, text_col, id_col)


def _verify_pairs_exact_jaccard(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    n: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-Jaccard verification tail shared by every two-phase
    near-dup variant: compute shingle-set Jaccard for the candidate
    pairs ONLY and keep those >= threshold.  The candidate semi-join
    prunes the doc rows BEFORE tokenize/shingle (r14, guide §2.3
    filter-early): candidates are typically a tiny fraction of the
    corpus, and the r13 form re-tokenized every doc only to drop the
    non-candidates after the explode."""
    cand_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    pruned = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    sh = shingles(pruned, n, text_col, id_col).select(
        id_col, F.xxhash64("shingle").alias("h")
    )
    side = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a, b = side.alias("a"), side.alias("b")
    inter = (
        cand.join(a, F.col("doc_a") == F.col(f"a.{id_col}"))
        .join(b, (F.col("doc_b") == F.col(f"b.{id_col}")) & (F.col("a.h") == F.col("b.h")))
        .groupBy(
            "doc_a", "doc_b",
            F.col("a.n_sh").alias("n_a"), F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_banded_verified_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-phase near-dup with BOUNDED candidate generation (r7 VERDICT
    #3): hand-rolled banded-MinHash candidates (AND-amplification — a
    pair collides only on a FULL band of ``num_perm/bands`` signature
    components, so bucket collision probability is J^r per band and
    bucket sizes stay bounded as the corpus grows) + the shared
    exact-Jaccard verification tail.

    Why this replaces ``minhash_lsh_verified_pairs`` as the production
    shape: Spark ML's MinHashLSH amplifies OR-only — each of its hash
    tables keys on a SINGLE minhash component, so a table's bucket for
    value v holds every doc whose min-permutation equals v.  On the r8
    measurement the sf1 corpus produced only 80 verified pairs, yet the
    ML path ran 12.1x at 10x data: the cost is the approxSimilarityJoin
    internal bucket join (single-hash buckets grow linearly with N ->
    internal pair space ~N^2), NOT the verify join the r7 VERDICT
    suspected — a df-cap there would bound nothing.  AND-amplified
    bands collapse those buckets (P(collision) = J^r vs J), which is
    the classic LSH design point for corpus-scale dedup.

    Parity contract: unlike the ML variant (engine-seeded hashes,
    recall argued probabilistically), BOTH phases here are portable —
    the oracle reproduces the banded candidate set bit-for-bit (same
    md5-derived hashes, same LCG permutation constants) and applies the
    same exact-Jaccard filter, so the output is engine-independent by
    construction with NO recall assumption."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    banded = banded_signatures(df, num_perm, bands, n, seed, text_col, id_col)
    ba, bb = banded.alias("a"), banded.alias("b")
    # same (band, key) equi-join as minhash_banded_pairs, projected to
    # bare id pairs — that variant must carry the sig arrays through
    # the join for its match_frac estimate, this one must not carry
    # them into the checkpoint; the shared parity contract is the
    # band-key FORMAT, owned by banded_signatures
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
        # the verify tail consumes cand twice (semi-join id set + the
        # intersection join); checkpointing the tiny pair list beats
        # re-running the banding self-join (measured r8: 3.9 -> 1.0 s
        # cold at sf0.1 — the minhash_lsh_verified_pairs precedent)
        .localCheckpoint(eager=False)
    )
    return _verify_pairs_exact_jaccard(df, cand, threshold, n, text_col, id_col)


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 32,
    n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Portable MinHash signature matrix: one row per doc, columns
    ``m0..m{K-1}`` = min over shingles of (a_k*h + b_k) mod P.  All K
    mins compute in ONE hash aggregation over the shingle explode — the
    signature never materializes per-shingle."""
    a, b = minhash_params(num_perm, seed)
    sh = shingles(df, n, text_col, id_col).select(
        id_col, porthash32("shingle").alias("h")
    )
    mins = [
        F.min((F.col("h") * F.lit(a[k]) + F.lit(b[k])) % F.lit(MINHASH_P)).alias(f"m{k}")
        for k in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(*mins)


def banded_signatures(
    df: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig, band, key) — the banded MinHash signature table every
    LSH-dedup variant joins on.  Carries the whole signature (one array)
    THROUGH the banding so downstream verification never joins back to a
    second signature pipeline; localCheckpoint materializes the tiny
    signature table (1 row/doc, K longs) once per plan — the textbook
    batch-LSH move (compute signatures, store them, then band), scoped
    to the consuming query (nothing registers in the CacheManager).
    This is also exactly the table ``write_minhash_index`` persists."""
    r = num_perm // bands
    sig = minhash_signatures(df, num_perm, n, seed, text_col, id_col)
    sig_arr = sig.select(
        F.col(id_col), F.array(*[F.col(f"m{k}") for k in range(num_perm)]).alias("sig")
    ).localCheckpoint(eager=False)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    "_", *[F.col("sig")[i * r + j].cast("string") for j in range(r)]
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )
    return sig_arr.select(id_col, "sig", F.explode(band_structs).alias("bk")).select(
        id_col, "sig", "bk.band", "bk.key"
    )


def _match_frac(num_perm: int):
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches / F.lit(float(num_perm))


def minhash_incremental_pairs(
    new_df: DataFrame,
    corpus_banded: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (incremental variant) — near-dups of a NEW batch against an
    EXISTING corpus: the production crawl-ingest shape (dedupe today's
    crawl against everything already kept) — the batch analogue of the
    reference consuming a stream incrementally against stored state.

    ``corpus_banded`` is a ``banded_signatures``-shaped frame — build it
    in-plan from a corpus DataFrame, or read it back from a
    ``write_minhash_index`` path (the corpus side is then a pure scan:
    NO reshingling/rehashing of the historical corpus, the entire point
    at 100 TB — cost is O(new x bands + collisions), independent of
    corpus size beyond the band join).  Same hash family/params as
    ``minhash_banded_pairs`` (and the two sides must agree on them).

    Returns (doc_id, dup_of, approx_jaccard): the new doc, the corpus
    doc it collides with, and the signature-match Jaccard estimate."""
    new_banded = banded_signatures(new_df, num_perm, bands, n, seed, text_col, id_col)
    a, b = new_banded.alias("a"), corpus_banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id"),
            F.col(f"b.{id_col}").alias("dup_of"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .groupBy("doc_id", "dup_of")
        .agg(F.first("sa").alias("sa"), F.first("sb").alias("sb"))
    )
    return (
        cand.withColumn("approx_jaccard", _match_frac(num_perm))
        .filter(F.col("approx_jaccard") >= threshold)
        .select("doc_id", "dup_of", F.round("approx_jaccard", 6).alias("approx_jaccard"))
    )


#: the schema ``banded_signatures`` produces over the documents table
#: (bigint ``doc_id``), i.e. what ``write_minhash_index`` stores.  Read
#: an index with it, not by inference: an index written from an empty
#: corpus holds no data files, and then reads as empty.
MINHASH_INDEX_SCHEMA = "doc_id bigint, sig array<bigint>, band int, key string"


def write_minhash_index(
    df: DataFrame,
    path: str,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the banded signature table, partitioned by band with rows
    sorted by key inside each partition: an incremental-dedup probe
    reads band partitions and row-group min/max stats on ``key`` skip
    non-colliding groups — the write-time index that makes
    ``minhash_incremental_pairs`` corpus-scan-free."""
    (
        banded_signatures(df, num_perm, bands, n, seed, text_col, id_col)
        .repartition(F.col("band"))
        .sortWithinPartitions("band", "key")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(path)
    )


def minhash_banded_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    n: int = 3,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """X2 (scale variant, oracle-checkable) — MinHash banding: split the
    K-component signature into ``bands`` bands of K/bands rows; docs
    colliding on ANY full band become candidates (classic LSH AND-OR
    construction); estimate Jaccard as the fraction of matching
    signature components.  Cost is O(docs x bands) + colliding pairs —
    the full pair space never materializes, which is the entire point at
    100 TB (band keys are fixed-width strings, shuffle stays narrow)."""
    assert num_perm % bands == 0, "bands must divide num_perm"
    banded = banded_signatures(df, num_perm, bands, n, seed, text_col, id_col)
    ba, bb = banded.alias("a"), banded.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("sa").alias("sa"), F.first("sb").alias("sb"))
    )
    matches = F.aggregate(
        F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    match_frac = matches / F.lit(float(num_perm))
    return (
        cand.withColumn("approx_jaccard", match_frac)
        .filter(F.col("approx_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("approx_jaccard", 6).alias("approx_jaccard"))
    )


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """X2 (SimHash) — 64-bit signature per doc as 4 x 16-bit band keys
    ``k0..k3``, entirely JVM-side: explode tokens, portable md5-derived
    64-bit hash per token (two 32-bit halves — never combined into one
    bigint, so no sign-bit traffic on either engine), then 64
    conditional-sum aggregates (one per bit) folded into the band keys.
    No Python, one shuffle on id."""
    tok = df.select(id_col, F.explode(tokens_col(text_col)).alias("tok"))
    tok = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).cast("long").alias("w"))
    tok = tok.select(
        id_col,
        "w",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("lo"),
    )
    def bit_src(b: int):
        src = F.col("lo") if b < 32 else F.col("hi")
        return F.shiftright(src, b % 32).bitwiseAND(F.lit(1))
    bit_sums = [
        F.sum(F.when(bit_src(b) == 1, F.col("w")).otherwise(-F.col("w"))).alias(f"b{b}")
        for b in range(64)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    keys = []
    for band in range(4):
        key = None
        for i in range(16):
            term = F.when(F.col(f"b{band * 16 + i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            key = term if key is None else key + term
        keys.append(key.cast("long").alias(f"k{band}"))
    return sums.select(id_col, *keys)


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4 x 16-bit
    sub-keys (pigeonhole: hamming<=3 => >=1 identical band), join per
    band, verify hamming = sum of per-band bit_count(xor) — all JVM
    expressions, and exactly reproducible in the SQL oracle.

    The signature table (1 row/doc, 4 shorts) is localCheckpoint'd so
    the 64-aggregate pipeline that builds it runs once, not once per
    self-join side; plan-scoped, no CacheManager entry."""
    sig = simhash_signatures(df, text_col, id_col).localCheckpoint(eager=False)
    banded = sig.select(
        id_col,
        *[f"k{i}" for i in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), F.col(f"k{i}").alias("key"))
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select(id_col, *[f"k{i}" for i in range(4)], "bk.band", "bk.key")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            *[F.col(f"a.k{i}").alias(f"ka{i}") for i in range(4)],
            *[F.col(f"b.k{i}").alias(f"kb{i}") for i in range(4)],
        )
        .distinct()
    )
    ham = sum(
        F.bit_count(F.col(f"ka{i}").bitwiseXOR(F.col(f"kb{i}"))) for i in range(4)
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def contamination(
    df: DataFrame,
    eval_pred: Column,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag every training doc sharing at least
    one word n-gram with any eval doc (the GPT-3/PaLM report procedure —
    n-gram collision against held-out benchmarks — as a set-join).

    Returns (id_col, n_shared, n_eval_docs) for flagged train docs only.

    Scale shape: eval benchmarks are small by construction (thousands of
    docs vs billions of train docs), so the eval shingle set is force-
    broadcast and the train corpus never shuffles — one scan, one
    broadcast hash join, one partial-aggregated groupBy(doc).  If the
    eval side ever outgrows broadcast range, drop the hint and Catalyst
    falls back to a shuffle join on the shingle key."""
    ev = shingles(df.filter(eval_pred), n, text_col, id_col).select(
        "shingle", F.col(id_col).alias("_eval_id")
    )
    tr = shingles(df.filter(~eval_pred), n, text_col, id_col)
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
    )


def _cc_star_labels(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components of ``edges`` ((e_a, e_b) pairs, any
    orientation): (v, l) with l = component-minimum node id, for every
    node incident to an edge.  Two paths, identical labels:

    - within the ``graph._KERNEL_MAX_EDGES`` gate, union-find in the
      small-graph numpy kernel, run in the driver on the collected edge
      list; it reaches the fixpoint on every input and returns a local
      relation;
    - above it, alternating large-star / small-star rounds (Kiveris et
      al., "Connected Components in MapReduce and Beyond", 2014) —
      O(log^2 n) rounds worst case vs O(diameter) for plain label
      propagation, the difference that matters on chain-shaped
      components.  Each round is one groupBy-min plus one join, all keys
      fixed-width node ids; ``localCheckpoint`` truncates lineage per
      round.  ``max_iter`` bounds these rounds; when it runs out the
      labels collapse to one per node with a RuntimeWarning."""
    from .graph import _graph_kernel

    # canonical orientation: big -> small, no self-loops
    C = (
        edges.select(
            F.greatest("e_a", "e_b").alias("u"), F.least("e_a", "e_b").alias("w")
        )
        .filter(F.col("u") != F.col("w"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # near-dup edge sets are orders of magnitude smaller than the corpus,
    # and the star loop pays per-round eager-checkpoint jobs + checksum
    # collects on that tiny set (measured sf0.1: 4 rounds + 2 checksums
    # ~= 4.3 s of a 9 s query, on a 256-edge graph)
    kernel = _graph_kernel(C, "cc")
    if kernel is not None:
        return kernel.select(F.col("node").alias("v"), F.col("label").alias("l"))

    def checksum(c: DataFrame):
        # bit_xor, not sum: ANSI mode raises on long-sum overflow
        return c.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "w")).alias("h")
        ).collect()[0]

    prev = checksum(C)
    converged = False
    for it in range(max_iter):
        # --- large-star: ∀ v ∈ N(u) with v > u, connect v to
        #     min(N(u) ∪ {u}) (computed over BOTH directions)
        both = C.unionAll(C.select(F.col("w").alias("u"), F.col("u").alias("w")))
        mins = both.groupBy("u").agg(F.min("w").alias("_mn"))
        mins = mins.select("u", F.least("_mn", F.col("u")).alias("m"))
        C = (
            both.join(mins, "u")
            .filter(F.col("w") > F.col("u"))
            .select(F.col("w").alias("u"), F.col("m").alias("w"))
            .filter(F.col("u") != F.col("w"))
            .distinct()
        )
        # --- small-star: connect every small neighbor (and u itself)
        #     to the minimum small neighbor
        mins2 = C.groupBy("u").agg(F.min("w").alias("m"))
        C = (
            C.join(mins2, "u")
            .select(F.col("w").alias("u"), F.col("m").alias("w"))
            .unionAll(mins2.select("u", F.col("m").alias("w")))
            .filter(F.col("u") != F.col("w"))
            .distinct()
            .localCheckpoint()
        )
        # Convergence check every SECOND round: the checksum collect is
        # an extra job whose fixed cost dominates at small graph sizes,
        # and star rounds are idempotent at the fixpoint (a star forest
        # maps to itself), so a delayed detection costs one no-op round,
        # never correctness.
        if it % 2 == 0 and it + 1 < max_iter:
            continue
        cur = checksum(C)
        if (cur["n"], cur["h"]) == (prev["n"], prev["h"]):
            converged = True
            break
        prev = cur
    # fixpoint is a star forest: every non-root points at its component
    # min; roots are the labels themselves
    labels = C.select(F.col("u").alias("v"), F.col("w").alias("l")).unionByName(
        C.select(F.col("w").alias("v"), F.col("w").alias("l"))
    ).distinct()
    if not converged:
        # max_iter exhausted: C need not be a star forest, so a node can
        # carry several labels and a downstream left join would duplicate
        # doc rows (ADVICE r3).  Collapse to one (best-so-far) label per
        # node and say so — labels are then unique but possibly not yet
        # the component minimum.
        import warnings

        warnings.warn(
            f"_cc_star_labels: no fixpoint within max_iter={max_iter}; "
            "collapsing to min label per node (labels may be non-minimal)",
            RuntimeWarning,
            stacklevel=2,
        )
        labels = labels.groupBy("v").agg(F.min("l").alias("l"))
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    max_iter: int = 30,
) -> DataFrame:
    """Near-dup CLUSTERING: connected components over the pairwise
    near-dup graph, labeling every doc with the min doc id of its
    component (the canonical survivor).  This is the step production
    dedup pipelines (The Stack, RefinedWeb) run after pair generation —
    keeping one doc per *component*, not per pair, so A~B, B~C collapses
    to {A} even when A!~C directly.

    Labels come from ``_cc_star_labels``: the small-graph union-find
    kernel within the graph.py gate, the large-star/small-star loop
    (O(log^2 n) rounds regardless of component shape, at most
    ``max_iter``) above it.  Tests check both paths against
    ``networkx.connected_components``.  Either runs ONLY over nodes that
    touch an edge — in a deduped corpus that working set is orders of
    magnitude smaller than the corpus (most docs are isolated
    singletons).  Isolated docs get their singleton label via one final
    left join.

    Returns (id_col, cluster_id, is_canonical) for EVERY input doc.

    Default pair source (r8 VERDICT #2): ``minhash_banded_verified_pairs``
    — banded-MinHash candidates + exact-Jaccard verify, the bounded
    production shape (pair space sub-quadratic by construction, and both
    phases engine-portable so the composition stays oracle-checkable).
    Pass ``pairs=`` explicitly to ride a different edge source — e.g.
    ``ngram_jaccard_pairs(df, n, t)`` for the exact measurement twin
    (complete recall, but posting-list-quadratic on boilerplate-heavy
    corpora — the r8 sweep measured it 6.7x at 10x data through this
    default vs 3.2x banded)."""
    if pairs is None:
        pairs = minhash_banded_verified_pairs(
            df, threshold=threshold, n=n, id_col=id_col
        ).select("doc_a", "doc_b")
    labels = _cc_star_labels(
        pairs.select(F.col("doc_a").alias("e_a"), F.col("doc_b").alias("e_b")), max_iter
    )
    out = df.select(F.col(id_col)).join(
        labels.withColumnRenamed("v", id_col), id_col, "left"
    )
    cluster = F.coalesce(F.col("l"), F.col(id_col))
    return out.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        (cluster == F.col(id_col)).alias("is_canonical"),
    )


# ------------------------------------------------------- span-level dedup


def doc_spans(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Non-overlapping k-token spans per document:
    ``(id_col, span_idx, span)``.  The sub-document unit for span-level
    exact dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better" — adapted from suffix-array substring matching to
    fixed-stride spans so the operator is a pure relational plan).  The
    trailing partial span (< k tokens) is kept, mirroring the oracle's
    clamped list-slice semantics."""
    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col, factor=16)
    toks = tokens_col(text_col)
    df = df.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= 1)
    spans = F.transform(
        F.sequence(F.lit(0), F.floor((F.size("_toks") - 1) / F.lit(k)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice("_toks", i * F.lit(k) + 1, k)),
    )
    return df.select(F.col(id_col), F.posexplode(spans).alias("span_idx", "span"))


def _ranked_spans(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> DataFrame:
    """Spans + first-occurrence rank.  Shuffles once, on the 256-bit
    span hash (32-byte key regardless of span text length, same posture
    as dedup_exact); ties broken deterministically by (id, span_idx)."""
    sp = doc_spans(df, k, text_col, id_col)
    w = Window.partitionBy(F.sha2(F.col("span"), 256)).orderBy(
        F.col(id_col).asc(), F.col("span_idx").asc()
    )
    return sp.withColumn("_rn", F.row_number().over(w))


def span_dedup_stats(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document span-duplication profile: total spans, spans already
    seen at a smaller (doc_id, span_idx) anywhere in the corpus, and the
    span-level retention ratio after first-occurrence-wins removal.

    100 TB posture: one shuffle on the fixed-width span hash + one
    groupBy(id) — both key sets are bounded (spans ~ tokens/k), nothing
    quadratic; the span window never materializes cross-doc pairs."""
    ranked = _ranked_spans(df, k, text_col, id_col)
    return (
        ranked.groupBy(F.col(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("_rn") > 1, 1)).alias("n_dup_spans"),
        )
        .withColumn(
            "retained",
            F.round((F.col("n_spans") - F.col("n_dup_spans")) / F.col("n_spans"), 6),
        )
    )


def span_dedup(
    df: DataFrame, k: int = 8, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Rewrite each document keeping only first-occurrence spans (the
    actual cleaning transform; ``span_dedup_stats`` is its audit twin).
    Documents whose every span is a repeat come back with empty text.
    Reassembly is a groupBy(id) over ``sort_array(collect_list(...))`` —
    per-doc span counts are bounded by doc length, so the collected list
    is a single document's worth of text, never a corpus-level state."""
    ranked = _ranked_spans(df, k, text_col, id_col)
    kept = ranked.filter(F.col("_rn") == 1)
    rebuilt = kept.groupBy(F.col(id_col)).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
        ).alias("_clean")
    )
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("_clean"), F.lit("")))
        .drop("_clean")
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Containment near-dup pairs: |A ∩ B| / min(|A|, |B|) >= threshold —
    the asymmetric companion to Jaccard that catches SUBSET duplicates
    (a doc quoted or embedded inside a longer one), which symmetric
    Jaccard misses whenever the sizes differ a lot.  Same two-scan
    shingle-join shape as ngram_jaccard_pairs, but the length-ratio
    prefilter is intentionally ABSENT: containment pairs are exactly
    the size-skewed pairs the ratio filter would discard."""
    sh = shingles(df, n, text_col, id_col).select(
        id_col, F.xxhash64("shingle").alias("h")
    )
    side = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    a, b = side.alias("a"), side.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = F.col("inter").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", F.round("containment", 6).alias("containment"))
    )


def ngram_containment_capped_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    rows_per_block: int = 500,
    max_df_num: int = 1,
    max_df_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bounded production twin of ``ngram_containment_pairs`` (r7
    VERDICT #2 — the unbounded exact form measured 28.5x at 10x data,
    the registry's worst ratio; it stays as the measurement twin, this
    is the deployable shape).  Two bounds, both exact and both visible
    in the output (the df-cap via per-doc ``capped_a``/``capped_b``
    counts, the block bound via the constant ``n_blocks`` column):

    - **shingle df-cap** (the ``tfidf_cosine_pairs`` pattern,
      text.py): shingles present in more than ``max_df_num/max_df_den``
      of the corpus are excluded from the containment space BEFORE the
      join — an exact integer predicate (dfr*den <= N*num, no float
      boundary).  A boilerplate shingle shared by every doc contributes
      O(N²) join pairs while carrying no dedup signal; the cap removes
      exactly that class.  NOT silent: every pair carries
      ``capped_a``/``capped_b`` = how many of each doc's distinct
      shingles the cap removed, and the denominator is the KEPT count,
      so the emitted containment is exactly containment-over-the-
      capped-space (sklearn ``max_df`` convention).
    - **corpus-scaled hash blocks**: pairs are enumerated within
      ``nb = max(1, N/rows_per_block)`` deterministic md5 buckets of
      doc_id, so the worst-case pair space grows linearly with N even
      on a closed shingle vocabulary where every df is below the cap
      (the synthetic-testdata regime: 30k-shingle vocab, max df 0.26%
      of corpus — measured in the r8 notes).  This bound is a RECALL
      trade: a cross-block pair is never examined (expected per-pair
      recall 1/nb), which is the operator's defined semantics — the
      same contract as ``tfidf_cosine_pairs`` / the
      cosine_pairs_blocked family — and it is surfaced, not silent:
      every output row carries the ``n_blocks`` column, so a consumer
      can see whether the enumeration was complete (``n_blocks = 1``,
      always true at gate scale) or blocked.  The oracle reproduces
      the block key bit-for-bit (portable md5 hash).

    N enters the plan as a broadcast 1-row aggregate (no driver-side
    count, no re-scan — the r6 VERDICT #3 discipline).  Why the
    length-ratio prefilter is still absent: containment exists to catch
    size-skewed subset dups, which that filter would discard (the
    unbounded twin's docstring argument carries over unchanged).

    Hash-collision assumption (repo-wide convention, advisor-noted):
    df and intersection counts key on xxhash64(shingle) while the
    oracle joins raw shingle strings — a 64-bit collision between
    distinct shingles would perturb counts (astronomically unlikely;
    same contract as the verify tail and every sibling)."""
    stats = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n")))
    sh = shingles(df, n, text_col, id_col).select(
        id_col, F.xxhash64("shingle").alias("h")
    )
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("dfr"))
    wall = sh.join(dfreq, "h").crossJoin(stats)
    kept = F.col("dfr") * F.lit(max_df_den) <= F.col("_n") * F.lit(max_df_num)
    nb_col = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("_n") / F.lit(float(rows_per_block))),
    )
    w = (
        wall.filter(kept)
        .withColumn("blk", porthash32(F.col(id_col).cast("string")) % nb_col)
        .withColumn("n_blocks", nb_col)
        .select(id_col, "h", "blk", "n_blocks")
    )
    # kept-size + cap audit in ONE conditional aggregation over the
    # wall subtree (the tfidf_cosine_pairs norm/audit construction)
    cnt = wall.groupBy(id_col).agg(
        F.count(F.when(kept, F.lit(1))).alias("n_kept"),
        F.count(F.when(~kept, F.lit(1))).alias("n_capped"),
    )
    a, b = w.alias("a"), w.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            # constant per run — the block-bound audit (complete
            # enumeration iff n_blocks = 1)
            F.col("a.n_blocks").alias("n_blocks"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = cnt.select(
        F.col(id_col).alias("doc_a"), F.col("n_kept").alias("n_a"),
        F.col("n_capped").alias("capped_a"),
    )
    cb = cnt.select(
        F.col(id_col).alias("doc_b"), F.col("n_kept").alias("n_b"),
        F.col("n_capped").alias("capped_b"),
    )
    cont = F.col("inter").cast("double") / F.least("n_a", "n_b")
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("_cont", cont)
        .filter(F.col("_cont") >= threshold)
        .select(
            "doc_a", "doc_b",
            F.round("_cont", 6).alias("containment"),
            "capped_a", "capped_b", "n_blocks",
        )
    )


def dup_aware_weights(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplication-aware sampling weights: instead of DROPPING near-dups,
    keep every doc with weight 1 / |its near-dup cluster| — the
    soft-dedup used when hard removal is too aggressive (each duplicated
    idea contributes one unit of training mass in expectation,
    regardless of copy count).  Composition of the oracle-verified
    clustering: cluster sizes are a tiny groupBy over the labels,
    broadcast back onto the corpus.  Rides ``dedup_clusters``'s default
    banded-verified pair source (r8 VERDICT #2) — bounded at corpus
    scale, oracle reproduces both phases."""
    clusters = dedup_clusters(df, n=n, threshold=threshold, id_col=id_col)
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_csz"))
    return (
        clusters.join(F.broadcast(sizes), "cluster_id")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.round(F.lit(1.0) / F.col("_csz"), 6).alias("weight"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    w: int = 8,
    mask_bits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the storage-dedup/Rabin-fingerprint
    family, here over normalized document text): a position ends a chunk
    when the polynomial rolling hash of the trailing ``w`` characters
    has its low ``mask_bits`` bits zero (expected chunk length
    2^mask_bits).  Because boundaries depend only on LOCAL content, an
    insertion early in a document shifts chunk ids but not the chunks
    after the edit region — the property that makes chunk-level dedup
    robust where fixed-stride spans (``doc_spans``) are not.

    This is the basic CDC construction (every mask hit is a cut; no
    min/max clamp — the clamped variant adds driver-free state the
    plain form doesn't need and testdata doesn't exercise).

    All HOF expressions over a char-code array materialized ONCE as a
    column (same O(len) discipline as ``winnow_fingerprints`` — inline
    substr would re-run the normalize regex per character).  One explode;
    no shuffle until the caller aggregates.

    Returns (doc_id, chunk_idx, chunk_len, chunk_hash) — md5 of the
    chunk text."""
    mod = F.lit(1_000_000_007).cast("long")
    s = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    df = (
        spread(df.select(F.col(id_col), F.col(text_col)), id_col, factor=16)
        .withColumn("_s", s)
        .filter(F.length("_s") >= w)
        .withColumn(
            "_codes", F.transform(F.split("_s", ""), lambda c: F.ascii(c).cast("long"))
        )
    )
    # rolling hash of chars [p-w+1 .. p] for every cut candidate p
    cut_at = lambda p: (
        F.pmod(
            F.aggregate(
                F.sequence(p - w + 1, p),
                F.lit(0).cast("long"),
                lambda acc, j: F.pmod(
                    acc * F.lit(31) + F.element_at("_codes", j.cast("int")), mod
                ),
            ),
            F.lit(1 << mask_bits).cast("long"),
        )
        == 0
    )
    # interior cuts exclude the final position (it is appended as the
    # unconditional end cut), keeping the list strictly increasing with
    # no distinct pass; sequence(w, len) is ascending because len >= w
    cuts = F.concat(
        F.array(F.lit(0)),
        F.filter(
            F.sequence(F.lit(w), F.size("_codes")),
            lambda p: (p < F.size("_codes")) & cut_at(p),
        ),
        F.array(F.size("_codes")),
    )
    df = df.withColumn("_cuts", cuts)
    chunks = F.transform(
        F.sequence(F.lit(1), F.size("_cuts") - 1),
        lambda i: F.substring(
            "_s",
            F.element_at("_cuts", i.cast("int")) + 1,
            F.element_at("_cuts", (i + 1).cast("int"))
            - F.element_at("_cuts", i.cast("int")),
        ),
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    ).select(
        id_col,
        "chunk_idx",
        F.length("_c").cast("long").alias("chunk_len"),
        F.md5("_c").alias("chunk_hash"),
    )


def cdc_dedup_stats(
    df: DataFrame,
    w: int = 8,
    mask_bits: int = 5,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level duplication report over ``cdc_chunks``: the top-k most
    duplicated content chunks corpus-wide — (chunk_hash, chunk_len,
    n_occurrences, n_docs), occurrences desc.  The storage-dedup view of
    corpus redundancy: chunks with n_docs > 1 are byte ranges shareable
    (or strippable) across documents even when no whole document or
    fixed-stride span matches.

    One map-side-combinable groupBy on the 32-hex chunk hash (fixed-
    width key regardless of chunk size) + TakeOrderedAndProject."""
    ch = cdc_chunks(df, w=w, mask_bits=mask_bits, text_col=text_col, id_col=id_col)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.max("chunk_len").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("chunk_hash").asc())
        .limit(top_k)
    )


def write_cdc_index(
    df: DataFrame,
    path: str,
    w: int = 8,
    mask_bits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Persist the corpus's DISTINCT CDC chunk hashes — the storage-
    dedup index a crawl-ingest probes so arriving documents are charged
    only for never-seen content.  Fixed-width 32-hex keys, one distinct
    shuffle, written sorted so the probe join's build side reads
    clustered (same persisted-index posture as ``write_minhash_index``)."""
    (
        cdc_chunks(df, w=w, mask_bits=mask_bits, text_col=text_col, id_col=id_col)
        .select("chunk_hash")
        .distinct()
        .sort("chunk_hash")
        .write.mode("overwrite")
        .parquet(path)
    )


def cdc_incremental_stats(
    new_docs: DataFrame,
    spark,
    index_path: str,
    w: int = 8,
    mask_bits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level dedup of a NEW batch against the persisted corpus
    index (the crawl-ingest shape at storage granularity): per arriving
    document, how many of its content chunks — and what fraction of its
    content bytes — already exist in the corpus.  The batch is chunked
    once (map-side), the index join is a fixed-width-key equi-join (AQE
    broadcasts a small index, shuffles a big one), and nothing pairwise
    ever materializes.

    Returns (doc_id, n_chunks, n_known, known_bytes_ratio) for EVERY
    arriving document — one whose normalized text is too short to chunk
    (< w alphanumerics) scores (0, 0, NULL), distinguishable from a
    scored all-novel doc's (n, 0, 0.0)."""
    idx = spark.read.parquet(index_path).withColumn("_known", F.lit(True))
    ch = cdc_chunks(
        new_docs, w=w, mask_bits=mask_bits, text_col=text_col, id_col=id_col
    )
    j = ch.join(idx, "chunk_hash", "left")
    stats = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_known"), 1).otherwise(0)).alias("n_known"),
        F.round(
            F.sum(F.when(F.col("_known"), F.col("chunk_len")).otherwise(0)).cast(
                "double"
            )
            / F.sum("chunk_len").cast("double"),
            6,
        ).alias("known_bytes_ratio"),
    )
    return new_docs.select(id_col).join(stats, id_col, "left").select(
        id_col,
        F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
        F.coalesce("n_known", F.lit(0)).alias("n_known"),
        F.col("known_bytes_ratio"),
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = None,
) -> DataFrame:
    """EXACT Jaccard >= t over distinct-word sets with PREFIX-FILTER
    candidate generation — the AllPairs/PPJoin family (Bayardo et al.
    WWW'07; Xiao et al. WWW'08): order every document's tokens by
    global rarity and join only on each side's first
    |x| - ceil(t*|x|) + 1 tokens.  Any pair with Jaccard >= t must
    share a prefix token under a common total order, so the pruning is
    LOSSLESS — the judged oracle is the brute-force all-shared-token
    join, and equality with it is the completeness proof.

    vs the siblings: ngram_jaccard_pairs joins on EVERY shared shingle
    (complete but candidate count ~ Σ df²); minhash is sub-quadratic
    but probabilistic.  Prefix filtering keeps exactness while joining
    only on rare-prefix tokens — the candidate count collapses because
    common tokens (high df, the quadratic offenders) sit at the END of
    the rarity order and never enter the join.

    Scale: the global rarity ranking is a window over the VOCABULARY
    (vocab-sized, not corpus-sized — same driver-state class as BPE);
    everything else is hash joins/aggs on token or pair keys.  The
    verify re-join computes exact intersections for candidates only.

    ``shingle_n``: None = distinct single words (coarse — on a small
    vocabulary the TRUE answer is dense and output size dominates);
    an integer = distinct n-word shingles (the near-dup domain the
    siblings use — sparse similarity, where prefix pruning shines).

    Returns (doc_a, doc_b, jaccard) with jaccard rounded 6dp."""
    from pyspark.sql import Window

    if shingle_n:
        tok = shingles(df, shingle_n, text_col, id_col).select(
            F.col(id_col), F.col("shingle").alias("t")
        )
    else:
        tok = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens_col(text_col))).alias("t"),
        )
    # global rarity order: df asc, token asc — a total order shared by
    # every document (required for the prefix-overlap guarantee).  The
    # order is used ONLY to position tokens WITHIN each doc, so the
    # (df, t) key is compared directly in a per-doc window — no global
    # dense rank: the former row_number() OVER (ORDER BY df, t) was a
    # single-task window over the whole vocabulary, which on an open
    # vocabulary (vocab ~ corpus size) became the scale bottleneck
    # (r9 openvocab measurement: the rank build dominated the 10x run)
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("_df"))
    ranked = tok.join(vocab, "t")
    wd = Window.partitionBy(id_col)
    wo = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("t").asc())
    sized = ranked.withColumn("_n", F.count(F.lit(1)).over(wd)).withColumn(
        "_pos", F.row_number().over(wo)
    )
    # prefix length |x| - ceil(t*|x|) + 1 (slackened ceil — float error
    # in t*|x| must never SHRINK the prefix, see _PREFILTER_SLACK)
    prefix = sized.filter(
        _prefix_pos_le(threshold, F.col("_n"), F.col("_pos"))
    ).select(F.col(id_col), "t", "_n", "_pos")
    a, b = prefix.alias("a"), prefix.alias("b")
    ratio_ok = _ratio_ok(threshold, F.col("a._n"), F.col("b._n"))
    # PPJoin positional filter: J >= t needs overlap
    # alpha = ceil(t/(1+t) * (|A|+|B|)); a shared token at positions
    # (pa, pb) caps the achievable overlap at 1 + min(|A|-pa, |B|-pb).
    # Lossless with the slackened ceil — pruned pairs provably cannot
    # reach t, and the exact verify step decides membership anyway.
    pos_ok = _positional_ok(
        threshold,
        F.col("a._n"), F.col("a._pos"), F.col("b._n"), F.col("b._pos"),
    )
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & ratio_ok
            & pos_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
        )
        .distinct()
    )
    ta = tok.select(F.col(id_col).alias("doc_a"), F.col("t").alias("_ta"))
    tb = tok.select(F.col(id_col).alias("_db"), F.col("t").alias("_tb"))
    inter = (
        cand.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("_db")) & (F.col("_ta") == F.col("_tb")),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    jac = F.col("_i") / (F.col("n_a") + F.col("n_b") - F.col("_i"))
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def prefix_jaccard_capped_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    rows_per_block: int = 500,
    max_df_num: int = 1,
    max_df_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = None,
) -> DataFrame:
    """Bounded production twin of ``prefix_jaccard_pairs`` (r8 VERDICT
    #5 — the unbounded exact form measured 37x at 10x data on the
    closed-vocabulary testdata, the registry's worst ratio; it stays as
    the measurement twin, this is the deployable shape).  The same two
    exact, VISIBLE bounds as ``ngram_containment_capped_pairs``:

    - **token df-cap** (integer predicate ``dfr*den <= N*num``): tokens
      in more than ``max_df_num/max_df_den`` of the corpus leave the
      similarity space before anything else; the emitted Jaccard is
      Jaccard-over-the-capped-space (sklearn ``max_df`` convention) and
      every pair carries ``capped_a``/``capped_b`` audit counts.  On an
      open vocabulary this alone restores the AllPairs bound (the
      boilerplate head IS the pathological posting list).
    - **corpus-scaled hash blocks** (``nb = max(1, N/rows_per_block)``
      md5 buckets of doc_id, surfaced as ``n_blocks``): on a CLOSED
      vocabulary where no df crosses the cap (the testdata regime —
      30k-shingle vocab, max df 0.26%), prefixes saturate anyway, so
      the pair space must be bounded by construction.  Cross-block
      pairs are never examined (expected per-pair recall 1/nb) —
      ``n_blocks = 1`` at gate scale means complete enumeration there.

    Inside a (block, capped-space) cell the prefix + positional filters
    are LOSSLESS (same Bayardo/Xiao argument as the unbounded twin), so
    the oracle is the brute-force all-shared-kept-token join within the
    same block key — equality with it is the completeness proof; the
    prefix machinery changes WORK, never output.  Like the siblings,
    distinct collisions of the 64-bit/md5 token hashes are assumed
    absent (astronomically unlikely; same convention repo-wide).

    Returns (doc_a, doc_b, jaccard, capped_a, capped_b, n_blocks)."""
    if shingle_n:
        tok = shingles(df, shingle_n, text_col, id_col).select(
            F.col(id_col), F.col("shingle").alias("t")
        )
    else:
        tok = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens_col(text_col))).alias("t"),
        )
    stats = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n")))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("_df"))
    kept_pred = F.col("_df") * F.lit(max_df_den) <= F.col("_n") * F.lit(max_df_num)
    nb_col = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("_n") / F.lit(float(rows_per_block))),
    )
    wall = tok.join(vocab, "t").crossJoin(stats)
    # per-doc kept/capped audit in ONE conditional aggregation
    cnt = wall.groupBy(id_col).agg(
        F.count(F.when(kept_pred, F.lit(1))).alias("n_kept"),
        F.count(F.when(~kept_pred, F.lit(1))).alias("n_capped"),
    )
    kept = (
        wall.filter(kept_pred)
        .withColumn("blk", porthash32(F.col(id_col).cast("string")) % nb_col)
        .withColumn("n_blocks", nb_col)
        .select(id_col, "t", "_df", "blk", "n_blocks")
    )
    # global rarity order over the KEPT vocabulary: compare the (df, t)
    # key directly inside the per-doc window — the shared total order
    # needs no global dense rank (see prefix_jaccard_pairs), so nothing
    # here is vocabulary-sized or single-task
    wd = Window.partitionBy(id_col)
    wo = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("t").asc())
    sized = kept.withColumn("_n", F.count(F.lit(1)).over(wd)).withColumn(
        "_pos", F.row_number().over(wo)
    )
    prefix = sized.filter(
        _prefix_pos_le(threshold, F.col("_n"), F.col("_pos"))
    ).select(F.col(id_col), "t", "_n", "_pos", "blk", "n_blocks")
    a, b = prefix.alias("a"), prefix.alias("b")
    ratio_ok = _ratio_ok(threshold, F.col("a._n"), F.col("b._n"))
    pos_ok = _positional_ok(
        threshold,
        F.col("a._n"), F.col("a._pos"), F.col("b._n"), F.col("b._pos"),
    )
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & ratio_ok
            & pos_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a._n").alias("n_a"),
            F.col("b._n").alias("n_b"),
            F.col("a.n_blocks").alias("n_blocks"),
        )
        .distinct()
    )
    kt = kept.select(F.col(id_col), F.col("t"))
    ta = kt.select(F.col(id_col).alias("doc_a"), F.col("t").alias("_ta"))
    tb = kt.select(F.col(id_col).alias("_db"), F.col("t").alias("_tb"))
    inter = (
        cand.join(ta, "doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("_db")) & (F.col("_ta") == F.col("_tb")),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b", "n_blocks")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    ca = cnt.select(
        F.col(id_col).alias("doc_a"), F.col("n_capped").alias("capped_a")
    )
    cb = cnt.select(
        F.col(id_col).alias("doc_b"), F.col("n_capped").alias("capped_b")
    )
    jac = F.col("_i") / (F.col("n_a") + F.col("n_b") - F.col("_i"))
    return (
        inter.filter(jac >= threshold)
        .join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(jac, 6).alias("jaccard"),
            "capped_a", "capped_b", "n_blocks",
        )
    )


def minhash_pair_eval(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_n: int = 3,
    target_docs: int = 3000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality harness for the PRODUCTION near-dup path: banded-MinHash
    pairs (approximate, linear at scale) scored against the exact
    n-gram Jaccard >= t truth on the same corpus — one row with pair
    counts, true/false positives, misses, and precision/recall.  This
    is the measurement that justifies shipping the banded graph as the
    default edge source (graph metrics, dup clusters): the judged
    values quantify exactly what the banding trades away.

    The exact side is inherently quadratic-risk, so the harness runs on
    a DETERMINISTIC md5 doc sample (r8 VERDICT #6): both sides are
    restricted to docs with ``porthash32(id) % den == 0`` where
    ``den = max(1, N // target_docs)`` enters the plan as a broadcast
    1-row aggregate — the sampled sub-corpus stays ~``target_docs``
    docs at ANY scale, so the truth build's cost is a constant, not a
    function of N.  Banded signatures depend only on each doc's own
    shingles, so sampling-then-building equals building-then-filtering
    to within-sample pairs: precision/recall are the harness's exact
    values on the induced sub-corpus (an unbiased pair-sample estimate
    of the full-corpus numbers).  The coverage is VISIBLE, not silent:
    the output row carries ``sample_den`` and ``sample_frac`` (= 1 /
    den; 1.0 = the whole corpus was scored, always true at gate scale).

    All counts are exact integers from one full outer join on the pair
    key; precision/recall are 6dp rounds of single deterministic
    int64-ratio doubles (ARCHITECTURE.md §4 — no aggregate of floats
    anywhere)."""
    stats = F.broadcast(docs.agg(F.count(F.lit(1)).alias("_n")))
    den = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("_n") / F.lit(float(target_docs))),
    )
    sampled = (
        docs.crossJoin(stats)
        .filter(porthash32(F.col(id_col).cast("string")) % den == 0)
        .drop("_n")
    )
    denrow = stats.select(
        den.alias("sample_den"),
        F.round(F.lit(1.0) / den, 6).alias("sample_frac"),
    )
    exact = ngram_jaccard_pairs(sampled, n=shingle_n, threshold=threshold).select(
        "doc_a", "doc_b", F.lit(1).alias("_e")
    )
    approx = minhash_banded_pairs(sampled, threshold=threshold, n=shingle_n).select(
        "doc_a", "doc_b", F.lit(1).alias("_m")
    )
    j = exact.join(approx, ["doc_a", "doc_b"], "full")
    return j.agg(
        F.count("_e").alias("n_exact"),
        F.count("_m").alias("n_approx"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_m").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("_e").isNull(), 1)).alias("fp"),
        F.count(F.when(F.col("_m").isNull(), 1)).alias("fn"),
    ).select(
        "n_exact",
        "n_approx",
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("n_approx").cast("double"), F.lit(0.0)),
            6,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("n_exact").cast("double"), F.lit(0.0)),
            6,
        ).alias("recall"),
    ).crossJoin(F.broadcast(denrow))


def eval_contamination_rate(
    df: DataFrame,
    eval_pred: Column,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-side contamination rate — the complement of
    ``contamination``: for every EVAL document, the fraction of its
    distinct word n-grams that appear anywhere in the training side.
    ``contamination`` answers "which train docs must I drop";
    this answers "how dirty is my benchmark if I don't" — the
    eval-cleanliness number model reports quote.

    Scale shape mirrors ``contamination``: the eval shingle set is
    small by construction and broadcast; the train corpus is scanned
    once and never shuffles on its own size (one broadcast hash join +
    distinct + per-eval-doc aggregation).  Counts are exact integers;
    the rate is a 6dp round of one int64-ratio double
    (ARCHITECTURE.md §4)."""
    ev = shingles(df.filter(eval_pred), n, text_col, id_col)
    # train doc identity is never needed here (unlike `contamination`):
    # distinct the train shingles BEFORE the join so each eval shingle
    # matches at most one row — no join fan-out, no post-join distinct
    tr = (
        shingles(df.filter(~eval_pred), n, text_col, id_col)
        .select("shingle")
        .distinct()
    )
    tot = ev.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_nh"))
    )
    return tot.join(hit, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("_nh", F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            F.coalesce("_nh", F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("contam_rate"),
    )
