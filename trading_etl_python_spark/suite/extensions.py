"""Extension queries + oracles (SURVEY.md §2.3): dedup, similarity
search, text analysis, approx stats, multimodal metadata.

Oracle notes: DuckDB's list lambdas mirror Spark HOFs one-to-one
(list_filter/filter, list_transform/transform, list_reduce/aggregate);
both engines fold/accumulate left-to-right, so even order-sensitive
expressions (dot products, rolling fingerprints) hash-match after
rounding.  MinHash/SimHash/hyperplane-LSH use PORTABLE hashing (md5-hex
prefixes parsed to ints, LCG-seeded constants inlined as literals on
both sides — operators/dedup.py module docstring), so they carry full
value-hash oracles.  As of r4 there are NO rows-only declarations left:
the former pair gained real contracts (q_approx_stats emits exact stats
+ sketch-tolerance booleans; q_stream_replay's single-batch replay is
reproduced by a recursive-CTE oracle — see _STREAM_REPLAY_ORACLE).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as TX
from ..sources.tables import load_events, load_table
from .core import BARS_CTE

QUERIES = {}
ORACLES = {}
TIERS = {}

TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def q(name: str, oracle: str | None = None, tier: str = "production"):
    """Register a query.  ``tier`` encodes the scale posture the docs
    previously carried only in prose (r8 VERDICT #4): "production" =
    deployable plan shape at 100 TB (bounded pair/candidate space);
    "measurement" = exact/unbounded twin kept to verify or score a
    production path (expected superlinear on adversarial corpora);
    "demo" = deliberately simplified pedagogical form.  tools/sweep.py
    --compare flags only production-tier superlinearity; lint requires
    every entry to carry a valid tier."""
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        TIERS[name] = tier
        return fn

    return deco


# ------------------------------------------------------------------- dedup


@q(
    "q_dedup_exact",
    """SELECT doc_id, lang, source, n_chars FROM (
         SELECT doc_id, lang, source, n_chars,
                ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         FROM documents) t WHERE rn = 1""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_exact(docs).select("doc_id", "lang", "source", "n_chars")


@q(
    "q_dedup_ngram",
    f"""WITH tok AS (
         SELECT doc_id, {TOKS} AS toks FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         FROM tok, UNNEST(range(1, len(toks) - 1)) AS t(i)
         WHERE len(toks) >= 3),
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter), 6) AS jaccard
       FROM pairs
       JOIN cnt ca ON ca.doc_id = doc_a
       JOIN cnt cb ON cb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5""",
    tier="measurement",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, n=3, threshold=0.5)


# DuckDB twin of operators/dedup.porthash32: md5-hex prefix -> uint32
_PH_HI = "('0x' || substring(md5({c}), 1, 8))::BIGINT"
_PH_LO = "('0x' || substring(md5({c}), 9, 8))::BIGINT"

# shared shingle CTEs (identical to q_dedup_ngram's)
_SHINGLE_CTES = f"""tok AS (
         SELECT doc_id, {TOKS} AS toks FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         FROM tok, UNNEST(range(1, len(toks) - 1)) AS t(i)
         WHERE len(toks) >= 3)"""


def _minhash_frags(num_perm: int = 32, bands: int = 8):
    """Shared SQL fragments of the banded-MinHash construction (the
    signature mins, the band-key selector, the component-match sum) —
    the ONE source for the permutation constants and band-key format.
    Consumed by _minhash_sql, _minhash_incremental_sql,
    _minhash_banded_verified_sql and _minhash_pair_ctes; Spark/DuckDB
    parity depends on these never drifting between twins, so they must
    not be re-derived inline anywhere."""
    a, b = D.minhash_params(num_perm)
    r = num_perm // bands
    mins = ",\n           ".join(
        f"MIN((h * {a[k]} + {b[k]}) % {D.MINHASH_P}) AS m{k}" for k in range(num_perm)
    )
    band_sel = "\n         UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, concat_ws('_', "
        + ", ".join(f"m{i * r + j}" for j in range(r))
        + ") AS key FROM sig"
        for i in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN sa.m{k} = sb.m{k} THEN 1 ELSE 0 END" for k in range(num_perm)
    )
    return mins, band_sel, matches


def _minhash_sql(threshold: float = 0.5, num_perm: int = 32, bands: int = 8) -> str:
    """SQL twin of minhash_banded_pairs — SAME (a_k, b_k) constants."""
    mins, band_sel, matches = _minhash_frags(num_perm, bands)
    return f"""WITH {_SHINGLE_CTES},
       hs AS (SELECT doc_id, {_PH_HI.format(c='shingle')} AS h FROM sh),
       sig AS (SELECT doc_id,
           {mins}
         FROM hs GROUP BY doc_id),
       bands AS ({band_sel}),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, ROUND(aj, 6) AS approx_jaccard FROM (
         SELECT doc_a, doc_b, ({matches}) / {float(num_perm)} AS aj
         FROM cand
         JOIN sig sa ON sa.doc_id = doc_a
         JOIN sig sb ON sb.doc_id = doc_b) t
       WHERE aj >= {threshold}"""


def _minhash_banded_verified_sql(
    threshold: float = 0.5, num_perm: int = 32, bands: int = 8
) -> str:
    """SQL twin of minhash_banded_verified_pairs: the SAME banded
    candidate construction as _minhash_sql (portable md5 hashes, shared
    LCG permutation constants), then EXACT shingle-set Jaccard on the
    candidates — both phases engine-independent, no recall argument
    needed (unlike the ML-candidate variant's oracle)."""
    mins, band_sel, _ = _minhash_frags(num_perm, bands)
    return f"""WITH {_SHINGLE_CTES},
       hs AS (SELECT doc_id, {_PH_HI.format(c='shingle')} AS h FROM sh),
       sig AS (SELECT doc_id,
           {mins}
         FROM hs GROUP BY doc_id),
       bands AS ({band_sel}),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         FROM cand c
         JOIN sh a ON a.doc_id = c.doc_a
         JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter), 6)
                AS jaccard
       FROM inter
       JOIN cnt ca ON ca.doc_id = doc_a
       JOIN cnt cb ON cb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter)
             >= {threshold}"""


def _banded_pair_ctes(
    threshold: float, num_perm: int = 32, bands: int = 8, sh: str = "sh"
) -> str:
    """The banded-candidates + exact-Jaccard-verify pair build as an
    APPENDABLE CTE chain — the oracle twin of
    ``minhash_banded_verified_pairs`` for COMPOSED queries (r8 VERDICT
    #2: the curation pipelines now ride the bounded pair source, so
    their oracles must reproduce BOTH phases over the composition's own
    survivor set, not over raw ``documents``).  Expects an existing
    ``{sh}(doc_id, shingle)`` CTE (distinct n-gram shingles of the
    survivor corpus); emits ``vpairs(doc_a, doc_b)`` — the pairs with
    banded-candidate collision AND exact Jaccard >= threshold.  Same
    md5-derived hashes / LCG constants as ``_minhash_frags`` (the ONE
    source for those literals), same unrounded threshold comparison as
    ``_verify_pairs_exact_jaccard``."""
    mins, band_sel, _ = _minhash_frags(num_perm, bands)
    return f"""hs AS (SELECT doc_id, {_PH_HI.format(c='shingle')} AS h FROM {sh}),
       sig AS (SELECT doc_id,
           {mins}
         FROM hs GROUP BY doc_id),
       bands AS ({band_sel}),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       vcnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM {sh} GROUP BY doc_id),
       vinter AS (
         SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         FROM cand c
         JOIN {sh} a ON a.doc_id = c.doc_a
         JOIN {sh} b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
         GROUP BY 1, 2),
       vpairs AS (
         SELECT doc_a, doc_b FROM vinter
         JOIN vcnt ca ON ca.doc_id = doc_a
         JOIN vcnt cb ON cb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter)
               >= {threshold})"""


def _minhash_incremental_sql(
    threshold: float = 0.5,
    num_perm: int = 32,
    bands: int = 8,
    new_pred: str = "a.doc_id % 2 = 1",
    corpus_pred: str = "b.doc_id % 2 = 0",
) -> str:
    """SQL twin of minhash_incremental_pairs: same signature CTEs as
    _minhash_sql, but candidates pair a NEW doc with a CORPUS doc — no
    a<b canonicalization, the sides are the orientation.  The side
    predicates are parameters: odd/even ids for q_dedup_incremental,
    hash-bucket split membership for the q_split_leakage audit."""
    mins, band_sel, matches = _minhash_frags(num_perm, bands)
    return f"""WITH {_SHINGLE_CTES},
       hs AS (SELECT doc_id, {_PH_HI.format(c='shingle')} AS h FROM sh),
       sig AS (SELECT doc_id,
           {mins}
         FROM hs GROUP BY doc_id),
       bands AS ({band_sel}),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key
         WHERE {new_pred} AND {corpus_pred})
       SELECT doc_id, dup_of, ROUND(aj, 6) AS approx_jaccard FROM (
         SELECT cand.doc_id, cand.dup_of, ({matches}) / {float(num_perm)} AS aj
         FROM cand
         JOIN sig sa ON sa.doc_id = cand.doc_id
         JOIN sig sb ON sb.doc_id = cand.dup_of) t
       WHERE aj >= {threshold}"""


@q("q_dedup_incremental", _minhash_incremental_sql(threshold=0.5))
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the odd-id half of the corpus (the 'new
    crawl') deduped against the even-id half (the 'existing corpus') —
    operators/dedup.minhash_incremental_pairs over an in-plan corpus
    side; write_minhash_index persists the same banded table for the
    corpus-scan-free deployment shape (tests/test_dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = D.banded_signatures(docs.filter(F.col("doc_id") % 2 == 0))
    return D.minhash_incremental_pairs(new, corpus, threshold=0.5)


@q(
    "q_span_dedup",
    f"""WITH tok AS (
         SELECT doc_id, {TOKS} AS toks FROM documents),
       sp AS (
         SELECT doc_id, i AS span_idx,
                array_to_string(toks[i*8+1 : i*8+8], ' ') AS span
         FROM tok, UNNEST(range(0, ((len(toks) - 1) // 8) + 1)) AS t(i)
         WHERE len(toks) >= 1),
       ranked AS (
         SELECT doc_id, span_idx,
                ROW_NUMBER() OVER (PARTITION BY span
                                   ORDER BY doc_id, span_idx) AS rn
         FROM sp)
       SELECT doc_id, COUNT(*) AS n_spans,
              COUNT(*) FILTER (WHERE rn > 1) AS n_dup_spans,
              ROUND(CAST(COUNT(*) - COUNT(*) FILTER (WHERE rn > 1) AS DOUBLE)
                    / COUNT(*), 6) AS retained
       FROM ranked GROUP BY doc_id""",
)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup audit (Lee et al. adapted to fixed-stride
    spans): per-doc duplicated-span counts under corpus-wide
    first-occurrence-wins — operators/dedup.span_dedup_stats; the
    text-rewriting twin span_dedup is parity-tested in
    tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return D.span_dedup_stats(docs, k=8)


@q(
    "q_epoch_order",
    """SELECT doc_id, source,
              ROW_NUMBER() OVER (
                ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '_3'),
                                            1, 8))::BIGINT % 1073741824,
                         doc_id) AS epoch_rank
       FROM documents""",
)
def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch-3 training order: rank by portable hash of
    (doc_id, epoch) — a distinct deterministic permutation per epoch,
    identical across runs/engines (operators/sampling.epoch_order;
    deployed path sorts per-shard, no global exchange)."""
    from ..operators.sampling import epoch_order

    docs = load_table(spark, sf_dir, "documents")
    return epoch_order(docs, epoch=3).select("doc_id", "source", "epoch_rank")


@q(
    "q_dedup_containment",
    f"""WITH {_SHINGLE_CTES},
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / LEAST(ca.n_sh, cb.n_sh), 6) AS containment
       FROM p JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / LEAST(ca.n_sh, cb.n_sh) >= 0.8""",
    tier="measurement",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs (|A∩B| / min — catches subset
    duplicates symmetric Jaccard misses on size-skewed pairs;
    operators/dedup.ngram_containment_pairs).  Unbounded exact form —
    the measurement twin; q_containment_capped is the production
    shape (r7 VERDICT #2)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(docs, n=3, threshold=0.8)


@q(
    "q_containment_capped",
    f"""WITH {_SHINGLE_CTES},
       nn AS (SELECT COUNT(*) AS n FROM documents),
       nbt AS (SELECT GREATEST(1, n // 500) AS nb, n FROM nn),
       dfq AS (SELECT shingle, COUNT(*) AS dfr FROM sh GROUP BY shingle),
       wall AS MATERIALIZED (
         SELECT s.doc_id, s.shingle, d.dfr, nbt.n, nbt.nb
         FROM sh s JOIN dfq d ON s.shingle = d.shingle, nbt),
       w AS (SELECT doc_id, shingle, nb,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % nb AS blk
             FROM wall WHERE dfr * 2 <= n),
       cnt AS (SELECT doc_id,
                 COUNT(CASE WHEN dfr * 2 <= n THEN 1 END) AS n_kept,
                 COUNT(CASE WHEN dfr * 2 > n THEN 1 END) AS n_capped
               FROM wall GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.nb AS n_blocks,
                    COUNT(*) AS inter
             FROM w a JOIN w b ON a.shingle = b.shingle AND a.blk = b.blk
                              AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / LEAST(ca.n_kept, cb.n_kept), 6)
                AS containment,
              CAST(ca.n_capped AS BIGINT) AS capped_a,
              CAST(cb.n_capped AS BIGINT) AS capped_b,
              CAST(n_blocks AS BIGINT) AS n_blocks
       FROM p JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / LEAST(ca.n_kept, cb.n_kept) >= 0.8""",
)
def q_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded containment near-dup (the production twin, r7 VERDICT
    #2): exact-integer shingle df-cap (> 1/2 of corpus) with per-doc
    capped_a/capped_b audit columns + corpus-scaled md5 hash-block
    pair bound (nb = N/500; complete enumeration at gate scale where
    nb = 1, surfaced per-row via the n_blocks audit column) —
    operators/dedup.ngram_containment_capped_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_capped_pairs(docs, n=3, threshold=0.8)


@q(
    "q_dup_weights",
    f"""WITH RECURSIVE {_SHINGLE_CTES},
       {_banded_pair_ctes(threshold=0.5)},
       edges AS MATERIALIZED (
         SELECT doc_a AS a, doc_b AS b FROM vpairs
         UNION SELECT doc_b, doc_a FROM vpairs),
       reach(v, r) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r),
       lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
       sz AS (SELECT cluster_id, COUNT(*) AS csz FROM lab GROUP BY cluster_id)
       SELECT lab.doc_id, lab.cluster_id,
              ROUND(1.0::DOUBLE / csz, 6) AS weight
       FROM lab JOIN sz USING (cluster_id)""",
)
def q_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-aware soft-dedup: every doc kept with weight
    1/|near-dup cluster| — each duplicated idea contributes one unit of
    training mass in expectation (operators/dedup.dup_aware_weights,
    composed over the oracle-verified connected-component clustering;
    since r9 the cluster edge source is dedup_clusters' BOUNDED
    banded-verified default, r8 VERDICT #2)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dup_aware_weights(docs.select("doc_id", "text"))


_SPLIT_BUCKET = "('0x' || substring(md5(CAST({side}.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"


@q(
    "q_split_leakage",
    _minhash_incremental_sql(
        threshold=0.5,
        new_pred=_SPLIT_BUCKET.format(side="a") + " >= 80",
        corpus_pred=_SPLIT_BUCKET.format(side="b") + " < 80",
    ),
)
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: near-duplicates that STRADDLE the
    train / eval boundary (an eval doc with a train near-twin inflates
    benchmark scores) — the same banded-index probe as incremental
    dedup, sides defined by the deterministic split hash.  Empty result
    = clean split; each row is a leak to fix."""
    from ..operators.sampling import split_assign

    docs = split_assign(load_table(spark, sf_dir, "documents"))
    eval_side = docs.filter(F.col("split") != "train").drop("split")
    train_side = docs.filter(F.col("split") == "train").drop("split")
    return D.minhash_incremental_pairs(
        eval_side, D.banded_signatures(train_side), threshold=0.5
    )


def _simhash_sql(max_hamming: int = 3) -> str:
    """SQL twin of simhash_pairs — same md5-derived bit tests."""
    bitsums = ",\n           ".join(
        f"SUM(CASE WHEN (({'lo' if bb < 32 else 'hi'} >> {bb % 32}) & 1) = 1 "
        f"THEN w ELSE -w END) AS b{bb}"
        for bb in range(64)
    )
    keys = ",\n           ".join(
        "CAST("
        + " + ".join(f"CASE WHEN b{band * 16 + i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16))
        + f" AS BIGINT) AS k{band}"
        for band in range(4)
    )
    band_sel = "\n         UNION ALL ".join(
        f"SELECT doc_id, {i} AS band, k{i} AS key, k0, k1, k2, k3 FROM sig" for i in range(4)
    )
    ham = " + ".join(f"bit_count(xor(ka{i}, kb{i}))" for i in range(4))
    return f"""WITH tw AS (
         SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS w FROM (
           SELECT doc_id, unnest({TOKS}) AS tok FROM documents) t
         GROUP BY doc_id, tok),
       th AS (SELECT doc_id, w, {_PH_HI.format(c='tok')} AS hi,
                     {_PH_LO.format(c='tok')} AS lo FROM tw),
       sums AS (SELECT doc_id,
           {bitsums}
         FROM th GROUP BY doc_id),
       sig AS (SELECT doc_id,
           {keys}
         FROM sums),
       bands AS ({band_sel}),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.k0 AS ka0, a.k1 AS ka1, a.k2 AS ka2, a.k3 AS ka3,
                b.k0 AS kb0, b.k1 AS kb1, b.k2 AS kb2, b.k3 AS kb3
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, CAST({ham} AS INT) AS hamming
       FROM cand WHERE {ham} <= {max_hamming}"""


@q("q_dedup_minhash", _minhash_sql(threshold=0.5))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_banded_pairs(docs, threshold=0.5)


# Oracle: the exact shingle-Jaccard pair set (same text as
# q_dedup_ngram's oracle).  The Spark side generates candidates with
# library MinHashLSH (engine-specific seeds) but VERIFIES each candidate
# with exact Jaccard, so the output is engine-independent as long as LSH
# recall is 1.0 on the corpus — driven there by 16 OR'd hash tables
# (P(miss) <= (1-0.5)^16 ~ 1.5e-5 per true pair).  This replaces the r3
# `err: no_oracle` rows-only contract (VERDICT r3 "Next round" #3).
@q(
    "q_dedup_minhash_ml",
    f"""WITH {_SHINGLE_CTES},
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter), 6) AS jaccard
       FROM pairs
       JOIN cnt ca ON ca.doc_id = doc_a
       JOIN cnt cb ON cb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5""",
    tier="measurement",
)
def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library MinHashLSH candidates + exact-Jaccard verification
    (operators/dedup.minhash_lsh_verified_pairs).  Library-native
    measurement twin — q_minhash_banded_verified is the bounded
    production shape (r8; the ML path's OR-only single-hash tables
    give linearly-growing buckets, PLANS.md §70)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_verified_pairs(docs, threshold=0.5, num_hash_tables=16)


@q("q_minhash_banded_verified", _minhash_banded_verified_sql(threshold=0.5))
def q_minhash_banded_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase near-dup with BOUNDED candidate generation (r7 VERDICT
    #3): AND-amplified banded-MinHash candidates (bucket collision
    P = J^4 per band vs J per table for the ML OR-only path) + exact
    shingle-Jaccard verification.  Both phases portable, so the oracle
    reproduces candidates AND scores bit-for-bit — no recall assumption
    (operators/dedup.minhash_banded_verified_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_banded_verified_pairs(docs, threshold=0.5)


@q("q_dedup_simhash", _simhash_sql(max_hamming=3))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, max_hamming=3)


# -------------------------------------------------------------- similarity

_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@q(
    "q_topk_cosine",
    f"""WITH qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       s AS (SELECT e.vec_id, e.label,
                    {_DOT.format(a='e.embedding', b='qv.v')} AS sim
             FROM embeddings e, qv)
       SELECT vec_id, label, ROUND(sim, 6) AS cos_sim
       FROM s ORDER BY sim DESC, vec_id LIMIT 20""",
)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.topk_cosine(emb, query_vec_id=0, k=20)


@q(
    "q_embed_neardup",
    f"""WITH nbt AS (SELECT GREATEST(1, COUNT(*) // 500) AS nb
                     FROM embeddings),
       e AS (SELECT vec_id, label, embedding,
                    ('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                      % nbt.nb AS blk
             FROM embeddings, nbt)
       SELECT vec_a, vec_b, ROUND(sim, 6) AS cos_sim FROM (
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                {_DOT.format(a='a.embedding', b='b.embedding')} AS sim
         FROM e a
         JOIN e b ON a.label = b.label AND a.blk = b.blk
                 AND a.vec_id < b.vec_id) t
       WHERE sim >= 0.8""",
)
def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded pair enumeration: composite (label, scale-adaptive hash
    bucket) blocking — nb = max(1, N // 500) buckets, so the pair space
    grows linearly with the corpus (at gate scale nb = 1 and the
    enumeration is label-complete)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_pairs_blocked(
        emb, threshold=0.8, block_col="label", rows_per_block=500
    )


# strict left-fold dot (exactly mirrors the F.aggregate fold in
# functions/vector.dot) — used where an UNROUNDED comparison feeds a
# sign test, where accumulation order must match bit-for-bit
_DOTF = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, v) -> acc + v)"
)


def _ann_lsh_sql(k: int = 10, n_planes: int = 12, max_hamming: int = 2) -> str:
    """SQL twin of ann_lsh_topk — the SAME literal hyperplane matrix."""
    planes = S.lsh_planes(n_planes, 64)
    sig_terms = " + ".join(
        "CASE WHEN "
        + _DOTF.format(a="embedding", b="[" + ", ".join(str(x) for x in w) + "]")
        + f" > 0 THEN {1 << p} ELSE 0 END"
        for p, w in enumerate(planes)
    )
    return f"""WITH sigt AS (
         SELECT vec_id, label, embedding, CAST({sig_terms} AS BIGINT) AS sig
         FROM embeddings),
       qv AS (SELECT embedding AS v, sig AS qsig FROM sigt WHERE vec_id = 0),
       cand AS (
         SELECT s.vec_id, s.label, {_DOTF.format(a='s.embedding', b='qv.v')} AS sim
         FROM sigt s, qv
         WHERE bit_count(xor(s.sig, qv.qsig)) <= {max_hamming})
       SELECT vec_id, label, ROUND(sim, 6) AS cos_sim
       FROM cand ORDER BY sim DESC, vec_id LIMIT {k}"""


@q("q_ann_lsh", _ann_lsh_sql(k=10))
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(emb, query_vec_id=0, k=10)


@q(
    "q_ann_ivf",
    f"""WITH cent AS (
         SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
       qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       probe AS (
         SELECT cell FROM cent, qv
         ORDER BY {_DOT.format(a='cv', b='qv.v')} DESC, cell LIMIT 4),
       asn AS (
         SELECT vec_id, cell FROM (
           SELECT e.vec_id, c.cell,
                  ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_DOT.format(a='e.embedding', b='c.cv')} DESC, c.cell
                  ) AS rn
           FROM embeddings e CROSS JOIN cent c) t
         WHERE rn = 1),
       cand AS (
         SELECT e.vec_id, e.label, e.embedding
         FROM embeddings e JOIN asn USING (vec_id)
         WHERE asn.cell IN (SELECT cell FROM probe))
       SELECT vec_id, label,
              ROUND({_DOT.format(a='embedding', b='qv.v')}, 6) AS cos_sim
       FROM cand, qv
       ORDER BY {_DOT.format(a='embedding', b='qv.v')} DESC, vec_id LIMIT 10""",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic coarse centroids (vec_id < 16): map-side
    cell assignment, 4-of-16 cell probe, exact rerank — value-hash checked
    against the identical SQL plan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(emb, query_vec_id=0, k=10, n_cells=16, n_probe=4)


# ------------------------------------------------------------------- text


@q(
    "q_text_tokens",
    f"""SELECT doc_id,
         CAST(len({TOKS}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({TOKS})) AS BIGINT) AS n_distinct
       FROM documents""",
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_stats(load_table(spark, sf_dir, "documents"))


@q(
    "q_token_freq",
    f"""WITH tok AS (SELECT unnest({TOKS}) AS token FROM documents)
       SELECT token, COUNT(*) AS cnt FROM tok
       GROUP BY token ORDER BY cnt DESC, token LIMIT 50""",
)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_freq(load_table(spark, sf_dir, "documents"), 50)


@q(
    "q_token_count",
    r"""SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)
           AS n_ws_tokens,
         CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+'))
           AS BIGINT) AS n_bpe_tokens
       FROM documents""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (driver-mandate X4): whitespace split, and
    a BPE-ish pre-tokenizer regex (letter runs / digit runs / punctuation
    runs with leading-space absorption, the GPT-2 pre-tokenizer shape)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    bpe = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(" ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"), F.lit(0)
    )
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
    )


@q(
    "q_doc_profile",
    """SELECT lang, source, COUNT(*) AS n_docs,
         ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars,
         MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM documents GROUP BY lang, source""",
)
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.doc_profile(load_table(spark, sf_dir, "documents"))


@q(
    "q_lang_id",
    f"""WITH tok AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
       h AS (SELECT doc_id, lang,
         CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS h_en,
         CAST(len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','los'))) AS BIGINT) AS h_es,
         CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','mit'))) AS BIGINT) AS h_de,
         CAST(len(list_filter(toks, t -> t IN ('le','la','de','et','les','des','un'))) AS BIGINT) AS h_fr
       FROM tok)
       SELECT doc_id, lang,
         CASE WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
              WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
              WHEN h_de >= h_fr THEN 'de'
              ELSE 'fr' END AS pred_lang,
         h_en, h_es, h_de, h_fr
       FROM h""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


@q(
    "q_text_quality",
    f"""WITH m AS (
         SELECT doc_id,
           CAST(len({TOKS}) AS DOUBLE) AS n_tok,
           CAST(len(list_distinct({TOKS})) AS DOUBLE) AS n_dis,
           CAST(len(list_filter({TOKS},
                t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop
         FROM documents)
       SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
         ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
             + 0.3 * (n_dis / NULLIF(n_tok, 0.0))
             + 0.3 * LEAST(n_stop / NULLIF(0.1 * n_tok, 0.0), 1.0), 6) AS quality
       FROM m""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(load_table(spark, sf_dir, "documents"))


@q(
    "q_doc_fingerprint",
    f"""SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform({TOKS},
               t -> CAST(ord(t[1]) AS BIGINT) * 31 + CAST(length(t) AS BIGINT))),
           (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
       FROM documents""",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.doc_fingerprint(load_table(spark, sf_dir, "documents"))


@q(
    "q_doc_winnow",
    """WITH norm AS (
         SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
         FROM documents),
       g AS (SELECT doc_id, s, length(s) - 4 AS ng FROM norm WHERE length(s) >= 8),
       hs AS (
         SELECT doc_id, list_transform(range(1, ng + 1), i ->
           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 5), j ->
             CAST(ord(substring(s, CAST(i + j AS INT), 1)) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007)) AS h
         FROM g),
       win AS (
         SELECT doc_id, unnest(list_transform(range(1, len(h) - 2), j ->
           list_reduce(
             list_transform(range(CAST(j AS INT), CAST(j + 4 AS INT)),
                            i -> {'p': i, 'v': h[i]}),
             (a, b) -> CASE WHEN b.v <= a.v THEN b ELSE a END))) AS fp
         FROM hs)
       SELECT DISTINCT doc_id, CAST(fp.p AS BIGINT) AS pos, fp.v AS hash FROM win""",
)
def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=5, w=4): shared substrings >= 8 chars
    are guaranteed a shared (pos-independent) hash selection."""
    return TX.winnow_fingerprints(load_table(spark, sf_dir, "documents"), k=5, w=4)


@q(
    "q_tfidf",
    f"""WITH tok AS (
         SELECT doc_id, unnest({TOKS}) AS token FROM documents),
       tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
       dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
       s AS (
         SELECT tf.doc_id, tf.token,
                ROUND(tf.tf * ln(n.n / dfreq.df), 6) AS tfidf,
                ROW_NUMBER() OVER (
                  PARTITION BY tf.doc_id
                  ORDER BY ROUND(tf.tf * ln(n.n / dfreq.df), 6) DESC, tf.token
                ) AS rn
         FROM tf JOIN dfreq ON tf.token = dfreq.token, n)
       SELECT doc_id, token, tfidf FROM s WHERE rn <= 5""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document with exact document frequencies."""
    return TX.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


@q(
    "q_entropy_profile",
    """WITH ch AS (
         SELECT doc_id, len(lower(text)) AS n,
                substring(lower(text), CAST(i + 1 AS INT), 1) AS c
         FROM documents, UNNEST(range(0, len(lower(text)))) AS r(i)),
       cnt AS (SELECT doc_id, n, c, COUNT(*) AS k
               FROM ch GROUP BY 1, 2, 3),
       lst AS (SELECT doc_id, n,
                 list((k / CAST(n AS DOUBLE)) * ln(k / CAST(n AS DOUBLE))
                      ORDER BY c) AS terms,
                 COUNT(*) AS ndis
               FROM cnt GROUP BY doc_id, n)
       SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
              ROUND(-list_reduce(list_prepend(0.0, terms),
                                 (acc, x) -> acc + x), 6) AS entropy,
              CAST(ndis AS BIGINT) AS n_distinct_chars
       FROM lst""",
)
def q_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy + distinct-char count —
    the compression-proxy quality tail filter
    (operators/text.char_entropy_profile; r9 in-row rewrite, 29x at
    sf1 — see the operator docstring for the measurement).  The oracle
    folds the per-char terms in SORTED char order (list ORDER BY c +
    left fold), the exact accumulation order of the kernel's
    array_sort + aggregate — bit-identical doubles before the 6dp
    round."""
    return TX.char_entropy_profile(load_table(spark, sf_dir, "documents"))


@q(
    "q_hash_tf",
    f"""WITH tok AS (SELECT doc_id, UNNEST({TOKS}) AS t FROM documents)
       SELECT doc_id,
              ('0x' || substring(md5(t), 1, 8))::BIGINT % 64 AS bucket,
              CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2""",
)
def q_hash_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term frequencies (vocabulary-free fixed-width text
    features, portable md5-prefix hash so signatures reproduce across
    engines/runs — operators/text.hash_tf)."""
    return TX.hash_tf(load_table(spark, sf_dir, "documents"), n_features=64)


@q(
    "q_doc_repetition",
    f"""WITH tf AS (
         SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c FROM (
           SELECT doc_id, unnest({TOKS}) AS tok FROM documents) t
         GROUP BY doc_id, tok),
       uni AS (
         SELECT doc_id, SUM(c) AS n, COUNT(*) AS ndis,
                SUM(length(tok) * c) / SUM(c) AS mwl,
                MAX(c) AS topc,
                ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) AS ent
         FROM tf GROUP BY doc_id),
       bgt AS (
         SELECT doc_id, bg, CAST(COUNT(*) AS DOUBLE) AS c FROM (
           SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
           FROM (SELECT doc_id, {TOKS} AS toks FROM documents) d,
                UNNEST(range(1, len(toks))) AS t(i)
           WHERE len(toks) >= 2) x
         GROUP BY doc_id, bg),
       bg AS (SELECT doc_id, MAX(c) AS topbg, SUM(c) AS nbg FROM bgt GROUP BY doc_id)
       SELECT uni.doc_id, CAST(n AS BIGINT) AS n_tokens,
              ROUND(mwl, 6) AS mean_word_len,
              ROUND(1.0 - ndis / n, 6) AS dup_token_frac,
              ROUND(topc / n, 6) AS top_token_frac,
              ROUND(topbg / nbg, 6) AS top_bigram_frac,
              ROUND(ent, 6) AS token_entropy
       FROM uni LEFT JOIN bg ON uni.doc_id = bg.doc_id""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document (X4 family):
    mean token length, duplicate-token fraction, top token/bigram
    fractions, token entropy."""
    return TX.repetition_metrics(load_table(spark, sf_dir, "documents"))


@q(
    "q_split_assign",
    """SELECT doc_id, lang,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id, lang,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
             FROM documents) t""",
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test split (80/10/10):
    stable across runs, partitionings, and engines — the property that
    keeps eval sets uncontaminated as the corpus grows
    (operators/sampling.py)."""
    from ..operators.sampling import split_assign

    docs = load_table(spark, sf_dir, "documents")
    return split_assign(docs).select("doc_id", "lang", "split")


@q(
    "q_sample_profile",
    """WITH s AS (
         SELECT * FROM documents
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10)
       SELECT lang, COUNT(*) AS n_docs,
              ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
       FROM s GROUP BY lang""",
)
def q_sample_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic hash sample, profiled per language — the
    map-side-only sampling shape (no shuffle, no RNG state) that stays
    reproducible on a 1000-executor cluster."""
    from ..operators.sampling import deterministic_sample

    docs = deterministic_sample(load_table(spark, sf_dir, "documents"), rate_pct=10)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


@q(
    "q_group_quantiles",
    """SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
         ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         ROUND(quantile_cont(l_discount, 0.5), 4) AS p50_discount
       FROM lineitem GROUP BY l_returnflag""",
)
def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (the exact companion to the
    sketch-based q_approx_stats): Spark `percentile` and DuckDB
    `quantile_cont` both use linear interpolation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_discount, 0.5)"), 4).alias("p50_discount"),
    )


# ------------------------------------------------------- approx/multimodal


# The replay IS value-oracle-checkable (r4): with the testdata's single
# events file and a fresh checkpoint, availableNow + maxFilesPerTrigger=1
# is exactly ONE micro-batch, so every per-symbol buffer sees its full
# (time, event_id)-sorted history in one stateful call and the emitted
# values equal the batch full-history indicators under the 26-row warmup
# gate.  (symbol, time) is unique in the testdata at every SF, so the
# sink's first-writer-wins dedup is a no-op.  The SQL below reuses the
# proven fragments verbatim: q_sma/q_bbands window shapes, q_ema/q_rsi
# recursive CTE recurrences, q_warmup_gate's gate.  If testdata ever
# ships multiple event files per sf dir, batch boundaries would split
# and this oracle must be retired back to rows-only.
_KW = "PARTITION BY symbol ORDER BY time, event_id"
_STREAM_REPLAY_ORACLE = f"""WITH RECURSIVE ticks AS (
  SELECT user_id AS symbol, ts AS time, event_id, value AS close
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
base AS (
  SELECT symbol, time, event_id, close,
    ROW_NUMBER() OVER ({_KW}) AS rn,
    close - LAG(close) OVER ({_KW}) AS delta,
    AVG(close) OVER ({_KW} ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sma10,
    AVG(close) OVER ({_KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sma20,
    CASE WHEN COUNT(close) OVER w20 >= 20 THEN AVG(close) OVER w20 END AS sma_raw,
    CASE WHEN COUNT(close) OVER w20 >= 20 THEN STDDEV_SAMP(close) OVER w20 END AS sd_raw
  FROM ticks
  WINDOW w20 AS ({_KW} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
g AS (
  SELECT symbol, rn,
    CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
    CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss,
    AVG(CASE WHEN delta IS NULL THEN NULL WHEN delta > 0 THEN delta ELSE 0.0 END)
      OVER ({_KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS seed_ag,
    AVG(CASE WHEN delta IS NULL THEN NULL WHEN delta < 0 THEN -delta ELSE 0.0 END)
      OVER ({_KW} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS seed_al
  FROM base),
r10 AS (
  SELECT symbol, rn, sma10 AS ema FROM base WHERE rn = 10
  UNION ALL
  SELECT b.symbol, b.rn, (2.0/11.0) * b.close + (1.0 - 2.0/11.0) * r.ema
  FROM base b JOIN r10 r ON b.symbol = r.symbol AND b.rn = r.rn + 1),
r20 AS (
  SELECT symbol, rn, sma20 AS ema FROM base WHERE rn = 20
  UNION ALL
  SELECT b.symbol, b.rn, (2.0/21.0) * b.close + (1.0 - 2.0/21.0) * r.ema
  FROM base b JOIN r20 r ON b.symbol = r.symbol AND b.rn = r.rn + 1),
rec AS (
  SELECT symbol, rn, seed_ag AS ag, seed_al AS al FROM g WHERE rn = 15
  UNION ALL
  SELECT x.symbol, x.rn,
    (1.0/14.0) * x.gain + (1.0 - 1.0/14.0) * r.ag,
    (1.0/14.0) * x.loss + (1.0 - 1.0/14.0) * r.al
  FROM g x JOIN rec r ON x.symbol = r.symbol AND x.rn = r.rn + 1)
SELECT b.symbol, b.time, b.event_id, b.close,
  ROUND(b.sma_raw, 4) AS sma_20,
  ROUND(a.ema, 4) AS ema_10,
  ROUND(c.ema, 4) AS ema_20,
  CASE WHEN r.ag + r.al > 0 THEN ROUND(100.0 * r.ag / (r.ag + r.al), 4) END AS rsi_14,
  ROUND(b.sma_raw + 2.0 * b.sd_raw, 4) AS bb_upper,
  ROUND(b.sma_raw - 2.0 * b.sd_raw, 4) AS bb_lower
FROM base b
LEFT JOIN r10 a ON b.symbol = a.symbol AND b.rn = a.rn
LEFT JOIN r20 c ON b.symbol = c.symbol AND b.rn = c.rn
LEFT JOIN rec r ON b.symbol = r.symbol AND b.rn = r.rn
WHERE b.rn >= 26 AND b.sma_raw IS NOT NULL"""


@q("q_stream_replay", _STREAM_REPLAY_ORACLE)
def q_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Structured Streaming pipeline (SURVEY.md T1-T7) run as an
    availableNow replay: file micro-batches -> applyInPandasWithState
    (bounded 60-row keyed buffers) -> warmup-gated indicator rows ->
    idempotent upsert-ignore sink.  Carries a FULL value-hash oracle as
    of r4 (see _STREAM_REPLAY_ORACLE's derivation note); batch-parity is
    additionally covered by tests/test_streaming.py.

    Production shape: the SINK outlives the query — rows land in a
    parquet path and the result is read back lazily, nothing is
    materialized on the driver.  Only the checkpoint is temp-scoped
    (this is a one-shot availableNow replay; a restartable deployment
    keeps the checkpoint alongside the sink, as tests/test_streaming.py's
    restart case exercises).  Sinks live under ONE process-scoped root
    that is removed atexit — repeated invocations (bench best-of-3,
    repeated rounds) no longer leak parquet directories (ADVICE r3)."""
    import tempfile

    from ..streaming.pipeline import run_replay_pipeline

    sink = os.path.join(_sink_root(), f"replay_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_q_") as ckpt:
        return run_replay_pipeline(spark, sf_dir, ckpt, sink_path=sink)


_SINK_ROOT: list[str] = []
_SINK_SEQ = itertools.count()


def _sink_root() -> str:
    """Process-lifetime temp root for streaming sinks: outlives each
    lazily-read result DataFrame, removed at interpreter exit."""
    if not _SINK_ROOT:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="sink_q_stream_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SINK_ROOT.append(root)
    return _SINK_ROOT[0]


# Sketch values themselves are engine-specific (HLL++ / KLL internals),
# so the contract emits the EXACT statistics as value columns plus
# sketch-within-tolerance BOOLEANS (the sketches are deterministic for a
# given engine+data, so the booleans are stable for the driver): the
# oracle reproduces the exact columns and asserts the booleans TRUE.
# Replaces the r3 `err: no_oracle` rows-only contract (VERDICT r3 #3).
# Tolerances: HLL++ rsd defaults to 0.05 -> 10% bound (2x rsd);
# percentile_approx at accuracy 10000 has rank error <= n/10000 -> 1%
# value bound on this distribution.
@q(
    "q_approx_stats",
    """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
         ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
         ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
         TRUE AS parts_sketch_ok, TRUE AS orders_sketch_ok,
         TRUE AS p50_sketch_ok, TRUE AS p95_sketch_ok
       FROM lineitem""",
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    within = lambda approx, exact, tol: (  # noqa: E731
        F.abs(approx.cast("double") - exact.cast("double")) <= tol * exact.cast("double")
    )
    # Two aggregates over the same scan, NOT one: mixing multi-column
    # exact count_distinct (Expand-planned — every input row replicated
    # per distinct column) with percentile/HLL buffers in a single agg
    # drags the wide sketch state through the expanded data — the same
    # pathology fixed on q_table_stats in r4 (238 s -> 3 s there;
    # 8.7 s -> ~1 s here at sf0.1).  Exact NDVs aggregate alone;
    # sketches aggregate alone; the 1-row results broadcast-cross-join.
    exact = li.agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    # Exact percentiles WITHOUT the single-reducer merge (r14, r13
    # VERDICT #2): Spark's `percentile` aggregate ships a value->count
    # OpenHashMap of the whole column to ONE reducer (measured sf0.1:
    # 2.6 s single-task stage, 10.7 MB state — and that state is O(NDV),
    # catastrophic at 100 TB).  Replaced by sketch-guided exact
    # selection: the GK sketch (already computed for the _p50/_p95
    # booleans, rank error <= n/10000) brackets each target rank from
    # the same pass at +-3e-4 quantile margin (3x the sketch's bound);
    # a second distributed pass counts rows strictly below the bracket
    # and collects ONLY the in-bracket values (<= ~8e-4*n rows by the
    # sketch guarantee); the exact value at ranks floor/ceil(q*(n-1))
    # is then an element_at into the sorted bracket, interpolated with
    # Percentile's own formula `(hi-pos)*v_lo + (pos-lo)*v_hi`
    # (bit-equality with the old aggregate pinned by
    # test_approx_stats_percentile_twin...).  Below max(100k, accuracy)
    # rows the bracket is simply (min, max) — the whole column, still
    # one small array.  Under ANSI a violated bracket raises on
    # element_at rather than returning a wrong value; the margin
    # analysis says it cannot happen (lo rank <= (q - 2/acc)*n <
    # floor(q*(n-1)) once n > acc).  The bracket holds <= ~8n/acc rows,
    # so at 100 TB (n ~ 6e11) the BRACKET sketch's accuracy must rise
    # with n to keep it collectable: SPARK_GRAFT_PCTL_ACCURACY (default
    # 10000 — identical local plan and bench) trades per-task sketch
    # state (O(acc)) against bracket rows (O(n/acc)); acc ~ sqrt(n) is
    # the balance point, ~1e6 at 100 TB -> ~5e5-row bracket.  The
    # _p50/_p95 BOOLEAN sketches stay at the contract's fixed 10000.
    acc = int(os.environ.get("SPARK_GRAFT_PCTL_ACCURACY", "10000"))
    m = 3.0 / acc
    s = li.agg(
        F.count("l_extendedprice").alias("_n"),
        F.min("l_extendedprice").alias("_mn"),
        F.max("l_extendedprice").alias("_mx"),
        F.approx_count_distinct("l_partkey").alias("_ap"),
        F.approx_count_distinct("l_orderkey").alias("_ao"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("_p95"),
        F.percentile_approx(
            "l_extendedprice",
            F.array(
                F.lit(max(0.5 - m, 0.0)), F.lit(min(0.5 + m, 1.0)),
                F.lit(max(0.95 - m, 0.0)), F.lit(min(0.95 + m, 1.0)),
            ),
            F.lit(acc),
        ).alias("_br"),
    )
    small = F.col("_n") <= F.lit(max(100_000, acc))
    sb = s.select(
        "*",
        F.when(small, F.col("_mn")).otherwise(F.col("_br")[0]).alias("_lo50"),
        F.when(small, F.col("_mx")).otherwise(F.col("_br")[1]).alias("_hi50"),
        F.when(small, F.col("_mn")).otherwise(F.col("_br")[2]).alias("_lo95"),
        F.when(small, F.col("_mx")).otherwise(F.col("_br")[3]).alias("_hi95"),
    )
    x = F.col("l_extendedprice")
    w = (
        li.select(x.alias("_x"))
        .crossJoin(F.broadcast(sb.select("_lo50", "_hi50", "_lo95", "_hi95")))
        .agg(
            F.sum(F.when(F.col("_x") < F.col("_lo50"), 1).otherwise(0))
            .cast("long")
            .alias("_c50"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_x").between(F.col("_lo50"), F.col("_hi50")),
                        F.col("_x"),
                    )
                )
            ).alias("_w50"),
            F.sum(F.when(F.col("_x") < F.col("_lo95"), 1).otherwise(0))
            .cast("long")
            .alias("_c95"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_x").between(F.col("_lo95"), F.col("_hi95")),
                        F.col("_x"),
                    )
                )
            ).alias("_w95"),
        )
    )

    def exact_pct(rf: float, c_lo, warr) -> F.Column:
        pos = F.lit(rf) * (F.col("_n") - F.lit(1)).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        vl = F.element_at(warr, (lo - c_lo + F.lit(1)).cast("int"))
        vh = F.element_at(warr, (hi - c_lo + F.lit(1)).cast("int"))
        v = F.when(hi == lo, vl).otherwise(
            (hi.cast("double") - pos) * vl + (pos - lo.cast("double")) * vh
        )
        return F.when(F.col("_n") == 0, F.lit(None).cast("double")).otherwise(v)

    agg = w.crossJoin(F.broadcast(sb)).crossJoin(F.broadcast(exact)).select(
        "*",
        F.round(exact_pct(0.5, F.col("_c50"), F.col("_w50")), 4).alias("p50_price"),
        F.round(exact_pct(0.95, F.col("_c95"), F.col("_w95")), 4).alias("p95_price"),
    )
    return agg.select(
        "exact_parts", "exact_orders", "p50_price", "p95_price",
        within(F.col("_ap"), F.col("exact_parts"), 0.10).alias("parts_sketch_ok"),
        within(F.col("_ao"), F.col("exact_orders"), 0.10).alias("orders_sketch_ok"),
        within(F.col("_p50"), F.col("p50_price"), 0.01).alias("p50_sketch_ok"),
        within(F.col("_p95"), F.col("p95_price"), 0.01).alias("p95_sketch_ok"),
    )


@q(
    "q_multimodal_meta",
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         sha256(text) AS sha_hex
       FROM documents""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass: payload byte length + content hash —
    the pruned-scan pattern from operators/multimodal.py."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs)
    return media.select(
        F.col("media_id").alias("doc_id"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha_hex"),
    )


@q(
    "q_media_frames",
    """WITH b AS (SELECT doc_id, hex(encode(text)) AS payhex,
                octet_length(encode(text)) AS n_bytes FROM documents),
       f AS (
         SELECT doc_id, CAST(i AS INT) AS frame_idx,
                substring(payhex, CAST(i AS INT) * 128 + 1, 128) AS frame_hex
         FROM b, UNNEST(range(0, n_bytes // 64, 4)) AS t(i))
       SELECT doc_id AS media_id, frame_idx, frame_hex FROM f""",
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads (every 4th 64-byte
    frame), hex-encoded per frame (DuckDB cannot slice BLOBs, so the
    oracle slices the hex string — 2 chars/byte) — exercises the
    one-row-to-many-frames mapInPandas fan-out against a pure-SQL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    media = M.documents_as_media(docs)
    frames = M.frame_sample(media, every_n=4, frame_bytes=64)
    return frames.select(
        "media_id", "frame_idx", F.hex(F.col("frame")).alias("frame_hex")
    )


@q(
    "q_media_features",
    """WITH chars AS (
         SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                unnest(list_transform(range(1, length(text) + 1),
                                      i -> ascii(substring(text, CAST(i AS INT), 1)) % 8)) AS b
         FROM documents),
       h AS (SELECT doc_id, n_bytes, b, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3)
       SELECT doc_id AS media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
              CAST(b AS INT) AS feat_idx, CAST(c AS BIGINT) AS bucket_count
       FROM h""",
)
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the mapInPandas decode path
    (operators/multimodal.decode_media, fake codec = byte-bucket
    histogram): features come back as float32 fractions; multiplying by
    n_bytes and rounding recovers the exact integer bucket counts, which
    the oracle recomputes character-wise (payload is utf-8 of ascii text,
    so bytes == chars).  Zero-count buckets are dropped on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.decode_media(M.documents_as_media(docs))
    return (
        feats.select(
            "media_id",
            "n_bytes",
            F.posexplode("feat").alias("feat_idx", "frac"),
        )
        .withColumn(
            "bucket_count",
            F.round(F.col("frac").cast("double") * F.col("n_bytes")).cast("long"),
        )
        .filter(F.col("bucket_count") > 0)
        .drop("frac")
    )


@q(
    "q_corpus_pipeline",
    f"""WITH m AS (
         SELECT doc_id, text, lang, source,
           CAST(len({TOKS}) AS DOUBLE) AS n_tok,
           CAST(len(list_distinct({TOKS})) AS DOUBLE) AS n_dis,
           CAST(len(list_filter({TOKS},
                t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop
         FROM documents),
       scored AS (
         SELECT doc_id, text, lang, source, CAST(n_tok AS BIGINT) AS n_tokens,
           ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
               + 0.3 * (n_dis / NULLIF(n_tok, 0.0))
               + 0.3 * LEAST(n_stop / NULLIF(0.1 * n_tok, 0.0), 1.0), 6) AS quality
         FROM m),
       kept AS (SELECT * FROM scored WHERE quality >= 0.5),
       uniq AS (
         SELECT doc_id, text, lang, source, n_tokens, quality FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM kept) t WHERE rn = 1),
       tok AS (SELECT doc_id, {TOKS} AS toks FROM uniq),
       sh AS (
         SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         FROM tok, UNNEST(range(1, len(toks) - 1)) AS t(i)
         WHERE len(toks) >= 3),
       {_banded_pair_ctes(threshold=0.8)},
       losers AS (SELECT DISTINCT doc_b FROM vpairs)
       SELECT doc_id, lang, source, n_tokens, quality
       FROM uniq WHERE doc_id NOT IN (SELECT doc_b FROM losers)""",
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: quality filter -> exact dedup ->
    near-dup removal, as ONE lazy plan (operators/curation.py).  The
    near-dup stage rides the BOUNDED banded-verified pair source (r8
    VERDICT #2); the oracle reproduces both phases over the survivor
    set bit-for-bit (_banded_pair_ctes)."""
    from ..operators.curation import curate_corpus

    return curate_corpus(load_table(spark, sf_dir, "documents"))


@q(
    "q_histogram",
    """SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
         CAST(FLOOR(value / 25.0) AS BIGINT) * 25.0 AS bin_lo,
         COUNT(*) AS n,
         ROUND(AVG(value), 4) AS avg_value
       FROM events WHERE value IS NOT NULL
       GROUP BY 1, 2""",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (X6 profiling family) — pure map-side
    binning + one hash aggregation; bins are closed-form (no sort, no
    per-bin state), the scale shape for profiling a 100 TB column."""
    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    bin_ = F.floor(F.col("value") / F.lit(25.0)).cast("long")
    return ev.groupBy(
        bin_.alias("bin"), (bin_ * F.lit(25.0)).alias("bin_lo")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@q(
    "q_null_profile",
    """SELECT COUNT(*) AS n_rows,
         COUNT(value) AS n_value,
         COUNT(props) AS n_props,
         COUNT(*) - COUNT(value) AS null_value,
         COUNT(DISTINCT user_id) AS n_users,
         COUNT(DISTINCT event_type) AS n_types
       FROM events""",
)
def q_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column completeness/cardinality profile (X6 family): one pass,
    all-partial-aggregatable counts (exact distincts expand to one
    extra exchange each; swap for approx_count_distinct at 100 TB)."""
    ev = load_events(spark, sf_dir)
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value"),
        F.count("props").alias("n_props"),
        (F.count(F.lit(1)) - F.count("value")).alias("null_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
    )


@q(
    "q_decontaminate",
    f"""WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    shn AS (SELECT DISTINCT doc_id, list_aggregate(toks[i:i+4], 'string_agg', ' ') AS shingle
            FROM tok, UNNEST(range(1, len(toks) - 3)) AS t(i) WHERE len(toks) >= 5),
    ev AS (SELECT DISTINCT shingle, s.doc_id FROM shn s JOIN documents d USING (doc_id)
           WHERE d.source = 'src0'),
    tr AS (SELECT s.doc_id, s.shingle FROM shn s JOIN documents d USING (doc_id)
           WHERE d.source <> 'src0')
    SELECT tr.doc_id, COUNT(DISTINCT tr.shingle) AS n_shared,
           COUNT(DISTINCT ev.doc_id) AS n_eval_docs
    FROM tr JOIN ev USING (shingle) GROUP BY tr.doc_id""",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (source != src0) sharing any
    word 5-gram with the eval split (source = src0); broadcast eval side."""
    docs = load_table(spark, sf_dir, "documents")
    return D.contamination(docs, F.col("source") == "src0", n=5)


@q(
    "q_dedup_clusters",
    f"""WITH RECURSIVE {_SHINGLE_CTES},
    {_banded_pair_ctes(threshold=0.5)},
    edges AS MATERIALIZED (
      SELECT doc_a AS a, doc_b AS b FROM vpairs
      UNION SELECT doc_b, doc_a FROM vpairs),
    reach(v, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r)
    SELECT v AS doc_id, MIN(r) AS cluster_id, (MIN(r) = v) AS is_canonical
    FROM reach GROUP BY v""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components dedup clustering over the near-dup graph —
    since r9 riding dedup_clusters' BOUNDED default edge source (banded
    candidates + exact Jaccard>=0.5 verify, r8 VERDICT #2); oracle is
    the recursive-CTE transitive closure over the same banded pair
    build (edges MATERIALIZED so the recursion never re-runs the
    signature chain — the q_trix precedent, PLANS.md §43)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, n=3, threshold=0.5)


@q(
    "q_kmeans_step",
    f"""WITH cent AS (
         SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
       asn AS (
         SELECT vec_id, cell FROM (
           SELECT e.vec_id, c.cell,
                  ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_DOT.format(a='e.embedding', b='c.cv')} DESC, c.cell
                  ) AS rn
           FROM embeddings e CROSS JOIN cent c) t
         WHERE rn = 1),
       lng AS (
         SELECT CAST(a.cell AS INT) AS cell, CAST(i - 1 AS INT) AS dim,
                e.embedding[CAST(i AS INT)] AS val
         FROM embeddings e JOIN asn a USING (vec_id),
              UNNEST(range(1, len(e.embedding) + 1)) AS t(i))
       SELECT cell, dim, ROUND(AVG(val), 6) AS centroid_val,
              COUNT(*) AS n_members
       FROM lng GROUP BY cell, dim""",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the embeddings (deterministic vec_id<16
    seed centroids): map-side argmax assign + long-form mean recompute."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_step(emb, n_cells=16)


@q(
    "q_text_normalize",
    """WITH n AS (
         SELECT doc_id,
                trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                  ' +', ' ', 'g')) AS norm_text
         FROM documents)
       SELECT doc_id, norm_text, md5(norm_text) AS norm_hash,
              CAST(length(norm_text) AS INT) AS n_norm_chars,
              list_aggregate(
                list_filter(string_split(norm_text, ' '),
                  x -> NOT list_contains(['the','a','of','and','to','in','is'], x)),
                'string_agg', ' ') AS content_text
       FROM n""",
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization + md5 dedup key + stopword-stripped
    content variant."""
    return TX.normalize_text(load_table(spark, sf_dir, "documents"))


@q(
    "q_gram_matrix",
    """WITH lng AS (
         SELECT vec_id, CAST(i - 1 AS INT) AS i,
                CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i))
       SELECT a.i AS i, b.i AS j, ROUND(SUM(a.x * b.x), 6) AS g, COUNT(*) AS n
       FROM lng a JOIN lng b USING (vec_id)
       WHERE b.i >= a.i
       GROUP BY a.i, b.i""",
)
def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding gram matrix X^T X (upper triangle, coordinate form):
    per-row outer products partial-aggregated to d^2 keys, no self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.gram_matrix(emb)


def _lpa_sql(iters: int = 5) -> str:
    """Unrolled-iteration twin of operators/graph.label_propagation over
    the exact near-dup pair graph (MATERIALIZED per the q_pagerank
    lesson: stop exponential CTE re-inlining)."""
    base = f"""{_SHINGLE_CTES},
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
       pairs AS (SELECT doc_a, doc_b FROM p
                 JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
                 WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
       edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
                              UNION ALL SELECT doc_b, doc_a FROM pairs),
       l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges)"""
    for i in range(1, iters + 1):
        base += f""",
       l{i} AS MATERIALIZED (
         SELECT node, label FROM (
           SELECT e.u AS node, pl.label,
                  ROW_NUMBER() OVER (PARTITION BY e.u
                                     ORDER BY COUNT(*) DESC, pl.label) AS rn
           FROM edges e JOIN l{i - 1} pl ON e.v = pl.node
           GROUP BY e.u, pl.label) t
         WHERE rn = 1)"""
    return f"WITH {base}\nSELECT node, label AS community FROM l{iters}"


@q("q_communities", _lpa_sql(), tier="measurement")
def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the exact near-dup graph via deterministic
    synchronous label propagation (min-label tie-break, fixed 5
    iterations — operators/graph.label_propagation)."""
    from ..operators.graph import label_propagation

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    return label_propagation(pairs)


@q(
    "q_table_stats",
    """WITH s AS (
         SELECT COUNT(*) AS n,
                COUNT(l_orderkey) AS nn_ok, COUNT(DISTINCT l_orderkey) AS ndv_ok,
                ROUND(CAST(MIN(l_orderkey) AS DOUBLE), 4) AS mn_ok,
                ROUND(CAST(MAX(l_orderkey) AS DOUBLE), 4) AS mx_ok,
                COUNT(l_partkey) AS nn_pk, COUNT(DISTINCT l_partkey) AS ndv_pk,
                ROUND(CAST(MIN(l_partkey) AS DOUBLE), 4) AS mn_pk,
                ROUND(CAST(MAX(l_partkey) AS DOUBLE), 4) AS mx_pk,
                COUNT(l_quantity) AS nn_q, COUNT(DISTINCT l_quantity) AS ndv_q,
                ROUND(CAST(MIN(l_quantity) AS DOUBLE), 4) AS mn_q,
                ROUND(CAST(MAX(l_quantity) AS DOUBLE), 4) AS mx_q,
                COUNT(l_extendedprice) AS nn_ep,
                COUNT(DISTINCT l_extendedprice) AS ndv_ep,
                ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 4) AS mn_ep,
                ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 4) AS mx_ep
         FROM lineitem)
       SELECT * FROM (
         SELECT 'l_orderkey' AS column, CAST(n AS BIGINT) AS n_rows,
                CAST(n - nn_ok AS BIGINT) AS n_nulls, CAST(ndv_ok AS BIGINT) AS ndv,
                TRUE AS ndv_sketch_ok, mn_ok AS min_v, mx_ok AS max_v FROM s
         UNION ALL
         SELECT 'l_partkey', CAST(n AS BIGINT), CAST(n - nn_pk AS BIGINT),
                CAST(ndv_pk AS BIGINT), TRUE, mn_pk, mx_pk FROM s
         UNION ALL
         SELECT 'l_quantity', CAST(n AS BIGINT), CAST(n - nn_q AS BIGINT),
                CAST(ndv_q AS BIGINT), TRUE, mn_q, mx_q FROM s
         UNION ALL
         SELECT 'l_extendedprice', CAST(n AS BIGINT), CAST(n - nn_ep AS BIGINT),
                CAST(ndv_ep AS BIGINT), TRUE, mn_ep, mx_ep FROM s) u""",
)
def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style catalog statistics for lineitem (one pass: nulls,
    exact NDV + HLL-agreement flag, numeric min/max — the CBO inputs;
    operators/transforms.table_stats).  The oracle checks the exact
    columns; the sketch flag asserts the deployed approx path agrees
    within 5%."""
    from ..operators.transforms import table_stats

    li = load_table(spark, sf_dir, "lineitem")
    return table_stats(
        li, ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"]
    )


@q(
    "q_media_wav",
    """WITH pad AS (SELECT doc_id, rpad(coalesce(text, ''), 256, ' ') AS t
                  FROM documents),
       s AS (SELECT doc_id, i,
                    (ascii(substring(t, CAST(i + 1 AS INT), 1)) - 128.0) / 128.0 AS v,
                    i // 64 AS w
             FROM pad, UNNEST(range(0, 256)) AS r(i)),
       rms AS (SELECT doc_id, w, ROUND(sqrt(AVG(v * v)), 6) AS val
               FROM s GROUP BY 1, 2),
       zcr AS (SELECT a.doc_id, a.w,
                      ROUND(AVG(ABS((CASE WHEN a.v < 0 THEN 1 ELSE 0 END)
                                    - (CASE WHEN b.v < 0 THEN 1 ELSE 0 END))), 6) AS val
               FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1
                                AND a.w = b.w
               GROUP BY 1, 2)
       SELECT media_id, CAST(feat_idx AS INT) AS feat_idx, val FROM (
         SELECT doc_id AS media_id, w AS feat_idx, val FROM rms
         UNION ALL SELECT doc_id, w + 4, val FROM zcr) u""",
)
def q_media_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCM audio features through the REAL wav codec: documents wrapped
    as valid RIFF/WAVE 8-bit mono payloads -> stdlib wave parse ->
    per-window RMS + zero-crossing rate (operators/multimodal.
    wav_feature_table).  The oracle recomputes both from the character
    stream ((ascii-128)/128 IS the sample), pinning header parse,
    unsigned offset, scaling, and window split byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.wav_feature_table(M.documents_as_wav(docs))
    return feats.select(
        "media_id", F.posexplode("feat").alias("feat_idx", "val")
    ).withColumn("val", F.round("val", 6))


@q(
    "q_psi_drift",
    """WITH a AS (SELECT event_type, CAST(value AS DOUBLE) AS v
                FROM events WHERE event_id % 2 = 0),
       b AS (SELECT event_type, CAST(value AS DOUBLE) AS v
             FROM events WHERE event_id % 2 = 1),
       rng AS (SELECT event_type, MIN(v) AS mn, MAX(v) AS mx
               FROM a GROUP BY event_type),
       ab AS (SELECT a.event_type,
                     CASE WHEN mx <= mn THEN 0
                          ELSE LEAST(9, GREATEST(0,
                               CAST(FLOOR((v - mn) / (mx - mn) * 10) AS INT)))
                     END AS bucket, COUNT(*) AS n_a
              FROM a JOIN rng USING (event_type) GROUP BY 1, 2),
       bb AS (SELECT b.event_type,
                     CASE WHEN mx <= mn THEN 0
                          ELSE LEAST(9, GREATEST(0,
                               CAST(FLOOR((v - mn) / (mx - mn) * 10) AS INT)))
                     END AS bucket, COUNT(*) AS n_b
              FROM b JOIN rng USING (event_type) GROUP BY 1, 2),
       ta AS (SELECT event_type, CAST(SUM(n_a) AS DOUBLE) AS t FROM ab GROUP BY 1),
       tb AS (SELECT event_type, CAST(SUM(n_b) AS DOUBLE) AS t FROM bb GROUP BY 1),
       j AS (SELECT COALESCE(ab.event_type, bb.event_type) AS event_type,
                    COALESCE(ab.bucket, bb.bucket) AS bucket,
                    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             FROM ab FULL JOIN bb
               ON ab.event_type = bb.event_type AND ab.bucket = bb.bucket)
       SELECT j.event_type,
              ROUND(SUM((n_a / ta.t + 1e-06 - (n_b / tb.t + 1e-06))
                        * ln((n_a / ta.t + 1e-06) / (n_b / tb.t + 1e-06))), 6) AS psi
       FROM j JOIN ta ON j.event_type = ta.event_type
       JOIN tb ON j.event_type = tb.event_type
       GROUP BY j.event_type""",
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of `value` per event_type between the
    even- and odd-id event populations — the feature-drift monitor
    (operators/transforms.psi_drift: two narrow scans, combiner-reduced
    bucket counts, broadcast range/total tables)."""
    from ..operators.transforms import psi_drift

    ev = load_events(spark, sf_dir)
    return psi_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        "event_type",
    )


@q(
    "q_bigram_next",
    f"""WITH tok AS (SELECT doc_id, {TOKS} AS toks FROM documents),
       pr AS (SELECT toks[i] AS a, toks[i+1] AS b
              FROM tok, UNNEST(range(1, len(toks))) AS t(i)
              WHERE len(toks) >= 2),
       cnt AS (SELECT a, b, COUNT(*) AS cnt FROM pr GROUP BY a, b),
       tot AS (SELECT a, SUM(cnt) AS n FROM cnt GROUP BY a),
       r AS (SELECT c.a, c.b, c.cnt, c.cnt / CAST(t.n AS DOUBLE) AS p,
                    ROW_NUMBER() OVER (PARTITION BY c.a
                                       ORDER BY c.cnt DESC, c.b) AS rn
             FROM cnt c JOIN tot t USING (a))
       SELECT a AS token, b AS next_token, CAST(cnt AS BIGINT) AS cnt,
              ROUND(p, 6) AS cond_p
       FROM r WHERE rn = 1""",
)
def q_bigram_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM estimation: most likely continuation + conditional
    probability per token (operators/text.bigram_next — in-row pair
    arrays, no positional self-join; vocabulary-sized aggregation
    state)."""
    return TX.bigram_next(load_table(spark, sf_dir, "documents"))


#: SQL twin of media_dhash over documents_as_pgm payloads (shared by the
#: signature and pair queries): the character grid IS the pixel grid.
_DHASH_CTES = """pad AS (SELECT doc_id, rpad(coalesce(text, ''), 288, ' ') AS t
                  FROM documents),
       px AS (SELECT doc_id, i, j,
                     ascii(substring(t, (2*i + 1)*18 + (2*j + 1) + 1, 1)) AS p
              FROM pad, UNNEST(range(0, 8)) AS r(i), UNNEST(range(0, 9)) AS c(j)),
       bits AS (SELECT a.doc_id, a.i * 8 + a.j AS k,
                       CASE WHEN a.p > b.p THEN 1 ELSE 0 END AS b
                FROM px a JOIN px b ON a.doc_id = b.doc_id AND a.i = b.i
                                   AND b.j = a.j + 1
                WHERE a.j < 8),
       hs AS (SELECT doc_id AS media_id,
              CAST(SUM(CASE WHEN k < 32
                            THEN b * (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS dh_lo,
              CAST(SUM(CASE WHEN k >= 32
                            THEN b * (1::BIGINT << (k - 32)) ELSE 0 END) AS BIGINT) AS dh_hi
       FROM bits GROUP BY doc_id)"""


@q(
    "q_media_dhash",
    f"WITH {_DHASH_CTES}\nSELECT media_id, dh_lo, dh_hi FROM hs",
)
def q_media_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash signatures through the REAL media pipeline:
    documents wrapped as valid 18x16 P5 netpbm -> parse_netpbm -> true
    NN-resize to 9x8 -> horizontal gradient sign bits (operators/
    multimodal.media_dhash).  The oracle recomputes the same bits
    arithmetically from the character grid (payload bytes == ascii
    chars), pinning the whole codec path byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    return M.media_dhash(M.documents_as_pgm(docs))


# shared banded-dhash CTE prefix (bd/bands), consumed by both the capped
# production query and its exact measurement twin
_DHASH_BANDS_CTES = f"""{_DHASH_CTES},
       bd AS (SELECT media_id,
                     dh_lo & 65535 AS k0, (dh_lo >> 16) & 65535 AS k1,
                     dh_hi & 65535 AS k2, (dh_hi >> 16) & 65535 AS k3
              FROM hs),
       bands AS (SELECT media_id, k0, k1, k2, k3, 0 AS band, k0 AS key FROM bd
                 UNION ALL SELECT media_id, k0, k1, k2, k3, 1, k1 FROM bd
                 UNION ALL SELECT media_id, k0, k1, k2, k3, 2, k2 FROM bd
                 UNION ALL SELECT media_id, k0, k1, k2, k3, 3, k3 FROM bd)"""

_DHASH_PAIRS_TAIL = """SELECT media_a, media_b,
              CAST(bit_count(xor(ka0, kb0)) + bit_count(xor(ka1, kb1))
                   + bit_count(xor(ka2, kb2)) + bit_count(xor(ka3, kb3))
                   AS INT) AS hamming
       FROM cand
       WHERE bit_count(xor(ka0, kb0)) + bit_count(xor(ka1, kb1))
             + bit_count(xor(ka2, kb2)) + bit_count(xor(ka3, kb3)) <= 3"""


@q(
    "q_media_dhash_pairs",
    f"""WITH {_DHASH_BANDS_CTES},
       sbn AS (SELECT *, GREATEST(1, CAST(CEIL(
                    (COUNT(*) OVER (PARTITION BY band, key))
                    / (SELECT 4 * CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))
                       FROM hs)) AS BIGINT)) AS nsub
               FROM bands),
       sb AS (SELECT *, {_PH_HI.format(c="CAST(media_id AS VARCHAR)")}
                % nsub AS sub
              FROM sbn),
       cand AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                       a.k0 AS ka0, a.k1 AS ka1, a.k2 AS ka2, a.k3 AS ka3,
                       b.k0 AS kb0, b.k1 AS kb1, b.k2 AS kb2, b.k3 AS kb3,
                       MIN(a.nsub) AS n_blocks
                FROM sb a JOIN sb b
                  ON a.band = b.band AND a.key = b.key AND a.sub = b.sub
                 AND a.media_id < b.media_id
                GROUP BY a.media_id, b.media_id,
                         a.k0, a.k1, a.k2, a.k3, b.k0, b.k1, b.k2, b.k3)
       SELECT media_a, media_b,
              CAST(bit_count(xor(ka0, kb0)) + bit_count(xor(ka1, kb1))
                   + bit_count(xor(ka2, kb2)) + bit_count(xor(ka3, kb3))
                   AS INT) AS hamming,
              n_blocks
       FROM cand
       WHERE bit_count(xor(ka0, kb0)) + bit_count(xor(ka1, kb1))
             + bit_count(xor(ka2, kb2)) + bit_count(xor(ka3, kb3)) <= 3""",
)
def q_media_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual hash: 4 x 16-bit banded join
    over dHash signatures + exact Hamming verify (operators/multimodal.
    media_dhash_pairs — the simhash construction on the real-codec
    image path).  r11: the default auto bucket bound m = 4*ceil(sqrt(N))
    sub-splits skew-blown band buckets by portable hash (the r11 quiet
    measurement confirmed 5.8x at 10x data, governed by ONE band key
    holding 38% of the corpus); the oracle derives the identical bound,
    and the exact/unbounded form is q_media_dhash_pairs_exact.  r12:
    the cap is audited, not silent — ``n_blocks`` = MIN matched-band
    sub-split count per pair (1 proves an unsplit-bucket match, i.e.
    exact semantics for that pair's neighborhood)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.media_dhash_pairs(M.media_dhash(M.documents_as_pgm(docs)))


@q(
    "q_media_dhash_pairs_exact",
    f"""WITH {_DHASH_BANDS_CTES},
       cand AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
                       a.k0 AS ka0, a.k1 AS ka1, a.k2 AS ka2, a.k3 AS ka3,
                       b.k0 AS kb0, b.k1 AS kb1, b.k2 AS kb2, b.k3 AS kb3
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.key = b.key
                 AND a.media_id < b.media_id)
       {_DHASH_PAIRS_TAIL}""",
    tier="measurement",
)
def q_media_dhash_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact/unbounded twin of q_media_dhash_pairs (max_bucket=None):
    the full pigeonhole guarantee (hamming <= 3 => found), kept to
    verify the capped production path's recall — its candidate space
    sum|bucket|^2 is skew-governed (measured 104x for 10x data on the
    text-as-image gate corpus), so it is a measurement query by the
    same rule as the other exact pair twins."""
    docs = load_table(spark, sf_dir, "documents")
    return M.media_dhash_pairs(
        M.media_dhash(M.documents_as_pgm(docs)), max_bucket=None
    )


@q(
    "q_media_png",
    """WITH pad AS (SELECT doc_id, rpad(coalesce(text, ''), 288, ' ') AS t
                  FROM documents),
       ch AS (SELECT doc_id,
                     LEAST(7, CAST(FLOOR(
                       ascii(substring(t, CAST(i + 1 AS INT), 1)) / 255.0 * 8)
                       AS INT)) AS b
              FROM pad, UNNEST(range(0, 288)) AS r(i)),
       cnt AS (SELECT doc_id, b, COUNT(*) AS n FROM ch GROUP BY 1, 2),
       grid AS (SELECT doc_id, CAST(gb.g AS INT) AS feat_idx
                FROM pad, UNNEST(range(0, 8)) AS gb(g))
       SELECT g.doc_id AS media_id, g.feat_idx,
              ROUND(COALESCE(n, 0) / 288.0, 6) AS val
       FROM grid g
       LEFT JOIN cnt ON cnt.doc_id = g.doc_id AND cnt.b = g.feat_idx""",
)
def q_media_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image features through the REAL stdlib PNG codec: documents
    encoded as valid baseline 18x16 greyscale PNGs (zlib IDAT, CRC'd
    chunks) -> parse_png (chunk walk + CRC verify + inflate + unfilter)
    -> 8-bucket intensity histogram (operators/multimodal.parse_png /
    png_feature_table).  The oracle recomputes the histogram from the
    character grid (pixel == ascii char, bucket == floor(c/255*8),
    exact because the bin edges are binary fractions), pinning the
    whole compressed-container decode path byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.png_feature_table(M.documents_as_png(docs))
    return feats.select(
        "media_id", F.posexplode("feat").alias("feat_idx", "val")
    ).withColumn("val", F.round("val", 6))


@q(
    "q_media_png_dhash",
    f"WITH {_DHASH_CTES}\nSELECT media_id, dh_lo, dh_hi FROM hs",
)
def q_media_png_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash through the PNG container: the same 18x16 text
    grid as q_media_dhash, but encoded as compressed PNG and decoded by
    parse_png before the shared NN-resample + gradient-bit pipeline
    (operators/multimodal.media_dhash magic-dispatch).  The oracle is
    IDENTICAL to q_media_dhash's — the format must be invisible in the
    signatures, which pins decoder correctness end-to-end: any
    unfilter/inflate bug changes the bits."""
    docs = load_table(spark, sf_dir, "documents")
    return M.media_dhash(M.documents_as_png(docs))


@q(
    "q_hard_negatives",
    f"""WITH p AS (SELECT vec_id AS probe_id, label AS plabel, embedding AS pv
                 FROM embeddings WHERE vec_id < 20),
       s AS (SELECT p.probe_id, e.vec_id AS neg_id,
                    {_DOT.format(a='e.embedding', b='p.pv')} AS sim
             FROM embeddings e, p WHERE e.label <> p.plabel),
       r AS (SELECT probe_id, neg_id, sim,
                    ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY sim DESC, neg_id) AS rn
             FROM s)
       SELECT probe_id, neg_id, ROUND(sim, 6) AS neg_sim FROM r WHERE rn <= 5""",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: top-5 most-similar
    different-label vectors per probe (batch ids < 20) —
    operators/similarity.hard_negatives (broadcast probe batch, one
    corpus scan, per-probe rank window; ANN-probe swap documented for
    corpus-x-corpus scale)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.hard_negatives(emb, n_probes=20, k=5)


@q(
    "q_weighted_sample",
    """SELECT doc_id, source, n_chars, ROUND(es_key, 6) AS es_key FROM (
         SELECT doc_id, source, n_chars,
           -ln(((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000000) + 0.5) / 1000000)
           / CAST(n_chars AS DOUBLE) AS es_key
         FROM documents) t
       ORDER BY es_key, doc_id LIMIT 100""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional sampling without replacement (Efraimidis-
    Spirakis exponential keys; operators/sampling.weighted_sample_topk
    — TakeOrderedAndProject selection, deterministic portable
    uniforms)."""
    from ..operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, k=100).select(
        "doc_id", "source", "n_chars", "es_key"
    )


@q(
    "q_ppl_tiers",
    f"""WITH tok AS (
         SELECT doc_id, unnest({TOKS}) AS token FROM documents),
       freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
       tot AS (SELECT COUNT(*) AS tot FROM tok),
       j AS (SELECT t.doc_id, -ln(f.cnt / tot.tot) AS nlp
             FROM tok t JOIN freq f USING (token), tot),
       scored AS (SELECT doc_id, ROUND(AVG(nlp), 4) AS avg_neg_logprob
                  FROM j GROUP BY doc_id),
       tiled AS (SELECT doc_id, avg_neg_logprob,
                   NTILE(3) OVER (ORDER BY avg_neg_logprob, doc_id) AS t
                 FROM scored)
       SELECT doc_id, avg_neg_logprob,
              CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
       FROM tiled""",
)
def q_ppl_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning: head/middle/tail tertiles by
    unigram-LM perplexity proxy (lowest avg negative logprob = head).
    Deterministic NTILE over (rounded score, doc_id).  Exact global
    tiling needs a total order — the 100 TB path swaps NTILE for
    percentile cutpoints (computed once, bucketing map-side); kept
    exact here for the oracle."""
    from pyspark.sql import Window

    scored = TX.unigram_logprob(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "avg_neg_logprob"
    )
    w = Window.orderBy(F.col("avg_neg_logprob").asc(), F.col("doc_id").asc())
    t = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "avg_neg_logprob",
        F.when(t == 1, "head").when(t == 2, "middle").otherwise("tail").alias("tier"),
    )


@q(
    "q_triangles",
    f"""WITH {_SHINGLE_CTES},
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
       pairs AS (SELECT doc_a, doc_b FROM p
                 JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
                 WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
       deg AS (SELECT node, COUNT(*) AS d FROM (
                 SELECT doc_a AS node FROM pairs
                 UNION ALL SELECT doc_b FROM pairs) u GROUP BY node),
       heavy AS (SELECT node, d FROM deg WHERE d > 64),
       kept AS (SELECT doc_a, doc_b FROM pairs
                WHERE doc_a NOT IN (SELECT node FROM heavy)
                  AND doc_b NOT IN (SELECT node FROM heavy)),
       tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
               FROM kept e1 JOIN kept e2 ON e1.doc_b = e2.doc_a
               JOIN kept e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
       m AS (SELECT x AS node FROM tri UNION ALL
             SELECT y FROM tri UNION ALL SELECT z FROM tri)
       SELECT node, COUNT(*) AS n_triangles,
              CAST(0 AS BIGINT) AS wedges_dropped
       FROM m GROUP BY node
       UNION ALL
       SELECT node, CAST(0 AS BIGINT) AS n_triangles,
              CAST(d * (d - 1) // 2 AS BIGINT) AS wedges_dropped
       FROM heavy""",
    tier="measurement",
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle counts in the exact near-dup graph
    (mutually-similar triples — the tight-cluster signal CC's star
    labels can't see): canonical low-id orientation, single-enumeration
    wedge close, super-nodes (degree > 64) cut before the wedge join
    and surfaced via the wedges_dropped audit column
    (operators/graph.triangle_counts)."""
    from ..operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    return triangle_counts(pairs, max_degree=64)


@q(
    "q_bm25",
    f"""WITH dl AS (SELECT doc_id, len({TOKS}) AS len FROM documents),
       stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                        AVG(CAST(len AS DOUBLE)) AS avgdl FROM dl),
       tok AS (SELECT doc_id, UNNEST({TOKS}) AS term FROM documents),
       tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
              WHERE term IN ('hash', 'join', 'scan', 'table') GROUP BY 1, 2),
       dfq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
       sc AS (SELECT t.doc_id,
                LN((n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE) + 1.0::DOUBLE)
                * (t.tf * (1.2::DOUBLE + 1))
                / (t.tf + 1.2::DOUBLE
                   * (1 - 0.75::DOUBLE
                      + 0.75::DOUBLE * CAST(l.len AS DOUBLE) / avgdl)) AS s
              FROM tf t JOIN dfq USING (term)
              JOIN dl l ON t.doc_id = l.doc_id, stats)
       SELECT doc_id, ROUND(SUM(s), 6) AS bm25
       FROM sc GROUP BY doc_id
       ORDER BY ROUND(SUM(s), 6) DESC, doc_id LIMIT 10""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query 'hash join table scan'
    (operators/text.bm25_topk: query-term filter BEFORE the tf
    aggregation so only |q| posting lists shuffle; 1-row corpus stats
    broadcast; TakeOrderedAndProject ranking)."""
    return TX.bm25_topk(
        load_table(spark, sf_dir, "documents"), "hash join table scan"
    )


def _pagerank_sql(iters: int = 8, d: float = 0.85) -> str:
    """Unrolled-iteration twin of operators/graph.pagerank — one CTE
    block per power iteration (static SQL, no recursive-CTE aggregation
    restrictions), SAME double literals as the Spark loop."""
    base = """edges AS MATERIALIZED (
         SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                CAST(COUNT(*) AS DOUBLE) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY 1, 2),
       outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
       norm AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.ow AS frac
                FROM edges e JOIN outw o ON e.src = o.src),
       nodes AS (SELECT DISTINCT node FROM
                 (SELECT src AS node FROM edges
                  UNION ALL SELECT dst FROM edges) t),
       nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
       pr0 AS (SELECT node, 1.0 / cnt AS score FROM nodes, nn)"""
    for i in range(1, iters + 1):
        base += f""",
       c{i} AS (SELECT n.dst AS node, SUM(n.frac * p.score) AS c
                FROM norm n JOIN pr{i - 1} p ON n.src = p.node GROUP BY n.dst),
       d{i} AS (SELECT COALESCE(SUM(p.score), 0.0) AS dm FROM pr{i - 1} p
                WHERE p.node NOT IN (SELECT src FROM outw)),
       pr{i} AS MATERIALIZED (SELECT nodes.node,
                 {(1 - d) !r} / cnt
                 + {d!r} * (COALESCE(c{i}.c, 0.0) + d{i}.dm / cnt) AS score
                 FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node, nn, d{i})"""
    return f"WITH {base}\nSELECT node, ROUND(score, 6) AS score FROM pr{iters}"


@q("q_pagerank", _pagerank_sql(), tier="measurement")
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier-nation -> customer-nation
    trade graph (operators/graph.pagerank: per-iteration join+groupBy
    pair, checkpointed normalized edges, in-plan dangling-mass
    redistribution; oracle = 8 unrolled power iterations)."""
    from ..operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            supp["s_nationkey"].alias("src"), cust["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    return pagerank(edges)


@q(
    "q_heavy_hitters",
    f"""WITH tok AS (
         SELECT UNNEST({TOKS}) AS token FROM documents),
       tot AS (SELECT COUNT(*) AS n FROM tok),
       cnt AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
       SELECT token, cnt, ROUND(CAST(cnt AS DOUBLE) / n, 6) AS share
       FROM cnt, tot WHERE cnt * 30 > n""",
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (corpus tokens with frequency > n/30) via a
    shuffle-free Misra-Gries sketch pass + exact re-verification of the
    candidate union — deterministic despite the partition-dependent
    sketch (operators/sketches.py; superset guarantee unit-tested under
    adversarial capacity)."""
    from ..operators.sketches import heavy_hitters

    return heavy_hitters(load_table(spark, sf_dir, "documents"), k=30)


@q(
    "q_embed_quantize",
    """WITH lng AS (
         SELECT vec_id, label, CAST(i AS INT) AS i,
                CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
       d AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM lng GROUP BY i),
       r AS (
         SELECT vec_id, label, x,
                CASE WHEN mx > mn THEN
                  mn + LEAST(255, GREATEST(0,
                        FLOOR((x - mn) / (mx - mn) * 255 + 0.5))) / 255 * (mx - mn)
                ELSE mn END AS dq
         FROM lng JOIN d USING (i))
       SELECT vec_id, label,
              ROUND(SUM((x - dq) * (x - dq)) / COUNT(*) * 1000000, 6) AS q_mse_ppm
       FROM r GROUP BY vec_id, label""",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization reconstruction error per vector (ppm
    MSE) — the compression audit for shipping 4x-smaller vectors into
    the ANN probe path (operators/similarity.quantization_error; codes
    and reconstruction are pure map-side transform() expressions)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantization_error(emb)


@q(
    "q_stratified_sample",
    """WITH b AS (
         SELECT doc_id, lang, source, n_chars,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
         FROM documents)
       SELECT doc_id, lang, source, n_chars FROM b
       WHERE bkt < (CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 25 ELSE 10 END)""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: en@50%, de@25%, rest@10% —
    per-language rebalancing, map-side only."""
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, {"en": 50, "de": 25}, "lang", 10).select(
        "doc_id", "lang", "source", "n_chars"
    )


@q(
    "q_domain_mix",
    """WITH w AS (
         SELECT * FROM (VALUES ('src0', 0.5::DOUBLE), ('src1', 0.3::DOUBLE),
                               ('src2', 0.2::DOUBLE)) AS t(source, wt)),
       cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
       r AS (SELECT c.source, c.n, w.wt, MIN(c.n / w.wt) OVER () AS cap
             FROM cnt c JOIN w USING (source)),
       thr AS (SELECT source, FLOOR(wt * cap / n * 1000000) AS t FROM r)
       SELECT d.doc_id, d.source, d.lang
       FROM documents d JOIN thr USING (source)
       WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000 < t""",
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mixture domain sampling (pretraining data mixing): keep
    the largest output with source shares 50/30/20 over src0/src1/src2,
    rates DERIVED from corpus counts (operators/sampling.mixture_sample
    — tiny count groupBy, broadcast rate join, portable hash-threshold
    membership)."""
    from ..operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    return mixture_sample(
        docs, {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "source"
    ).select("doc_id", "source", "lang")


@q(
    "q_corpus_full",
    f"""WITH RECURSIVE m AS (
         SELECT doc_id, text, lang, source,
           CAST(len({TOKS}) AS DOUBLE) AS n_tok,
           CAST(len(list_distinct({TOKS})) AS DOUBLE) AS n_dis,
           CAST(len(list_filter({TOKS},
                t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop
         FROM documents),
       scored AS (
         SELECT doc_id, text, lang, source, CAST(n_tok AS BIGINT) AS n_tokens,
           ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
               + 0.3 * (n_dis / NULLIF(n_tok, 0.0))
               + 0.3 * LEAST(n_stop / NULLIF(0.1 * n_tok, 0.0), 1.0), 6) AS quality
         FROM m),
       kept AS (SELECT * FROM scored WHERE quality >= 0.5),
       nrm AS (
         SELECT *, md5(trim(regexp_replace(
                  regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                  ' +', ' ', 'g'))) AS norm_hash
         FROM kept),
       uniq AS (
         SELECT doc_id, text, lang, source, n_tokens, quality FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS rn
           FROM nrm) t WHERE rn = 1),
       tok AS (SELECT doc_id, {TOKS} AS toks FROM uniq),
       sh AS (
         SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
         FROM tok, UNNEST(range(1, len(toks) - 1)) AS t(i)
         WHERE len(toks) >= 3),
       {_banded_pair_ctes(threshold=0.8)},
       edges AS MATERIALIZED (
         SELECT doc_a AS a, doc_b AS b FROM vpairs
         UNION SELECT doc_b, doc_a FROM vpairs),
       reach(v, r) AS (
         SELECT doc_id, doc_id FROM uniq
         UNION
         SELECT reach.v, e.b FROM reach JOIN edges e ON e.a = reach.r),
       canon AS (SELECT v AS doc_id FROM reach GROUP BY v HAVING MIN(r) = v),
       surv AS (SELECT u.* FROM uniq u JOIN canon USING (doc_id)),
       tr_tok AS (SELECT doc_id, {TOKS} AS toks FROM surv WHERE source <> 'src0'),
       tr_sh AS (SELECT DISTINCT doc_id,
                   list_aggregate(toks[i:i+4], 'string_agg', ' ') AS shingle
                 FROM tr_tok, UNNEST(range(1, len(toks) - 3)) AS t(i)
                 WHERE len(toks) >= 5),
       ev_tok AS (SELECT doc_id, {TOKS} AS toks FROM documents WHERE source = 'src0'),
       ev_sh AS (SELECT DISTINCT list_aggregate(toks[i:i+4], 'string_agg', ' ') AS shingle
                 FROM ev_tok, UNNEST(range(1, len(toks) - 3)) AS t(i)
                 WHERE len(toks) >= 5),
       contaminated AS (SELECT DISTINCT t.doc_id FROM tr_sh t JOIN ev_sh e USING (shingle)),
       final AS (SELECT s.* FROM surv s
                 WHERE s.source <> 'src0'
                   AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)),
       sp AS (SELECT *,
                CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
              FROM (SELECT *,
                      ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                    FROM final) t)
       SELECT lang, split, COUNT(*) AS n_docs,
              ROUND(AVG(quality), 4) AS avg_quality,
              CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
       FROM sp GROUP BY lang, split""",
)
def q_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation DAG: quality -> normal-form dedup ->
    cluster near-dup (canonical keep, BOUNDED banded-verified edge
    source since r9 — r8 VERDICT #2) -> decontaminate vs the held-out
    src0 benchmark -> hash split -> per-(lang, split) stats
    (operators/curation.curate_corpus_full)."""
    from ..operators.curation import curate_corpus_full

    return curate_corpus_full(load_table(spark, sf_dir, "documents"))


@q(
    "q_regex_extract",
    r"""SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_numbers,
         CAST(len(regexp_extract_all(lower(text), '\b[a-z]{5,}\b')) AS BIGINT) AS n_long_words,
         regexp_extract(lower(text), '\b(spark|table|row|key)\b', 1) AS first_kw
       FROM documents""",
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction over text (the PII-scan / pattern-mining shape):
    all-match counts + first keyword, pure codegen regexp expressions."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).cast("long").alias("n_numbers"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"\b[a-z]{5,}\b"), F.lit(0))
        ).cast("long").alias("n_long_words"),
        F.regexp_extract(F.lower("text"), r"\b(spark|table|row|key)\b", 1).alias("first_kw"),
    )


@q(
    "q_doc_logprob",
    f"""WITH tok AS (
         SELECT doc_id, unnest({TOKS}) AS token FROM documents),
       freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
       tot AS (SELECT COUNT(*) AS tot FROM tok),
       j AS (SELECT t.doc_id, -ln(f.cnt / tot.tot) AS nlp
             FROM tok t JOIN freq f USING (token), tot)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              ROUND(AVG(nlp), 4) AS avg_neg_logprob
       FROM j GROUP BY doc_id""",
)
def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy per doc (operators/text.
    unigram_logprob) — the CCNet-style corpus quality signal."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.unigram_logprob(docs)


def _redact_oracle() -> str:
    """Oracle built from the SAME PII_PATTERNS strings the operator uses
    (Java/RE2-common subset), chained in the same order with DuckDB's
    explicit 'g' flag (Spark regexp_replace is global by default)."""
    from ..operators.text import PII_PATTERNS

    red = "text"
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        )
        red = f"regexp_replace({red}, '{pat}', '{rep}', 'g')"
    return f"""SELECT doc_id, {red} AS red_text,
         {', '.join(counts)}
       FROM documents"""


@q("q_text_redact", _redact_oracle())
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (operators/text.redact_pii): typed placeholder
    substitution + per-type audit counts, map-only codegen."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.redact_pii(docs)


_WS_TOKENS = r"CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS BIGINT)"


@q(
    "q_seq_pack",
    f"""WITH t AS (
         SELECT doc_id, lang, {_WS_TOKENS} AS n_tokens FROM documents),
       p AS (
         SELECT lang, doc_id, n_tokens,
                CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 512.0) AS BIGINT) AS pack_id
         FROM t)
       SELECT lang, pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
              MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
       FROM p GROUP BY lang, pack_id""",
)
def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/curation.pack_sequences):
    per-language cumulative-token cut points at budget 512 — the
    deterministic corpus -> training-row packing step."""
    from ..operators.curation import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    t = docs.select("doc_id", "lang", F.size(ws).cast("long").alias("n_tokens"))
    return pack_sequences(t, budget=512, group_col="lang")


# ----------------------------------------- r4 late additions (this window)

# q_kmeans_step's assignment CTEs verbatim — semdedup shares the same
# deterministic vec_id<16 seed centroids and argmax tie-break
_ASN_CTES = f"""cent AS (
         SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
       asn AS (
         SELECT vec_id, embedding, cell FROM (
           SELECT e.vec_id, e.embedding, c.cell,
                  ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_DOT.format(a='e.embedding', b='c.cv')} DESC, c.cell
                  ) AS rn
           FROM embeddings e CROSS JOIN cent c) t
         WHERE rn = 1)"""


def _semdedup_sql(cells: str = "16") -> str:
    """SemDeDup oracle parameterized by the centroid-slice width —
    ``cells`` is either an integer literal (the pinned regimes) or the
    in-plan derived expression (q_semdedup's auto default, r8 VERDICT
    #3: ``GREATEST(16, CEIL(SQRT(N)))`` — the compute-balanced K, see
    operators/similarity.SEMDEDUP_MIN_CELLS)."""
    asn = _ASN_CTES.replace("vec_id < 16", f"vec_id < ({cells})")
    return f"""WITH {asn},
       dup AS (
         SELECT DISTINCT b.vec_id
         FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
         WHERE {_DOTF.format(a='a.embedding', b='b.embedding')} >= 0.8)
       SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
              (d.vec_id IS NULL) AS is_kept
       FROM asn a LEFT JOIN dup d USING (vec_id)"""


_SEMDEDUP_SQL = _semdedup_sql("16")


def _semdedup_capped_sql(cells: str, m: int | str) -> str:
    """SQL twin of semdedup(max_cell=m): same assignment CTEs, then
    every cell is sub-split into ceil(|c|/m) portable-hash groups and
    the dup join adds the sub-group equality.  The ceil operand is the
    IDENTICAL float expression on both engines (count/m in double), so
    the group count — even at a representability boundary — matches
    (the eventflow k50/k90 parity argument).  ``m`` is an int literal
    (the pinned cap) or a SQL expression yielding a DOUBLE (the r11
    auto skew bound 4*ceil(N/K))."""
    asn = _ASN_CTES.replace("vec_id < 16", f"vec_id < ({cells})")
    ph = _PH_HI.format(c="CAST(vec_id AS VARCHAR)")
    m_sql = str(float(m)) if isinstance(m, int) else f"({m})"
    sub = (
        f"{ph} % GREATEST(1, CAST(CEIL("
        f"(COUNT(*) OVER (PARTITION BY cell)) / {m_sql}) AS BIGINT))"
    )
    return f"""WITH {asn},
       sasn AS (
         SELECT vec_id, embedding, cell, {sub} AS sub FROM asn),
       dup AS (
         SELECT DISTINCT b.vec_id
         FROM sasn a JOIN sasn b
           ON a.cell = b.cell AND a.sub = b.sub AND a.vec_id < b.vec_id
         WHERE {_DOTF.format(a='a.embedding', b='b.embedding')} >= 0.8)
       SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
              (d.vec_id IS NULL) AS is_kept
       FROM sasn a LEFT JOIN dup d USING (vec_id)"""


# the auto regime: cell count derived from the corpus count as
# max(16, ceil(sqrt(N))) — the compute-balanced K (assignment N*K ==
# pair join N²/K at K = sqrt(N)); sqrt is IEEE-correctly-rounded on
# both engines, so CEIL lands on the identical integer.  The slice is
# anchored at MIN(vec_id) (r10, ADVICE: offset-id robustness — on the
# dense 0-based gate data MIN is 0 and the bound is unchanged); the
# builder computes min_id + k the same way.
# the r11 auto skew bound: m = 4*ceil(N/K) with K the auto cell count —
# 4x the balanced cell size, inert on balanced cells, sub-splits only
# skew-blown ones (similarity.SEMDEDUP_SKEW_FACTOR).  CEIL lands on the
# identical exact-integer double on both engines (n/k correctly-rounded
# double division of exact integers).
_SEMDEDUP_AUTO_M = (
    "SELECT 4 * CEIL(CAST(COUNT(*) AS DOUBLE)"
    " / GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)))"
    " FROM embeddings"
)


@q(
    "q_semdedup",
    _semdedup_capped_sql(
        "SELECT MIN(vec_id) + GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))"
        " FROM embeddings",
        _SEMDEDUP_AUTO_M,
    ),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup —
    centroid assignment, exact cosine only within cells, first-writer-
    wins survivor rule (operators/similarity.semdedup).  Rides the r9
    AUTO cell count (``max(16, ceil(sqrt(N)))`` derived in-plan — r8
    VERDICT #3): K = sqrt(N) balances the N*K assignment cost against
    the N²/K in-cell pair join (total ~2*N^1.5; at the paper's 100M+
    corpus sizes the rule reproduces the paper's own K ~ 10k), where
    the old literal-16 default left the pair join quadratic (8.46x per
    10x in the r8 sweep).  Since r11 (r10 VERDICT #2) the default also
    rides the AUTO SKEW BOUND ``max_cell="auto"`` = 4*ceil(N/K): the
    r10 balance measurement showed trained centroids concentrating 12%
    of the corpus in one cell (sum|c|^2 ~8x balanced), so the uncapped
    in-cell join is governed by the largest cell, not K — the bound is
    inert on balanced cells and guarantees ~4*N^1.5 worst-case pair
    work under skew.  The oracle derives BOTH the cell count and the
    bound with the identical GREATEST/CEIL/SQRT expressions;
    auto-vs-literal parity at the derived (K, m) is pinned by
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup(emb, threshold=0.8)


@q("q_semdedup_joined", _SEMDEDUP_SQL, tier="measurement")
def q_semdedup_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through the broadcast-join assignment path at a PINNED
    literal cell count (16): centroids shipped as a broadcast relation
    and assigned by ``ivf_assign_join`` (max_by argmax, constant plan
    size).  Pins the literal-K regime and the join path; measurement
    tier — a FIXED cell count leaves the in-cell pair join quadratic
    (the r9 sweep measured this pin at 26x per 10x data), which is
    exactly the failure mode the auto sqrt(N) default exists to fix."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup(emb, n_cells=16, threshold=0.8, assign_via_join=True)


@q(
    "q_semdedup_capped",
    _semdedup_capped_sql(
        "SELECT MIN(vec_id) + GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))"
        " FROM embeddings",
        8,
    ),
)
def q_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the r10 cell-size cap: cells larger than
    ``max_cell`` are sub-split into ceil(|c|/m) portable-hash groups
    and exact cosine runs only within a (cell, sub) group — worst-case
    pair work ~N*m, LINEAR in N regardless of cell skew.  Born from
    the r10 balance measurement (sweeps/r10_semdedup_scale.json):
    the in-cell join costs sum(|c|^2), and trained KMeans centroids on
    blob-shaped embeddings put 12% of the corpus in ONE cell (~8x the
    balanced N^2/K), so at 100 TB the largest cell — not K — governs
    wall-clock; the cap is the salting treatment for that skew, with
    the recall loss confined to pairs straddling sub-groups of
    oversized cells.  m=8 is the demonstration constant (small enough
    to bite at gate scale: N=500 -> K=23, mean cell ~22)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup(emb, threshold=0.8, max_cell=8)


@q("q_semdedup_scaled", _semdedup_sql("64"), tier="measurement")
def q_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in the MULTI-CELL regime (64 cells) — the value-hash
    pin for cell counts ABOVE the 16 floor, which the auto default only
    reaches at sf1 (N=20k -> 160 cells) where no driver oracle runs.
    Same join-path assignment and survivor rule; r9 birth in service of
    r8 VERDICT #3."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup(emb, n_cells=64, threshold=0.8, assign_via_join=True)


@q("q_semdedup_fixedk", _semdedup_capped_sql("64", 64))
def q_semdedup_fixedk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in the FIXED-BUDGET regime the paper itself deploys
    (Abbas et al. train a fixed cluster count, e.g. 50k for LAION-440M,
    chosen per corpus — not a function of N): BOTH knobs pinned,
    n_cells=64 and max_cell=64, which makes TOTAL work linear in N by
    construction — assignment is N*K dot products (K constant), and the
    capped in-cell join is at most N*m pair evaluations (m constant) no
    matter how cells grow or skew.  This is the 100 TB production
    posture when a compute budget is fixed up front; the auto default
    (q_semdedup: K=ceil(sqrt(N)), m=4*ceil(N/K)) self-tunes granularity
    for unknown N at the compute-balanced ~N^1.5 — the r11 sf1->sf10
    sweep measured that law directly (29.7x for 10x data vs the 31.6x
    the balance equation predicts, sweeps/r11_sf10.json), which is the
    designed trade, not a plan defect; THIS entry is the linear lever a
    deployment pulls when N^1.5 exceeds the budget.  Granularity/recall
    degrade gracefully as N/K grows (coarser cells, more sub-splits);
    the survivor rule and oracle derivation are identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semdedup(
        emb, n_cells=64, threshold=0.8, max_cell=64, assign_via_join=True
    )


def _pca_power_sql(iters: int = 4) -> str:
    """SQL twin of similarity.pca_power: same 6dp-rounded Gram input,
    same ORDER BY-folded matrix-vector product and norm (bit-exact
    accumulation order on both engines), same all-ones start."""
    fold = "list_reduce(list_prepend(0.0, list({expr} ORDER BY {ord})), (acc, x) -> acc + x)"
    ctes = [
        """lng AS (
         SELECT vec_id, CAST(i - 1 AS INT) AS i,
                CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i))""",
        """tri AS (
         SELECT a.i AS i, b.i AS j, ROUND(SUM(a.x * b.x), 6) AS g
         FROM lng a JOIN lng b USING (vec_id) WHERE b.i >= a.i
         GROUP BY a.i, b.i)""",
        """gfull AS (
         SELECT i, j, g FROM tri
         UNION ALL SELECT j, i, g FROM tri WHERE j > i)""",
        "v0 AS (SELECT DISTINCT i AS dim, 1.0 AS v FROM gfull)",
    ]
    for t in range(1, iters + 1):
        wf = fold.format(expr="g * v", ord="j")
        nf = fold.format(expr="w * w", ord="i")
        ctes.append(
            f"""w{t} AS (
         SELECT i, {wf} AS w
         FROM gfull JOIN v{t-1} ON gfull.j = v{t-1}.dim GROUP BY i)"""
        )
        ctes.append(f"n{t} AS (SELECT sqrt({nf}) AS n FROM w{t})")
        ctes.append(
            f"v{t} AS (SELECT i AS dim, w / (SELECT n FROM n{t}) AS v FROM w{t})"
        )
    return (
        "WITH "
        + ",\n       ".join(ctes)
        + f"\n       SELECT dim, ROUND(v, 6) AS loading FROM v{iters}"
    )


@q("q_pca_power", _pca_power_sql(4))
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction by power iteration over the distributed
    Gram matrix: one corpus pass, then O(d^2) per step
    (operators/similarity.pca_power)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pca_power(emb, iters=4)


@q(
    "q_bpe_pairs",
    f"""WITH tok AS (SELECT {TOKS} AS toks FROM documents),
       pr AS (
         SELECT unnest(flatten(list_transform(
                  list_filter(toks, w -> length(w) >= 2),
                  w -> list_transform(range(1, length(w)),
                         i -> [substring(w, CAST(i AS INT), 1),
                               substring(w, CAST(i + 1 AS INT), 1)])))) AS p
         FROM tok)
       SELECT p[1] AS left_sym, p[2] AS right_sym,
              COUNT(*) AS n_pairs
       FROM pr GROUP BY 1, 2
       ORDER BY n_pairs DESC, left_sym, right_sym LIMIT 50""",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate pair counts (tokenizer-training inner loop):
    in-row adjacent symbol pairs, one vocabulary-sized groupBy,
    TakeOrderedAndProject top-k (operators/text.bpe_pair_counts)."""
    return TX.bpe_pair_counts(load_table(spark, sf_dir, "documents"), top_k=50)


@q(
    "q_cdc_dedup",
    """WITH d AS (
         SELECT doc_id,
                regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
         FROM documents),
       c AS (
         SELECT doc_id, s,
                list_transform(string_split(s, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
         FROM d WHERE length(s) >= 8),
       cutt AS (
         SELECT doc_id, s,
                [0] || list_filter(range(8, length(s) + 1),
                  p -> p < length(s) AND
                       list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(p - 7, p + 1),
                             i -> codes[CAST(i AS INT)])),
                         (acc, ch) -> (acc * 31 + ch) % 1000000007) % 32 = 0)
                || [length(s)] AS cuts
         FROM c),
       ch AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(cuts)),
                  i -> substring(s, CAST(cuts[CAST(i AS INT)] + 1 AS INT),
                                 CAST(cuts[CAST(i + 1 AS INT)]
                                      - cuts[CAST(i AS INT)] AS INT)))) AS chunk
         FROM cutt)
       SELECT md5(chunk) AS chunk_hash,
              MAX(CAST(length(chunk) AS BIGINT)) AS chunk_len,
              COUNT(*) AS n_occurrences,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       FROM ch GROUP BY 1
       ORDER BY n_occurrences DESC, chunk_hash LIMIT 100""",
)
def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking duplication report: rolling-hash chunk
    boundaries (expected len 32), md5 chunk keys, top-100 most
    duplicated chunks (operators/dedup.cdc_dedup_stats)."""
    return D.cdc_dedup_stats(
        load_table(spark, sf_dir, "documents"), w=8, mask_bits=5, top_k=100
    )


@q(
    "q_group_sample",
    """SELECT doc_id, source, sample_rank FROM (
         SELECT doc_id, source,
                ROW_NUMBER() OVER (
                  PARTITION BY source
                  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 1073741824, doc_id) AS sample_rank
         FROM documents) t
       WHERE sample_rank <= 10""",
)
def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-group deterministic sample (eval-slice builder):
    portable-hash rank inside each source, first 10 kept
    (operators/sampling.group_sample_exact)."""
    from ..operators.sampling import group_sample_exact

    docs = load_table(spark, sf_dir, "documents")
    return group_sample_exact(docs, n_per_group=10, group_col="source").select(
        "doc_id", "source", "sample_rank"
    )


def _bpe_learn_sql(n_merges: int = 4) -> str:
    """SQL twin of text.bpe_learn_merges: the iterative argmax+rewrite
    loop unrolled as CTE triples (pair counts / top-1 merge / vocab
    rewrite), with the SAME greedy left-to-right fold semantics — string
    replace over space-joined symbols would not be boundary-safe and
    RE2 lacks lookbehind, so both engines fold symbol arrays."""
    ctes = [
        f"tok AS (SELECT unnest({TOKS}) AS w FROM documents)",
        "vc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w)",
        "v0 AS MATERIALIZED (SELECT w, c, string_split(w, '') AS syms FROM vc)",
    ]
    for t in range(1, n_merges + 1):
        ctes.append(
            f"""p{t} AS (
         SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(c) AS BIGINT) AS n
         FROM v{t-1}, UNNEST(CASE WHEN len(syms) >= 2
                THEN list_transform(range(1, len(syms)),
                       i -> [syms[CAST(i AS INT)], syms[CAST(i + 1 AS INT)]])
                ELSE CAST([] AS VARCHAR[][]) END) AS u(pr)
         GROUP BY 1, 2)"""
        )
        ctes.append(
            f"t{t} AS (SELECT a, b, n FROM p{t} ORDER BY n DESC, a, b LIMIT 1)"
        )
        # LEFT JOIN ON TRUE (not a cross join): when the pair vocabulary
        # is exhausted t{t} is EMPTY and a cross join would zero out the
        # vocab — the NULL-extended row makes the fold an identity
        # rewrite instead, matching the Python loop's early break.
        # v{t} is referenced by BOTH p{t+1} and v{t+1}: MATERIALIZED stops
        # DuckDB re-inlining the whole chain (2^n blowup — same fix as
        # the pagerank oracle)
        ctes.append(
            f"""v{t} AS MATERIALIZED (
         SELECT w, c, list_reduce(
           list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, x -> [x])),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = t{t}.a
                            AND x[1] = t{t}.b
                       THEN acc[1:len(acc)-1] || [t{t}.a || t{t}.b]
                       ELSE acc || x END) AS syms
         FROM v{t-1} LEFT JOIN t{t} ON TRUE)"""
        )
    sel = "\n       UNION ALL ".join(
        f"SELECT CAST({t} AS INT) AS merge_rank, a AS left_sym, "
        f"b AS right_sym, n AS pair_count FROM t{t}"
        for t in range(1, n_merges + 1)
    )
    return "WITH " + ",\n       ".join(ctes) + "\n       " + sel


@q("q_bpe_learn", _bpe_learn_sql(4))
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training loop: 4 merges learned over the vocabulary
    table (one corpus pass; iterations are vocab-sized; driver holds one
    row per round) — operators/text.bpe_learn_merges."""
    return TX.bpe_learn_merges(load_table(spark, sf_dir, "documents"), n_merges=4)


@q(
    "q_fuzzy_vocab",
    f"""WITH tok AS (SELECT unnest({TOKS}) AS w FROM documents),
       vc AS (SELECT w, COUNT(*) AS n FROM tok WHERE length(w) >= 3 GROUP BY w),
       keys AS (
         SELECT w, n,
                unnest(list_distinct(
                  [w]
                  || list_transform(range(1, length(w) + 1),
                       i -> substring(w, 1, CAST(i - 1 AS INT))
                            || substring(w, CAST(i + 1 AS INT),
                                         length(w) - CAST(i AS INT)))
                  || flatten(list_transform(range(1, length(w)),
                       i -> list_transform(range(i + 1, length(w) + 1),
                         j -> substring(w, 1, CAST(i - 1 AS INT))
                              || substring(w, CAST(i + 1 AS INT),
                                           CAST(j - i - 1 AS INT))
                              || substring(w, CAST(j + 1 AS INT),
                                           length(w) - CAST(j AS INT))))))) AS k
         FROM vc),
       pairs AS (
         SELECT DISTINCT a.w AS word_a, b.w AS word_b,
                a.n AS n_a, b.n AS n_b
         FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w)
       SELECT word_a, word_b,
              CAST(levenshtein(word_a, word_b) AS INT) AS dist, n_a, n_b
       FROM pairs WHERE levenshtein(word_a, word_b) <= 2""",
)
def q_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell depth-2 deletion-neighborhood fuzzy matching over the
    corpus vocabulary: edit-distance<=2 word pairs with frequencies,
    candidate space bounded by shared deletion keys
    (operators/text.fuzzy_token_pairs)."""
    return TX.fuzzy_token_pairs(load_table(spark, sf_dir, "documents"))


def _ann_recall_sql(
    n_probes: int = 8, k: int = 10, n_planes: int = 12, max_hamming: int = 2
) -> str:
    """SQL twin of similarity.ann_recall — the SAME literal hyperplane
    matrix and strict-fold dots as _ann_lsh_sql, ranked per probe."""
    planes = S.lsh_planes(n_planes, 64)
    sig_terms = " + ".join(
        "CASE WHEN "
        + _DOTF.format(a="embedding", b="[" + ", ".join(str(x) for x in w) + "]")
        + f" > 0 THEN {1 << p} ELSE 0 END"
        for p, w in enumerate(planes)
    )
    return f"""WITH sigt AS (
         SELECT vec_id, embedding, CAST({sig_terms} AS BIGINT) AS sig
         FROM embeddings),
       probes AS (
         SELECT vec_id AS probe_id, embedding AS qv, sig AS qsig
         FROM sigt WHERE vec_id < {n_probes}),
       scored AS (
         SELECT p.probe_id, s.vec_id,
                {_DOTF.format(a='s.embedding', b='p.qv')} AS sim,
                bit_count(xor(s.sig, p.qsig)) AS ham
         FROM sigt s CROSS JOIN probes p),
       exact AS (
         SELECT probe_id, vec_id FROM (
           SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY sim DESC, vec_id) AS rn
           FROM scored) t WHERE rn <= {k}),
       approx AS (
         SELECT probe_id, vec_id FROM (
           SELECT probe_id, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY probe_id
                                     ORDER BY sim DESC, vec_id) AS rn
           FROM scored WHERE ham <= {max_hamming}) t WHERE rn <= {k}),
       hits AS (
         SELECT e.probe_id, COUNT(*) AS n
         FROM exact e JOIN approx a USING (probe_id, vec_id) GROUP BY 1)
       SELECT p.probe_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_overlap,
              ROUND(COALESCE(h.n, 0) / {float(k)}, 6) AS recall
       FROM probes p LEFT JOIN hits h USING (probe_id)"""


@q("q_ann_recall", _ann_recall_sql())
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index acceptance gate: recall@10 of the LSH Hamming-ball
    probe vs the exact scan for 8 deterministic probes — one corpus
    scan serves both sides (operators/similarity.ann_recall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_recall(emb, n_probes=8, k=10, n_planes=12, max_hamming=2)


@q(
    "q_ks_drift",
    """WITH u AS (
         SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
                CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END AS side
         FROM events WHERE value IS NOT NULL),
       e AS (
         SELECT grp,
                SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY grp ORDER BY v
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ref,
                SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY grp ORDER BY v
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_cmp,
                SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY grp) AS n_ref,
                SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY grp) AS n_cmp
         FROM u)
       SELECT grp AS "group",
              CAST(MAX(n_ref) AS BIGINT) AS n_ref,
              CAST(MAX(n_cmp) AS BIGINT) AS n_cmp,
              ROUND(MAX(CASE WHEN n_ref > 0 AND n_cmp > 0
                             THEN ABS(CAST(c_ref AS DOUBLE) / n_ref
                                      - CAST(c_cmp AS DOUBLE) / n_cmp)
                             ELSE 1.0 END), 6) AS ks
       FROM e GROUP BY grp""",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift per event_type between the
    even- and odd-id populations — the exact ECDF-distance companion to
    q_psi_drift (operators/transforms.ks_drift)."""
    from ..operators.transforms import ks_drift

    ev = load_events(spark, sf_dir)
    return ks_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        "event_type",
    )


@q(
    "q_token_pmi",
    f"""WITH base AS (
         SELECT doc_id, list_sort(list_distinct({TOKS})) AS t
         FROM documents WHERE len({TOKS}) >= 1),
       nd AS (SELECT COUNT(*) AS N FROM base),
       marg AS (
         SELECT tok, COUNT(*) AS n_tok
         FROM base, UNNEST(t) AS u(tok) GROUP BY 1),
       pr AS (
         SELECT p[1] AS token_a, p[2] AS token_b
         FROM base, UNNEST(flatten(list_transform(range(1, len(t)),
                i -> list_transform(range(i + 1, len(t) + 1),
                       j -> [t[CAST(i AS INT)], t[CAST(j AS INT)]])))) AS u(p)
         WHERE len(t) >= 2),
       co AS (
         SELECT token_a, token_b, COUNT(*) AS n_ab
         FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 5)
       SELECT token_a, token_b, n_ab,
              ROUND(ln(CAST(n_ab AS DOUBLE) * N
                       / (CAST(ma.n_tok AS DOUBLE) * mb.n_tok)), 6) AS pmi
       FROM co
       JOIN marg ma ON ma.tok = token_a
       JOIN marg mb ON mb.tok = token_b
       CROSS JOIN nd""",
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI collocations: in-row ordered pairs over the
    per-doc distinct-sorted token array, doc-frequency marginals,
    broadcast 1-row N (operators/text.token_pmi)."""
    return TX.token_pmi(load_table(spark, sf_dir, "documents"), min_docs=5)


def _zorder_sql(bits: int = 8) -> str:
    """SQL twin of transforms.zorder_keys over events (user_id x value):
    identical clamp-floor bucketing and inlined bit-interleave."""
    n = (1 << bits) - 1

    def bucket(x, mn, mx):
        return (
            f"CASE WHEN {mx} <= {mn} THEN 0 ELSE LEAST({n}, GREATEST(0, "
            f"CAST(FLOOR(({x} - {mn}) / ({mx} - {mn}) * {1 << bits}) AS BIGINT))) END"
        )

    interleave = " + ".join(
        f"(((zb_user >> {i}) & 1) << {2 * i + 1}) + (((zb_value >> {i}) & 1) << {2 * i})"
        for i in range(bits)
    )
    return f"""WITH rng AS (
         SELECT MIN(CAST(user_id AS DOUBLE)) AS mn1,
                MAX(CAST(user_id AS DOUBLE)) AS mx1,
                MIN(CAST(value AS DOUBLE)) AS mn2,
                MAX(CAST(value AS DOUBLE)) AS mx2
         FROM events),
       b AS (
         SELECT event_id,
                {bucket('CAST(user_id AS DOUBLE)', 'mn1', 'mx1')} AS zb_user,
                {bucket('CAST(value AS DOUBLE)', 'mn2', 'mx2')} AS zb_value
         FROM events CROSS JOIN rng)
       SELECT event_id, zb_user, zb_value,
              CAST({interleave} AS BIGINT) AS zkey
       FROM b"""


@q("q_zorder", _zorder_sql(8))
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order keys over (user_id, value) for every event — the
    multi-dimensional clustering key for two-column data skipping
    (operators/transforms.zorder_keys; write path `write_zordered`)."""
    from ..operators.transforms import zorder_keys

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "value")
    return zorder_keys(ev, "user_id", "value", bits=8).select(
        "event_id",
        F.col("zb_user_id").alias("zb_user"),
        F.col("zb_value").alias("zb_value"),
        "zkey",
    )


_ZLAYOUT_CACHE: dict[str, str] = {}


@q(
    "q_skip_read",
    """SELECT event_id, user_id, CAST(value AS DOUBLE) AS value
       FROM events WHERE value >= 100.0 AND value <= 200.0""",
)
def q_skip_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping read over a Z-ordered layout: events are written
    once per process Z-ordered on (user_id, value) (16 files, cached
    under the atexit-cleaned sink root), then ``pruned_read`` answers a
    value-range query touching ONLY the files whose footer span
    intersects — correctness of the pruning is exactly what the oracle
    checks (the result must equal the plain filter, row for row).
    tests/test_late_r4.py additionally asserts MOST files are skipped.
    (operators/transforms: zorder_keys / write_zordered /
    file_stats_index / pruned_read)"""
    from ..operators.transforms import pruned_read, write_zordered
    from ..sources.tables import load_events

    path = _ZLAYOUT_CACHE.get(sf_dir)
    if path is None:
        path = os.path.join(_sink_root(), f"zlayout_{len(_ZLAYOUT_CACHE)}")
        ev = load_events(spark, sf_dir).select("event_id", "user_id", "value")
        write_zordered(ev, path, "user_id", "value", bits=8, n_files=16)
        _ZLAYOUT_CACHE[sf_dir] = path
    df, _n_read, _n_total = pruned_read(spark, path, "value", 100.0, 200.0)
    return df.select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )


def _bpe_apply_sql(n_merges: int = 4) -> str:
    """SQL twin of bpe_learn + bpe_apply: the learn CTE chain from
    _bpe_learn_sql, then the final vocab's symbol counts joined back to
    the per-doc token stream."""
    learn = _bpe_learn_sql(n_merges)
    body = learn[len("WITH ") : learn.index("\n       SELECT CAST(1 AS INT)")]
    return f"""WITH {body},
       dtok AS (SELECT doc_id, unnest({TOKS}) AS w FROM documents),
       wmap AS (SELECT w, CAST(len(syms) AS BIGINT) AS ns FROM v{n_merges})
       SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(ns) AS BIGINT) AS n_syms
       FROM dtok JOIN wmap USING (w) GROUP BY doc_id"""


@q("q_bpe_apply", _bpe_apply_sql(4))
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train->apply->evaluate BPE: tokenize every document with the 4
    learned merges and report per-doc word/symbol counts (fertility)
    — operators/text.bpe_learn_merges + bpe_apply."""
    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in TX.bpe_learn_merges(docs, n_merges=4).collect()
    ]
    return TX.bpe_apply(docs, merges)


_TAR_CACHE: dict[str, str] = {}


@q(
    "q_tar_shards",
    """SELECT CAST(doc_id AS VARCHAR) AS key,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS payload_md5
       FROM documents""",
)
def q_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard roundtrip: documents are written once per
    process as 4 portable-hash tar shards (stdlib tarfile inside
    applyInPandas — one archive per task), read back via binaryFile +
    mapInPandas member explode, and reduced to (key, n_bytes, md5) —
    the oracle proves every byte survived the archive cycle
    (sources/formats.write_tar_shards / read_tar_shards)."""
    from ..sources.formats import read_tar_shards, write_tar_shards

    path = _TAR_CACHE.get(sf_dir)
    if path is None:
        path = os.path.join(_sink_root(), f"tar_{len(_TAR_CACHE)}")
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("key"),
            F.col("text").cast("binary").alias("payload"),
        )
        write_tar_shards(docs, path, n_shards=4)
        _TAR_CACHE[sf_dir] = path
    back = read_tar_shards(spark, path)
    return back.select(
        "key",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


_PQ_DS = 8  # subspace width shared by _pq_codes_ctes and the LUT CTE


def _pq_codes_ctes(m: int = 8, ds: int = _PQ_DS, src: str = "embeddings") -> str:
    """Shared PQ-encoding CTEs: derive the deterministic codebooks from
    the same vec_id<16 rows the Spark side collects, score every
    (vector, subspace, centroid) triple with the strict-fold squared L2
    distance, and argmin per (vector, subspace) with the same
    (dist, j) tie-break as the negated-index max trick."""
    dist = (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, {ds} + 1), "
        f"i -> (CAST(e.embedding[CAST(s * {ds} + i AS INT)] AS DOUBLE) "
        f"      - CAST(c.cv[CAST(s * {ds} + i AS INT)] AS DOUBLE)) "
        f"   * (CAST(e.embedding[CAST(s * {ds} + i AS INT)] AS DOUBLE) "
        f"      - CAST(c.cv[CAST(s * {ds} + i AS INT)] AS DOUBLE)))), "
        "(acc, v) -> acc + v)"
    )
    return f"""cent AS (
         SELECT vec_id AS j, embedding AS cv FROM embeddings WHERE vec_id < 16),
       scored AS (
         SELECT e.vec_id, t.s, c.j, {dist} AS dist
         FROM {src} e
         CROSS JOIN UNNEST(range(0, {m})) AS t(s)
         CROSS JOIN cent c),
       codes AS (
         SELECT vec_id, s, j, dist FROM (
           SELECT vec_id, s, j, dist,
                  ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY dist, j) AS rn
           FROM scored) t WHERE rn = 1)"""


# ordered fold over the m per-subspace values — same s=0..m-1 summation
# order as the Spark side's expression chain (plain SUM() would be
# order-nondeterministic and FLOOR sits right at ppm boundaries)
_PQ_FOLD_S = (
    "list_reduce(list_prepend(0.0, list({expr} ORDER BY s)), (acc, v) -> acc + v)"
)


@q(
    "q_pq_error",
    f"""WITH {_pq_codes_ctes()},
       n2 AS (
         SELECT vec_id,
                list_reduce(list_prepend(0.0, list_transform(
                  range(1, len(embedding) + 1),
                  i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                       * CAST(embedding[CAST(i AS INT)] AS DOUBLE))),
                  (acc, v) -> acc + v) AS norm2
         FROM embeddings)
       SELECT c.vec_id,
              string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes,
              CAST(FLOOR({_PQ_FOLD_S.format(expr='dist')}
                         / NULLIF(ANY_VALUE(n2.norm2), 0.0)
                         * 1000000) AS BIGINT) AS err_ppm
       FROM codes c JOIN n2 ON n2.vec_id = c.vec_id
       GROUP BY c.vec_id""",
)
def q_pq_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit: per-vector PQ codes (m=8 subspaces,
    k=16 deterministic centroids) + reconstruction error in ppm of the
    squared norm — operators/similarity.pq_codebooks/pq_encode/
    pq_error; the compression step between int8 scalar quantization and
    binary sketches."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_error(emb, S.pq_codebooks(emb, m=8, k=16))


@q(
    "q_pq_topk",
    f"""WITH {_pq_codes_ctes()},
       qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       lut AS (
         SELECT c.vec_id, c.s,
                list_reduce(list_prepend(0.0, list_transform(
                  range(1, 8 + 1),
                  i -> CAST(qv.v[CAST(c.s * 8 + i AS INT)] AS DOUBLE)
                       * CAST(ct.cv[CAST(c.s * 8 + i AS INT)] AS DOUBLE))),
                  (acc, v) -> acc + v) AS contrib
         FROM codes c JOIN cent ct ON ct.j = c.j, qv),
       adc AS (
         SELECT vec_id, {_PQ_FOLD_S.format(expr='contrib')} AS a
         FROM lut GROUP BY vec_id
         ORDER BY a DESC, vec_id LIMIT 50)
       SELECT vec_id, ROUND(a, 6) AS adc_sim, ROUND(sim, 6) AS cos_sim
       FROM (SELECT adc.vec_id, adc.a,
                    {_DOTF.format(a='e2.embedding', b='qv.v')} AS sim
             FROM adc JOIN embeddings e2 USING (vec_id), qv) t
       ORDER BY sim DESC, vec_id LIMIT 10""",
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k with exact rerank: full-precision
    query -> per-subspace 16-entry LUT -> candidate score = m table
    lookups on the codes (the billion-vector scan trick), top-50 ADC
    candidates re-scored exactly, true top-10 returned
    (operators/similarity.pq_adc_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(emb, S.pq_codebooks(emb, m=8, k=16), 0, k=10, rerank=50)


@q(
    "q_ann_ivfpq",
    f"""WITH qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       ivfc AS (
         SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
       probe AS (
         SELECT cell FROM ivfc, qv
         ORDER BY {_DOTF.format(a='cv', b='qv.v')} DESC, cell LIMIT 4),
       asn AS (
         SELECT vec_id, cell FROM (
           SELECT e.vec_id, c.cell,
                  ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_DOTF.format(a='e.embedding', b='c.cv')} DESC, c.cell
                  ) AS rn
           FROM embeddings e CROSS JOIN ivfc c) t
         WHERE rn = 1),
       cand AS (
         SELECT e.vec_id, e.embedding
         FROM embeddings e JOIN asn USING (vec_id)
         WHERE asn.cell IN (SELECT cell FROM probe)),
       {_pq_codes_ctes(src='cand')},
       lut AS (
         SELECT c.vec_id, c.s,
                list_reduce(list_prepend(0.0, list_transform(
                  range(1, {_PQ_DS} + 1),
                  i -> CAST(qv.v[CAST(c.s * {_PQ_DS} + i AS INT)] AS DOUBLE)
                       * CAST(ct.cv[CAST(c.s * {_PQ_DS} + i AS INT)] AS DOUBLE))),
                  (acc, v) -> acc + v) AS contrib
         FROM codes c JOIN cent ct ON ct.j = c.j, qv),
       adc AS (
         SELECT vec_id, {_PQ_FOLD_S.format(expr='contrib')} AS a
         FROM lut GROUP BY vec_id
         ORDER BY a DESC, vec_id LIMIT 50)
       SELECT vec_id, ROUND(a, 6) AS adc_sim, ROUND(sim, 6) AS cos_sim
       FROM (SELECT adc.vec_id, adc.a,
                    {_DOTF.format(a='e2.embedding', b='qv.v')} AS sim
             FROM adc JOIN embeddings e2 USING (vec_id), qv) t
       ORDER BY sim DESC, vec_id LIMIT 10""",
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the FAISS billion-scale composition): coarse probe prunes
    the scan to 4/16 cells, PQ asymmetric distance scores the probed
    candidates at m LUT lookups each, exact rerank of the ADC top-50 —
    operators/similarity.ann_ivfpq_topk."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ann_ivfpq_topk(emb, 0, k=10, n_cells=16, n_probe=4, rerank=50)


# the canonical porthash32 twin (_PH_HI) salted per depth row
_CM_BUCKET = _PH_HI.format(c="{item} || '#' || '{d}'") + " % {w}"


def _cm_sql(depth: int = 4, width: int = 256) -> str:
    """SQL twin of sketches.cm_estimate_vs_exact: same salted portable
    hash family, same depth x width coordinate sketch, same min-fold."""
    probe_rows = " UNION ALL ".join(
        f"SELECT token, exact_n, {d} AS d, "
        + _CM_BUCKET.format(item="token", d=d, w=width)
        + " AS bucket FROM exact"
        for d in range(depth)
    )
    sk_rows = " UNION ALL ".join(
        f"SELECT {d} AS d, "
        + _CM_BUCKET.format(item="token", d=d, w=width)
        + " AS bucket FROM tok"
        for d in range(depth)
    )
    return f"""WITH tok AS (SELECT unnest({TOKS}) AS token FROM documents),
       exact AS (SELECT token, COUNT(*) AS exact_n FROM tok GROUP BY token),
       sk AS (SELECT d, bucket, COUNT(*) AS cnt
              FROM ({sk_rows}) GROUP BY d, bucket),
       probes AS ({probe_rows}),
       est AS (
         SELECT token, MIN(cnt) AS cm_n
         FROM probes JOIN sk USING (d, bucket) GROUP BY token)
       SELECT e.token, e.exact_n, CAST(est.cm_n AS BIGINT) AS cm_n,
              est.cm_n >= e.exact_n AS is_overestimate
       FROM exact e JOIN est USING (token)"""


@q("q_cm_sketch", _cm_sql(4, 256))
def q_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation audited against exact counts for
    the whole vocabulary — the mergeable point-query sketch alongside
    HLL (distinct), KLL (quantiles), and Misra-Gries (top-k); the
    one-sided >= guarantee is an output column, not an assumption
    (operators/sketches.cm_sketch / cm_estimate_vs_exact)."""
    from ..operators.sketches import cm_estimate_vs_exact

    return cm_estimate_vs_exact(load_table(spark, sf_dir, "documents"), depth=4, width=256)


def _hll_sql(p: int = 8) -> str:
    """SQL twin of sketches.hll_estimate over events.value per
    event_type, paired with exact ND — same integer-only rho, same
    bucket-ordered harmonic fold, same linear-counting branch."""
    w = 32 - p
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    bits = " + ".join(
        f"CASE WHEN rem >= {1 << i} THEN 1 ELSE 0 END" for i in range(w)
    )
    return f"""WITH it AS (
         SELECT event_type, CAST(value AS VARCHAR) AS item FROM events
         WHERE value IS NOT NULL),
       h AS (
         SELECT event_type,
                {_PH_HI.format(c='item')} AS hv
         FROM it),
       r AS (
         SELECT event_type, hv // {1 << w} AS bucket,
                {w + 1} - ({bits}) AS rho
         FROM (SELECT event_type, hv, hv % {1 << w} AS rem FROM h) t),
       regs AS (
         SELECT event_type, bucket, MAX(rho) AS m_reg
         FROM r GROUP BY event_type, bucket),
       agg AS (
         SELECT event_type,
                list_reduce(list_prepend(0.0,
                  list(POWER(2.0, -m_reg) ORDER BY bucket)),
                  (acc, v) -> acc + v) AS hsum,
                COUNT(*) AS nb
         FROM regs GROUP BY event_type),
       est AS (
         SELECT event_type,
                CASE WHEN {alpha * m * m} / (hsum + ({m} - nb)) <= {2.5 * m}
                          AND ({m} - nb) > 0
                     THEN {float(m)} * ln({float(m)} / CAST({m} - nb AS DOUBLE))
                     ELSE {alpha * m * m} / (hsum + ({m} - nb)) END AS e
         FROM agg),
       exact AS (
         SELECT event_type, COUNT(DISTINCT item) AS exact_nd FROM it
         GROUP BY event_type)
       SELECT x.event_type, CAST(x.exact_nd AS BIGINT) AS exact_nd,
              ROUND(e.e, 4) AS hll_est,
              ABS(ROUND(e.e, 4) - x.exact_nd) / x.exact_nd <= 0.2 AS within_3sigma
       FROM exact x JOIN est e USING (event_type)"""


@q("q_hll_portable", _hll_sql(8))
def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog (every register a checkable integer,
    unlike approx_count_distinct's private HLL++ state): distinct
    `value` strings per event_type, estimate beside the exact count and
    a 3-sigma accuracy flag (sigma = 1.04/sqrt(m) ~ 6.5% at p=8) —
    operators/sketches.hll_buckets / hll_estimate."""
    from ..operators.sketches import hll_estimate

    ev = load_events(spark, sf_dir)
    it = ev.select("event_type", F.col("value").cast("string").alias("item"))
    est = hll_estimate(it, "item", "event_type", p=8)
    exact = it.groupBy("event_type").agg(
        F.countDistinct("item").alias("exact_nd")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_nd",
        "hll_est",
        (
            F.abs(F.col("hll_est") - F.col("exact_nd")) / F.col("exact_nd")
            <= 0.2
        ).alias("within_3sigma"),
    )


def _kmeans_fit_sql(n_iters: int = 3) -> str:
    """SQL twin of similarity.kmeans_fit_steps: the Lloyd loop unrolled
    as (assign, means, centroid-rebuild) CTE triples.  Each round's
    means are ROUND(.., 6) — the same per-round rounding the Spark side
    collects and re-inlines, which pins cross-engine parity at every
    iteration boundary."""
    ctes = [
        """cent0 AS (
         SELECT vec_id AS cell, embedding AS cv FROM embeddings
         WHERE vec_id < 16)"""
    ]
    for r in range(1, n_iters + 1):
        ctes.append(
            f"""a{r} AS (
         SELECT vec_id, cell FROM (
           SELECT e.vec_id, c.cell,
                  ROW_NUMBER() OVER (
                    PARTITION BY e.vec_id
                    ORDER BY {_DOT.format(a='e.embedding', b='c.cv')} DESC, c.cell
                  ) AS rn
           FROM embeddings e CROSS JOIN cent{r - 1} c) t
         WHERE rn = 1)"""
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
         SELECT CAST(a.cell AS INT) AS cell, CAST(i - 1 AS INT) AS dim,
                ROUND(AVG(e.embedding[CAST(i AS INT)]), 6) AS v,
                COUNT(*) AS n
         FROM embeddings e JOIN a{r} a USING (vec_id),
              UNNEST(range(1, len(e.embedding) + 1)) AS t(i)
         GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""cent{r} AS (
         SELECT cell, list(CAST(v AS DOUBLE) ORDER BY dim) AS cv
         FROM m{r} GROUP BY cell)"""
        )
    return (
        "WITH "
        + ",\n       ".join(ctes)
        + f"\n       SELECT cell, dim, v AS centroid_val, n AS n_members FROM m{n_iters}"
    )


@q("q_kmeans_fit3", _kmeans_fit_sql(3))
def q_kmeans_fit3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE full Lloyd iterations (the loop, not just the certified
    single step): per round the driver holds only the K x d rounded
    coordinate matrix and re-inlines it as the next literal centroid
    table — operators/similarity.kmeans_fit_steps."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.kmeans_fit_steps(emb, n_iters=3, n_cells=16)


def _cdc_chunk_ctes(suffix: str, where: str) -> str:
    """CDC chunk CTEs (same expressions as q_cdc_dedup's oracle) over a
    filtered slice of documents, name-suffixed for composition."""
    return f"""d{suffix} AS (
         SELECT doc_id,
                regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
         FROM documents WHERE {where}),
       c{suffix} AS (
         SELECT doc_id, s,
                list_transform(string_split(s, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
         FROM d{suffix} WHERE length(s) >= 8),
       cutt{suffix} AS (
         SELECT doc_id, s,
                [0] || list_filter(range(8, length(s) + 1),
                  p -> p < length(s) AND
                       list_reduce(
                         list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(p - 7, p + 1),
                             i -> codes[CAST(i AS INT)])),
                         (acc, ch) -> (acc * 31 + ch) % 1000000007) % 32 = 0)
                || [length(s)] AS cuts
         FROM c{suffix}),
       ch{suffix} AS (
         SELECT doc_id,
                unnest(list_transform(range(1, len(cuts)),
                  i -> substring(s, CAST(cuts[CAST(i AS INT)] + 1 AS INT),
                                 CAST(cuts[CAST(i + 1 AS INT)]
                                      - cuts[CAST(i AS INT)] AS INT)))) AS chunk
         FROM cutt{suffix})"""


@q(
    "q_cdc_incremental",
    f"""WITH {_cdc_chunk_ctes('i', 'doc_id % 2 = 0')},
       {_cdc_chunk_ctes('n', 'doc_id % 2 = 1')},
       idx AS (SELECT DISTINCT md5(chunk) AS chunk_hash FROM chi),
       probe AS (
         SELECT doc_id, md5(chunk) AS chunk_hash,
                CAST(length(chunk) AS BIGINT) AS chunk_len
         FROM chn),
       st AS (
         SELECT p.doc_id,
                COUNT(*) AS n_chunks,
                CAST(SUM(CASE WHEN idx.chunk_hash IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_known,
                ROUND(CAST(SUM(CASE WHEN idx.chunk_hash IS NOT NULL
                                    THEN chunk_len ELSE 0 END) AS DOUBLE)
                      / SUM(chunk_len), 6) AS known_bytes_ratio
         FROM probe p LEFT JOIN idx USING (chunk_hash)
         GROUP BY p.doc_id)
       SELECT d.doc_id,
              COALESCE(st.n_chunks, 0) AS n_chunks,
              COALESCE(st.n_known, 0) AS n_known,
              st.known_bytes_ratio
       FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       LEFT JOIN st USING (doc_id)""",
)
def q_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest CDC dedup: the even-id half of the corpus is
    persisted once per process as the chunk-hash index; every odd-id
    document is then scored for how much of its CONTENT already exists
    (chunk and byte granularity) — operators/dedup.write_cdc_index /
    cdc_incremental_stats."""
    docs = load_table(spark, sf_dir, "documents")
    path = _CDC_IDX_CACHE.get(sf_dir)
    if path is None:
        path = os.path.join(_sink_root(), f"cdcidx_{len(_CDC_IDX_CACHE)}")
        D.write_cdc_index(docs.filter(F.col("doc_id") % 2 == 0), path)
        _CDC_IDX_CACHE[sf_dir] = path
    return D.cdc_incremental_stats(
        docs.filter(F.col("doc_id") % 2 == 1), spark, path
    )


_CDC_IDX_CACHE: dict[str, str] = {}


# --------------------------------------------------------- r5 additions

_BLOOM_PH = "('0x' || substring(md5({c}), 1, 8))::BIGINT"


def _bloom_sql(m_bits: int = 4096, k: int = 4) -> str:
    """SQL twin of sketches.bloom_build/bloom_might_contain over the
    BUILDING-segment customer keys probed by orders — same salted
    porthash32 positions, same 32-bit words, same k-bit test."""
    ph = _BLOOM_PH.format(c="CAST(c_custkey AS VARCHAR) || '#b' || d")
    php = _BLOOM_PH.format(c="CAST(o_custkey AS VARCHAR) || '#b' || d")
    salts = ", ".join(f"({d})" for d in range(k))
    return f"""WITH salts(d) AS (VALUES {salts}),
       keys AS (
         SELECT DISTINCT c_custkey FROM customer
         WHERE c_mktsegment = 'BUILDING'),
       kpos AS (
         SELECT ({ph} % {m_bits}) AS pos FROM keys CROSS JOIN salts),
       words AS (
         SELECT pos // 32 AS widx,
                bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
         FROM kpos GROUP BY 1),
       ppos AS (
         SELECT o_orderkey, o_orderpriority, o_custkey, d,
                ({php} % {m_bits}) AS pos
         FROM orders CROSS JOIN salts),
       chk AS (
         SELECT o_orderkey, o_orderpriority, o_custkey,
                COUNT(*) FILTER (WHERE
                  (COALESCE(w.bits, 0)
                   & (1::BIGINT << CAST(pos % 32 AS INT))) <> 0) AS nbits
         FROM ppos LEFT JOIN words w ON pos // 32 = w.widx
         GROUP BY 1, 2, 3),
       fl AS (
         SELECT o_orderpriority AS grp, (nbits = {k}) AS p,
                (o_custkey IN (SELECT c_custkey FROM keys)) AS t
         FROM chk)
       SELECT grp AS "group",
              CAST(COUNT(*) AS BIGINT) AS n_probe,
              CAST(SUM(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
              CAST(SUM(CASE WHEN p AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
                AS n_false_pos
       FROM fl GROUP BY 1"""


@q("q_bloom_semi", _bloom_sql(4096, 4))
def q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join audit (operators/sketches.bloom_build /
    bloom_might_contain / bloom_semi_audit): a 4096-bit k=4 portable
    bloom over the BUILDING-segment customer keys tests every order
    MAP-SIDE; per priority the audit counts bloom passes vs exact
    matches.  m is deliberately small enough that false positives are
    NON-ZERO at the gate sf (the fp accounting is the point); the
    production knob is m ~ 10 bits/key.  n_pass >= n_true in every row
    is the no-false-negative guarantee, oracle-pinned."""
    from ..operators.sketches import bloom_semi_audit

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return bloom_semi_audit(
        cust.filter(F.col("c_mktsegment") == "BUILDING"),
        "c_custkey",
        orders,
        "o_custkey",
        "o_orderpriority",
        m_bits=4096,
        k=4,
    )


@q(
    "q_props_variant",
    """WITH x0 AS (
         SELECT event_type AS grp,
                TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS kd
         FROM events),
       x AS (
         SELECT grp,
                CASE WHEN kd = floor(kd) THEN CAST(kd AS BIGINT) END AS k
         FROM x0)
       SELECT grp AS "group",
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(COUNT(k) AS BIGINT) AS n_valid,
              MIN(k) AS min_k, MAX(k) AS max_k,
              CAST(SUM(k) AS BIGINT) AS sum_k,
              ROUND(AVG(CAST(k AS DOUBLE)), 6) AS avg_k
       FROM x GROUP BY grp""",
)
def q_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read property stats via Spark 4 VARIANT — one
    parse_json per row, typed variant_get extraction, per-type reject
    accounting (operators/transforms.json_props_stats)."""
    from ..operators.transforms import json_props_stats

    return json_props_stats(load_events(spark, sf_dir))


@q(
    "q_hist_quantiles",
    """WITH base AS (
         SELECT event_type AS g, CAST(value AS DOUBLE) AS v
         FROM events WHERE value IS NOT NULL),
       rng AS (
         SELECT g, MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n,
                quantile_cont(v, [0.5, 0.9]) AS ex
         FROM base GROUP BY g),
       hist AS (
         SELECT t.g,
                CASE WHEN r.mx <= r.mn THEN 0
                     ELSE CAST(LEAST(63, GREATEST(0,
                       FLOOR((t.v - r.mn) / (r.mx - r.mn) * 64))) AS INT)
                END AS b,
                COUNT(*) AS c
         FROM base t JOIN rng r USING (g) GROUP BY 1, 2),
       cum AS (
         SELECT g, b, c, SUM(c) OVER (PARTITION BY g ORDER BY b) AS cum
         FROM hist),
       quants AS (
         SELECT r.g, r.mn, r.mx, r.n, r.ex, qv.qi, qv.q,
                qv.q * CAST(r.n AS DOUBLE) AS target
         FROM rng r CROSS JOIN (VALUES (1, 0.5), (2, 0.9)) qv(qi, q)),
       hit AS (
         SELECT q.g, q.qi, q.q, q.mn, q.mx, q.n, q.ex, q.target,
                MIN(c.b) AS b
         FROM quants q JOIN cum c USING (g)
         WHERE CAST(c.cum AS DOUBLE) >= q.target
         GROUP BY ALL),
       hb AS (
         SELECT h.*, c.c, c.cum,
                CASE WHEN h.mx <= h.mn THEN h.mn
                     ELSE h.mn + (CAST(h.b AS DOUBLE)
                       + (h.target - CAST(c.cum - c.c AS DOUBLE))
                         / CAST(c.c AS DOUBLE))
                       * ((h.mx - h.mn) / 64.0)
                END AS est,
                h.ex[h.qi] AS exact
         FROM hit h JOIN cum c ON h.g = c.g AND h.b = c.b)
       SELECT g AS "group", ROUND(q, 2) AS q, CAST(n AS BIGINT) AS n,
              ROUND(est, 4) AS est_q, ROUND(exact, 4) AS exact_q,
              CASE WHEN mx <= mn THEN 0.0
                   ELSE ROUND(ABS(est - exact) / ((mx - mn) / 64.0), 2)
              END AS err_ratio
       FROM hb""",
)
def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles audited against exact percentiles per
    event_type — the mergeable-quantile member of the sketch family
    (operators/sketches.hist_quantile_audit): constant per-group state,
    interpolation error bounded by one bucket width and EMITTED as
    err_ratio."""
    from ..operators.sketches import hist_quantile_audit

    ev = load_events(spark, sf_dir)
    return hist_quantile_audit(ev, "value", "event_type", n_buckets=64, qs=(0.5, 0.9))


@q(
    "q_doc_chunks",
    """WITH w AS (
         SELECT doc_id, string_split(text, ' ') AS ws,
                len(string_split(text, ' ')) AS n
         FROM documents),
       s AS (
         SELECT doc_id, ws, n,
                UNNEST(generate_series(0,
                  CASE WHEN n <= 32 THEN 0
                       ELSE ((n - 32 + 23) // 24) * 24 END, 24)) AS st
         FROM w)
       SELECT doc_id,
              CAST(st // 24 AS BIGINT) AS chunk_id,
              CAST(LEAST(32, n - st) AS BIGINT) AS n_tokens,
              array_to_string(ws[st + 1 : st + 32], ' ') AS chunk_text
       FROM s""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (operators/text.doc_chunks):
    every document splits into 32-token chunks at stride 24 (8 tokens
    of boundary context shared between neighbors) — the corpus ->
    training-example step that SPLITS long docs, complementing
    q_seq_pack which BINS short ones.  Map-only, no shuffle; both
    engines slice the same whitespace-split word array, so chunk text
    is byte-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.doc_chunks(docs, window=32, stride=24)


@q(
    "q_stream_sessions",
    """WITH s AS (
         SELECT user_id, ts, value,
           SUM(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
         FROM (SELECT user_id, ts, event_id, value,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev
               FROM events) t),
       agg AS (
         SELECT user_id, MIN(ts) AS session_start,
                MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
         FROM s GROUP BY user_id, session_id)
       SELECT user_id, session_start, session_end, n_events, sum_value
       FROM agg
       WHERE session_end <=
         (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 30 MINUTE
          FROM events)""",
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming SESSION windows (streaming/pipeline.
    stream_session_windows) replayed availableNow to a parquet sink —
    the second judged streaming entry beside q_stream_replay, covering
    the engine-native session-merge state path (T2/T3) rather than the
    applyInPandasWithState buffer path.

    Append-mode emission is DETERMINISTIC and SQL-expressible: a
    session is emitted iff its end precedes the final watermark —
    max event time FLOORED TO MILLISECONDS (Spark's event-time stats
    track ms) minus the 30-minute delay — so the oracle is the
    verified batch sessionize SQL filtered to closed sessions with the
    same ms-truncated cutoff.  Streaming/batch parity is the judged
    contract itself (tests/test_streaming.py pins the same equality
    per-session)."""
    import tempfile

    from ..streaming.pipeline import (
        events_file_stream,
        stream_session_windows,
        stream_state_partitions,
    )

    sink = os.path.join(_sink_root(), f"sess_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_sess_q_") as ckpt, stream_state_partitions(spark):
        ev_stream = events_file_stream(spark, sf_dir).select(
            "user_id", "ts", "value"
        )
        handle = (
            stream_session_windows(ev_stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination()
    return spark.read.parquet(sink)


@q(
    "q_stream_topk",
    f"""WITH tok AS (
         SELECT UNNEST({TOKS}) AS token FROM documents),
       tot AS (SELECT COUNT(*) AS n FROM tok),
       cnt AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
       SELECT token, cnt, ROUND(CAST(cnt AS DOUBLE) / n, 6) AS share
       FROM cnt, tot WHERE cnt * 64 > n""",
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: the Misra-Gries sketch kept as
    Structured Streaming STATE (streaming/pipeline.
    stream_heavy_hitter_candidates — applyInPandasWithState, one
    capacity-bounded summary per shard key) replayed availableNow to a
    parquet sink, then the candidate UNION exactly re-verified batch
    side (operators/sketches.exact_verify_candidates).  The judged
    contract is the per-shard MG superset guarantee itself: if any
    token with global frequency > n/64 escaped the streaming state, the
    exact re-verify would miss a row the oracle has.  Same shape and
    exactness argument as the batch q_heavy_hitters (cnt*k > n is an
    integer predicate; share is a 6dp-rounded exact-count ratio)."""
    import tempfile

    from ..operators.sketches import exact_verify_candidates
    from ..streaming.pipeline import (
        documents_file_stream,
        stream_heavy_hitter_candidates,
        stream_state_partitions,
    )

    # r14 (r13 VERDICT #4 stream audit): this is an
    # applyInPandasWithState stream like sessions/join/candles — at
    # session width its MG stage ran 32 state partitions for 8 group
    # keys, 24 of them empty yet each paying ~850 ms of state-store +
    # Python-worker machinery (sweeps/r14/audit_q_stream_topk.json:
    # one 32-task stage = 27 s of 28 s total task time).  Pin the
    # state partition count like the other stateful streams.
    sink = os.path.join(_sink_root(), f"mgtopk_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_mgtopk_q_") as ckpt, stream_state_partitions(spark):
        doc_stream = documents_file_stream(spark, sf_dir)
        handle = (
            stream_heavy_hitter_candidates(doc_stream, capacity=64, n_groups=8)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination()
    cands = spark.read.parquet(sink).select("token").distinct()
    docs = load_table(spark, sf_dir, "documents")
    return exact_verify_candidates(docs, cands, k=64)


@q(
    "q_tar_writer",
    """SELECT CAST(doc_id AS VARCHAR) AS key,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS payload_md5
       FROM documents""",
)
def q_tar_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tar WRITE path judged through the Spark 4 Python DataSource
    surface (sources/tar_datasource.TarShardWriter): documents written
    via ``df.write.format("tar_shards")`` — one archive per partition,
    two-phase task commit (tmp + os.replace at driver commit) — then
    read back through the DataSource reader and reduced to the
    (key, n_bytes, md5) byte-survival contract.  Completes the
    DataSource surface: q_tar_shards/q_tar_datasource pin the two READ
    paths; this pins the WRITE path against the same oracle."""
    from ..sources.tar_datasource import write_tar_shards_ds

    path = os.path.join(_sink_root(), f"tarw_{next(_SINK_SEQ)}")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key"),
        F.col("text").cast("binary").alias("payload"),
    )
    write_tar_shards_ds(docs, path, n_shards=4)
    back = spark.read.format("tar_shards").load(path)
    return back.select(
        "key",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@q(
    "q_stream_join",
    """SELECT e.user_id, e.event_id AS probe_event_id,
              w.event_id AS window_event_id, e.ts AS probe_ts
       FROM events e JOIN events w
         ON e.user_id = w.user_id AND w.event_type = 'error'
        AND e.ts >= w.ts AND e.ts <= w.ts + INTERVAL 10 MINUTE
       WHERE e.event_type IN ('view', 'click')""",
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join judged end-to-end — the
    fourth judged streaming entry: both sides watermarked, the time
    range bounds each side's buffered state
    (streaming/pipeline.stream_stream_join), availableNow replay to a
    parquet sink.  An inner stream-stream join emits every matched
    pair as it forms (watermarks bound STATE, not emission), so under
    a single-batch replay the emitted set is exactly the batch
    equi+range join — the oracle."""
    import tempfile

    from ..streaming.pipeline import (
        events_file_stream,
        stream_state_partitions,
        stream_stream_join,
    )

    sink = os.path.join(_sink_root(), f"ssj_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_ssj_q_") as ckpt, stream_state_partitions(spark):
        src = events_file_stream(spark, sf_dir)
        probes = src.filter(
            F.col("event_type").isin("view", "click")
        ).select("user_id", "event_id", "ts")
        wins = src.filter(F.col("event_type") == "error").select(
            "user_id", "event_id", "ts"
        )
        handle = (
            stream_stream_join(probes, wins)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination()
    out = spark.read.parquet(sink)
    return out.select(
        "user_id",
        "probe_event_id",
        "window_event_id",
        F.col("probe_ts").cast("timestamp_ntz").alias("probe_ts"),
    )


@q(
    "q_stream_candles",
    """WITH c AS (
         SELECT user_id AS symbol,
                CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket_start,
                ROUND(arg_min(value, ts), 4) AS open_px,
                ROUND(MAX(value), 4) AS high_px,
                ROUND(MIN(value), 4) AS low_px,
                ROUND(arg_max(value, ts), 4) AS close_px,
                COUNT(*) AS n_ticks
         FROM events GROUP BY 1, 2)
       SELECT symbol, bucket_start, open_px, high_px, low_px, close_px,
              n_ticks
       FROM c
       WHERE bucket_start + INTERVAL 1 HOUR <=
         (SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 30 MINUTE
          FROM events)""",
)
def q_stream_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked TUMBLING-window streaming aggregation — the third
    judged streaming entry beside q_stream_replay (keyed state) and
    q_stream_sessions (session merge): streaming/pipeline.stream_candles
    replayed availableNow to a parquet sink.  Covers the workhorse
    structured-streaming shape (windowed groupBy + append-mode
    watermark eviction, T1/T3).

    Emission is deterministic and SQL-expressible: a 1-hour window is
    emitted iff its END precedes the final watermark (ms-floored max
    event time minus the 30-minute delay), so the oracle is the batch
    hourly OHLC rollup filtered to closed windows — streaming/batch
    parity IS the judged contract.  min_by/max_by are unambiguous
    because the corpus has no duplicate (user_id, ts) pairs."""
    import tempfile

    from ..streaming.pipeline import (
        events_file_stream,
        stream_candles,
        stream_state_partitions,
    )

    sink = os.path.join(_sink_root(), f"cndl_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_cndl_q_") as ckpt, stream_state_partitions(spark):
        ticks = events_file_stream(spark, sf_dir).select(
            F.col("user_id").alias("symbol"),
            F.col("ts").alias("time"),
            F.col("value").alias("close"),
        )
        handle = (
            stream_candles(ticks)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination()
    out = spark.read.parquet(sink)
    return out.select(
        "symbol",
        F.col("bucket_start").cast("timestamp_ntz").alias("bucket_start"),
        F.round("open_px", 4).alias("open_px"),
        F.round("high_px", 4).alias("high_px"),
        F.round("low_px", 4).alias("low_px"),
        F.round("close_px", 4).alias("close_px"),
        F.col("n_ticks").cast("long").alias("n_ticks"),
    )


@q(
    "q_backfill_job",
    f"""WITH {BARS_CTE},
       s AS (
         SELECT symbol, time,
           CASE WHEN COUNT(close) OVER wf >= 20
                THEN ROUND(AVG(close) OVER wf, 4) END AS sma_20,
           COUNT(*) OVER (PARTITION BY symbol ORDER BY time, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS hist
         FROM bars
         WINDOW wf AS (PARTITION BY symbol ORDER BY time, event_id
                       ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       SELECT symbol,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              MIN(time) AS first_time, MAX(time) AS last_time,
              CAST(0 AS BIGINT) AS rows_rerun
       FROM s WHERE hist >= 26 AND sma_20 IS NOT NULL
       GROUP BY symbol""",
)
def q_backfill_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-accumulate-and-bulk-write executable (SURVEY §2.1 A2,
    jobs.backfill_job: events -> 21-column indicator table ->
    date-partitioned upsert-ignore parquet) judged end-to-end: the
    query runs the job TWICE against one sink and returns the written
    table's per-symbol audit with the second run's written-row count as
    a column — the oracle pins rows_rerun = 0, so idempotent re-run
    (T4's batch half) is itself part of the value-hash contract.  Row
    counts per symbol equal the warmup-gate SQL's (>=26 rows AND
    non-NULL sma_20 — the reference's emission gate)."""
    from .. import jobs

    path = os.path.join(_sink_root(), f"backfill_{next(_SINK_SEQ)}")
    jobs.backfill_job(spark, sf_dir, path, warmup=26)
    rerun = jobs.backfill_job(spark, sf_dir, path, warmup=26)
    if os.path.isdir(path):
        tbl = spark.read.parquet(path)
    else:  # no row passed the gate, so upsert_ignore wrote no table
        schema = jobs.indicator_table(jobs.bars(spark, sf_dir), warmup=26).schema
        tbl = spark.createDataFrame([], schema)
    return (
        tbl.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("time").alias("first_time"),
            F.max("time").alias("last_time"),
        )
        .withColumn("rows_rerun", F.lit(rerun).cast("long"))
    )


@q(
    "q_backfill_incremental",
    f"""WITH {BARS_CTE},
       r1 AS (
         SELECT symbol, time, event_id,
           CASE WHEN COUNT(close) OVER w20 >= 20
                THEN ROUND(AVG(close) OVER w20, 4) END AS sma_20,
           CASE WHEN COUNT(close) OVER w14 >= 14 THEN
             100.0 * (close - MIN(low) OVER w14)
               / NULLIF(MAX(high) OVER w14 - MIN(low) OVER w14, 0.0)
           END AS k_raw
         FROM bars
         WINDOW w20 AS (PARTITION BY symbol ORDER BY time, event_id
                        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
                w14 AS (PARTITION BY symbol ORDER BY time, event_id
                        ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
       r2 AS (
         SELECT symbol, time, sma_20,
           CASE WHEN COUNT(k_raw) OVER w3 >= 3
                THEN ROUND(AVG(k_raw) OVER w3, 4) END AS stoch_k_14
         FROM r1
         WINDOW w3 AS (PARTITION BY symbol ORDER BY time, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
       SELECT symbol, time, sma_20, stoch_k_14,
              CAST(0 AS BIGINT) AS rows_rerun
       FROM r2 WHERE time >= TIMESTAMP '2024-01-24 00:00:00'""",
)
def q_backfill_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental indicator maintenance judged end-to-end
    (jobs.incremental_backfill_job): seed the table with the pre-cut
    history, append post-cut rows from a 60-row-tail recompute context,
    re-run the same increment (must write 0), and return the post-cut
    slice's BOUNDED-window columns — sma_20 (20-row frame) and
    stoch_k_14 (14+3) fit inside the 60-row context, so the oracle is
    the FULL-history window SQL: incremental output must be exactly
    what a from-scratch recompute would emit for those columns, plus
    rows_rerun = 0 pinning idempotence.  (The re-seeded infinite-memory
    recurrences are deliberately excluded — their incremental semantics
    match the reference's 60-row consumer buffer, pinned in
    tests/test_jobs.py.)"""
    from .. import jobs
    from ..operators.indicators import indicator_table
    from ..sinks import upsert_ignore
    from ..sources.tables import bars as _bars

    cut = "2024-01-24 00:00:00"
    path = os.path.join(_sink_root(), f"bf_inc_{next(_SINK_SEQ)}")
    b = _bars(spark, sf_dir)
    pre = indicator_table(b.filter(F.col("time") < F.lit(cut)), warmup=None)
    upsert_ignore(pre, path, keys=("time", "symbol"))
    jobs.incremental_backfill_job(spark, sf_dir, path, since=cut)
    rerun = jobs.incremental_backfill_job(spark, sf_dir, path, since=cut)
    if os.path.isdir(path):
        out = spark.read.parquet(path)
    else:  # no row reached the sink, so upsert_ignore wrote no table
        out = spark.createDataFrame([], pre.schema)
    out = out.filter(F.col("time") >= F.lit(cut))
    return out.select("symbol", "time", "sma_20", "stoch_k_14").withColumn(
        "rows_rerun", F.lit(rerun).cast("long")
    )


@q(
    "q_tar_datasource",
    """SELECT CAST(doc_id AS VARCHAR) AS key,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              md5(text) AS payload_md5
       FROM documents""",
)
def q_tar_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tar-shard roundtrip judged through the Spark 4 Python
    DataSource surface (sources/tar_datasource.py): same archives as
    q_tar_shards (shared per-process cache), read back via
    ``spark.read.format("tar_shards")`` — one InputPartition per
    archive — and reduced to the same (key, n_bytes, md5) byte-survival
    contract.  Together with q_tar_shards this oracle-pins BOTH read
    surfaces over identical bytes."""
    from ..sources.formats import write_tar_shards
    from ..sources.tar_datasource import register_tar_datasource

    path = _TAR_CACHE.get(sf_dir)
    if path is None:
        path = os.path.join(_sink_root(), f"tar_{len(_TAR_CACHE)}")
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("string").alias("key"),
            F.col("text").cast("binary").alias("payload"),
        )
        write_tar_shards(docs, path, n_shards=4)
        _TAR_CACHE[sf_dir] = path
    register_tar_datasource(spark)
    back = spark.read.format("tar_shards").load(path)
    return back.select(
        "key",
        F.length("payload").cast("long").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@q(
    "q_prefix_jaccard",
    f"""WITH {_SHINGLE_CTES},
       cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
             FROM sh a JOIN sh b ON a.shingle = b.shingle
                                AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6)
                AS jaccard
       FROM p JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / (ca.n + cb.n - inter) >= 0.5""",
    tier="measurement",
)
def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard pairs via PREFIX-FILTER candidate
    pruning (AllPairs/PPJoin — operators/dedup.prefix_jaccard_pairs):
    only each doc's rarest |x|-ceil(t|x|)+1 shingles enter the join,
    vs q_dedup_ngram's every-shared-shingle join.  The oracle is the
    BRUTE-FORCE join: prefix filtering is provably lossless for
    Jaccard >= t, so hash-equality with the unpruned answer is the
    completeness proof itself.  Threshold comparison is an exact
    integer rational on both engines."""
    return D.prefix_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, shingle_n=3
    )


@q(
    "q_prefix_jaccard_capped",
    f"""WITH {_SHINGLE_CTES},
       nn AS (SELECT COUNT(*) AS n FROM documents),
       voc AS (SELECT shingle, COUNT(*) AS dfr FROM sh GROUP BY shingle),
       cnt AS (
         SELECT sh.doc_id,
                COUNT(*) FILTER (WHERE dfr * 2 <= nn.n * 1) AS n_kept,
                COUNT(*) FILTER (WHERE dfr * 2 > nn.n * 1) AS n_capped
         FROM sh JOIN voc USING (shingle), nn GROUP BY sh.doc_id),
       blk AS (
         SELECT doc_id,
                ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % GREATEST(1, (SELECT n FROM nn) // 500) AS b,
                GREATEST(1, (SELECT n FROM nn) // 500) AS n_blocks
         FROM documents),
       kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN voc USING (shingle), nn
                WHERE dfr * 2 <= nn.n * 1),
       p AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         JOIN blk ba ON ba.doc_id = a.doc_id
         JOIN blk bb ON bb.doc_id = b.doc_id AND ba.b = bb.b
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / (ca.n_kept + cb.n_kept - inter), 6)
                AS jaccard,
              ca.n_capped AS capped_a, cb.n_capped AS capped_b,
              bk.n_blocks
       FROM p JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b
              JOIN blk bk ON bk.doc_id = doc_a
       WHERE CAST(inter AS DOUBLE) / (ca.n_kept + cb.n_kept - inter) >= 0.5""",
)
def q_prefix_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded AllPairs/PPJoin twin (r9 birth, r8 VERDICT #5 — the
    unbounded q_prefix_jaccard measured 37x at 10x and stays as the
    measurement twin): shingle df-cap (integer predicate, audited via
    capped_a/capped_b) + corpus-scaled md5 doc blocks (audited via
    n_blocks), the ngram_containment_capped_pairs treatment applied to
    the prefix-filter family.  Within a (block, capped-space) cell the
    prefix + positional pruning is lossless, so the oracle is the
    brute-force all-shared-kept-shingle join under the same block key —
    hash-equality with it proves completeness."""
    return D.prefix_jaccard_capped_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5, shingle_n=3
    )


@q(
    "q_dsir_weights",
    f"""WITH tok AS (
         SELECT doc_id, lang, unnest({TOKS}) AS token FROM documents),
       fs AS (SELECT token, COUNT(*) AS cs FROM tok GROUP BY token),
       ft AS (SELECT token, COUNT(*) AS ct FROM tok WHERE lang = 'en'
              GROUP BY token),
       tot AS (SELECT (SELECT COUNT(*) FROM tok) AS tot_s,
                      (SELECT COUNT(*) FROM fs) AS vocab,
                      (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS tot_t),
       j AS (SELECT t.doc_id,
               LN(((COALESCE(ft.ct, 0) + 1)
                     / CAST(tot.tot_t + tot.vocab AS DOUBLE))
                  / ((fs.cs + 1)
                     / CAST(tot.tot_s + tot.vocab AS DOUBLE))) AS lr
             FROM tok t JOIN fs USING (token) LEFT JOIN ft USING (token), tot),
       qj AS (SELECT doc_id, CAST(ROUND(lr * 1e6) AS BIGINT) AS qlr FROM j)
       SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
              FLOOR(SUM(qlr) / COUNT(*)) / 1e6 AS avg_logratio
       FROM qj GROUP BY doc_id""",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (add-1 unigram LM log-ratio, target =
    lang 'en') per document, quantized to integer micro-units per token
    with a FLOOR-pattern mean (order-invariant — the r6 ROUND(AVG(LN))
    form was accumulation-order-sensitive) —
    operators/curation.dsir_weights."""
    from ..operators.curation import dsir_weights

    return dsir_weights(load_table(spark, sf_dir, "documents"), target_lang="en")


def _hll_union_sql(p: int = 8) -> str:
    """SQL twin of sketches.hll_set_algebra over the click/purchase
    value sets: per-cohort portable registers, max-merged union sketch,
    inclusion-exclusion intersection, exact audit on the same scan."""
    w = 32 - p
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    bits = " + ".join(
        f"CASE WHEN rem >= {1 << i} THEN 1 ELSE 0 END" for i in range(w)
    )
    return f"""WITH it AS (
         SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS cohort,
                CAST(value AS VARCHAR) AS item
         FROM events
         WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
       h AS (SELECT cohort, {_PH_HI.format(c='item')} AS hv FROM it),
       r AS (SELECT cohort, hv // {1 << w} AS bucket,
                    {w + 1} - ({bits}) AS rho
             FROM (SELECT cohort, hv, hv % {1 << w} AS rem FROM h) t),
       regs AS (SELECT cohort, bucket, MAX(rho) AS m_reg
                FROM r GROUP BY cohort, bucket),
       allregs AS (
         SELECT cohort, bucket, m_reg FROM regs
         UNION ALL
         SELECT 'union' AS cohort, bucket, MAX(m_reg) AS m_reg
         FROM regs GROUP BY bucket),
       agg AS (
         SELECT cohort,
                list_reduce(list_prepend(0.0,
                  list(POWER(2.0, -m_reg) ORDER BY bucket)),
                  (acc, v) -> acc + v) AS hsum,
                COUNT(*) AS nb
         FROM allregs GROUP BY cohort),
       est AS (
         SELECT cohort,
                ROUND(CASE WHEN {alpha * m * m} / (hsum + ({m} - nb)) <= {2.5 * m}
                           AND ({m} - nb) > 0
                      THEN {float(m)} * ln({float(m)} / CAST({m} - nb AS DOUBLE))
                      ELSE {alpha * m * m} / (hsum + ({m} - nb)) END, 4) AS e
         FROM agg),
       ep AS (
         SELECT MAX(CASE WHEN cohort = 'a' THEN e END) AS est_a,
                MAX(CASE WHEN cohort = 'b' THEN e END) AS est_b,
                MAX(CASE WHEN cohort = 'union' THEN e END) AS est_union
         FROM est),
       ex AS (
         SELECT COUNT(DISTINCT CASE WHEN cohort = 'a' THEN item END) AS exact_a,
                COUNT(DISTINCT CASE WHEN cohort = 'b' THEN item END) AS exact_b,
                COUNT(DISTINCT item) AS exact_union
         FROM it)
       SELECT est_a, est_b, est_union,
              ROUND(est_a + est_b - est_union, 4) AS est_inter,
              CAST(exact_a AS BIGINT) AS exact_a,
              CAST(exact_b AS BIGINT) AS exact_b,
              CAST(exact_union AS BIGINT) AS exact_union,
              CAST(exact_a + exact_b - exact_union AS BIGINT) AS exact_inter,
              ROUND(ROUND(est_a + est_b - est_union, 4)
                    / NULLIF(est_union, 0.0), 6) AS jacc_est
       FROM ep, ex"""


@q("q_hll_union", _hll_union_sql(8))
def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap set algebra on mergeable portable HLL sketches
    (click vs purchase value sets): per-cohort estimates, max-merged
    union, inclusion-exclusion intersection, exact audit —
    operators/sketches.hll_set_algebra."""
    from ..operators.sketches import hll_set_algebra

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    items = ev.select(
        F.when(F.col("event_type") == "click", F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("cohort"),
        F.col("value").cast("string").alias("item"),
    )
    return hll_set_algebra(items, "item", "cohort", p=8)


def _logreg_sql(iters: int = 3, lr: float = 1.0) -> str:
    """SQL twin of curation.logreg_quality: the same batch-GD recursion
    unrolled into one CTE per iteration (weights 6dp-rounded between
    iterations on both engines), final accuracy by dot-product sign."""
    sw = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"
    feats = f"""f AS (
  SELECT 1.0 AS x0,
         CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
         CAST(len(list_filter(toks, x -> x IN ({sw}))) AS DOUBLE)
           / NULLIF(CAST(len(toks) AS DOUBLE), 0.0) AS x2,
         CAST(len(array_to_string(toks, '')) AS DOUBLE)
           / NULLIF(CAST(len(toks) AS DOUBLE), 0.0) / 10.0 AS x3,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
  FROM (SELECT {TOKS} AS toks, lang FROM documents) t)"""
    ctes = [feats]
    prev = None
    for i in range(1, iters + 1):
        if prev is None:
            dot = "0.0 * x0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3"
            base = ["0.0"] * 4
            src = "f"
        else:
            # the prior CTE is one row, so its columns are per-row
            # constants inside AVG; outside the aggregate they must be
            # wrapped (MAX of a single value) to satisfy grouping rules
            dot = " + ".join(f"{prev}.w{j} * x{j}" for j in range(4))
            base = [f"MAX({prev}.w{j})" for j in range(4)]
            src = f"f CROSS JOIN {prev}"
        sig = f"1.0 / (1.0 + EXP(-({dot})))"
        cols = ", ".join(
            f"ROUND({base[j]} - {lr} * AVG(({sig} - y) * x{j}), 6) AS w{j}"
            for j in range(4)
        )
        ctes.append(f"w{i} AS (SELECT {cols} FROM {src})")
        prev = f"w{i}"
    final_dot = " + ".join(f"{prev}.w{j} * x{j}" for j in range(4))
    cte_block = ",\n".join(ctes)
    return f"""WITH {cte_block},
s AS (
  SELECT CAST(SUM(CASE WHEN (({final_dot}) > 0) = (y = 1.0)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         COUNT(*) AS n_docs,
         MAX({prev}.w0) AS w_bias, MAX({prev}.w1) AS w_len,
         MAX({prev}.w2) AS w_stop, MAX({prev}.w3) AS w_wlen
  FROM f CROSS JOIN {prev})
SELECT w_bias, w_len, w_stop, w_wlen, n_correct, n_docs,
       ROUND(CAST(n_correct AS DOUBLE) / n_docs, 6) AS accuracy
FROM s"""


@q("q_logreg_quality", _logreg_sql(3, 1.0))
def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality/domain classifier trained in-engine
    by 3 full-batch GD steps (deterministic doc features, weights
    6dp-rounded between iterations) — curation.logreg_quality.
    Corpus note: the generator assigns lang independently of text, so
    feature separability is ~nil here and the learned model converges
    to the majority class (the Bayes limit on this corpus — verified
    per-lang stopword ratios differ <0.7pp); learnability on a
    separable corpus is pinned by tests/test_r6_analytics.py."""
    from ..operators.curation import logreg_quality

    return logreg_quality(load_table(spark, sf_dir, "documents"), "en", iters=3, lr=1.0)


@q(
    "q_gopher_rules",
    f"""WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
       m AS (SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n,
               CAST(len(array_to_string(toks, '')) AS BIGINT) AS chars,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','to','in','is')))
                    AS BIGINT) AS n_stop
             FROM t)
       SELECT doc_id, n AS n_tokens,
              n >= 20 AND n <= 100000 AS r_len,
              3 * n <= chars AND chars <= 10 * n AS r_wlen,
              5 * n_alpha >= 4 * n AS r_alpha,
              n_stop >= 2 AS r_stop,
              (n >= 20 AND n <= 100000) AND (3 * n <= chars AND chars <= 10 * n)
                AND (5 * n_alpha >= 4 * n) AND (n_stop >= 2) AS keep
       FROM m""",
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard rule gates per document (integer-only audit
    flags + conjunctive keep) — operators/text.gopher_rules."""
    return TX.gopher_rules(load_table(spark, sf_dir, "documents"))


@q(
    "q_stream_dedup",
    """SELECT DISTINCT user_id * 1000 + event_id % 7 AS key FROM events""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged effectively-once delivery (SURVEY.md T4): the event stream
    is staged into three time-sliced files, replayed as three
    micro-batches through the replay-safe bloom-dedup sink
    (streaming/pipeline.stream_bloom_dedup — bloom persists BEFORE the
    append, missing bloom demotes to verify-everything), and the sink's
    key column is returned.  The oracle is simply DISTINCT keys: any
    duplicate appended across overlapping batches, or any key dropped
    by a bloom false positive, breaks the row-count/value-hash match —
    the exactly-once guarantee IS the contract, independent of
    micro-batch arrival order."""
    import os as _os
    import tempfile

    from ..streaming.pipeline import stream_bloom_dedup

    ev = load_events(spark, sf_dir).select(
        (F.col("user_id") * F.lit(1000) + F.col("event_id") % F.lit(7)).alias("key"),
        "event_id",
        F.pmod(F.col("event_id"), F.lit(3)).alias("slice"),
    )
    root = _os.path.join(_sink_root(), f"sdedup_{next(_SINK_SEQ)}")
    src = _os.path.join(root, "src")
    out = _os.path.join(root, "out")
    # ONE staging job: slice by event_id mod 3 (batch membership is
    # irrelevant to the DISTINCT oracle — only exactly-once is) and let
    # partitionBy fan the three files out; keys recur across slices, so
    # every batch overlaps the previous ones.  r13: the original
    # coalesce(1) pinned the ENTIRE upstream scan+projection to one
    # task to guarantee one file per slice; repartition(slice) gives
    # the same guarantee (each slice value hashes to exactly one
    # post-shuffle task) with the scan parallel.
    ev.repartition(F.col("slice")).write.partitionBy("slice").mode(
        "overwrite"
    ).parquet(src)
    flat = _os.path.join(root, "flat")
    _os.makedirs(flat, exist_ok=True)
    # iterate the slice dirs that actually exist — a tiny corpus may
    # leave a residue class empty, which just means fewer micro-batches
    slices = sorted(
        d for d in _os.listdir(src) if d.startswith("slice=")
    )
    for i, sl in enumerate(slices):
        d = _os.path.join(src, sl)
        parts = [f for f in _os.listdir(d) if f.endswith(".parquet")]
        if len(parts) != 1:  # the one-file-per-slice invariant the replay relies on
            raise AssertionError(f"expected exactly 1 staged file in {d}, got {parts}")
        _os.rename(_os.path.join(d, parts[0]), _os.path.join(flat, f"b{i}.parquet"))
    with tempfile.TemporaryDirectory(prefix="ckpt_sdedup_") as ckpt:
        stream = (
            spark.readStream.schema("key long, event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        # m_bits sized to the key space (~1k): a 64k bloom inlines a
        # 2048-long literal array into every batch plan TWICE — the
        # 34 s analysis tax that made the first cut of this query slow
        stream_bloom_dedup(
            stream, out, ckpt, key_col="key", m_bits=8192
        ).awaitTermination()
    return spark.read.parquet(out).select("key")


@q(
    "q_bucket_join",
    """SELECT user_id % 5 AS grp,
         COUNT(*) AS n_events,
         ROUND(SUM(value), 4) AS total_value
       FROM events GROUP BY user_id % 5""",
)
def q_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged co-located bucketed join (SURVEY.md §7.0 / S6): fact and
    dimension are written as managed tables bucketed by user_id into
    the same bucket count, then joined with a MERGE hint — the
    write-time bucketing IS the shuffle, so the join itself needs no
    exchange on user_id (pinned in tests/test_plans.py).  The oracle is
    the join's algebraic collapse (dim holds every distinct user), so
    values check exactly while the PLAN exercises the bucketed path.
    Tables are overwritten per run in the session warehouse and left
    for the lazy read-back (sinks/parquet.write_bucketed)."""
    import os as _os

    import shutil
    from urllib.parse import urlparse

    from ..sinks.parquet import write_bucketed

    # idempotent across sessions: the in-memory catalog forgets the
    # table but its warehouse directory survives — drop both
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("q_bucket_fact", "q_bucket_dim"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(_os.path.join(wh, t), ignore_errors=True)

    ev = load_events(spark, sf_dir)
    write_bucketed(
        ev.select("event_id", "user_id", "value"),
        "q_bucket_fact", "user_id", 8, sort_col="user_id",
    )
    write_bucketed(
        ev.select("user_id").distinct().withColumn(
            "grp", F.pmod("user_id", F.lit(5))
        ),
        "q_bucket_dim", "user_id", 8, sort_col="user_id",
    )
    fact, dim = spark.table("q_bucket_fact"), spark.table("q_bucket_dim")
    return (
        fact.hint("merge")
        .join(dim, "user_id")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@q(
    "q_schema_evolution",
    """SELECT event_id, user_id, value,
         CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type
       FROM events""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged schema-drift read (sources/formats.read_merged_schema):
    generation 1 (even event_ids) is written WITHOUT event_type,
    generation 2 (odd) with it, appended into the same parquet root —
    the accreting-columns shape a long-lived dataset takes.  The
    mergeSchema scan unions the per-file footers, surfacing the column
    as NULL on pre-drift rows; the oracle reproduces exactly that NULL
    pattern.  Metadata-only merging: no rewrite of generation-1 files,
    and pruning still reaches every file."""
    import os as _os

    from ..sources.formats import read_merged_schema

    ev = load_events(spark, sf_dir).select(
        "event_id", "user_id", "value", "event_type"
    )
    root = _os.path.join(_sink_root(), f"schema_{next(_SINK_SEQ)}")
    ev.filter(F.col("event_id") % 2 == 0).drop("event_type").write.mode(
        "overwrite"
    ).parquet(root)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(root)
    return read_merged_schema(spark, root).select(
        "event_id", "user_id", "value", "event_type"
    )


# ----------------------------------------------------- r6 retrieval batch


@q(
    "q_rake",
    f"""WITH tok AS (
         SELECT doc_id, unnest({TOKS}) AS tok,
                unnest(range(1, len({TOKS}) + 1)) AS pos
         FROM documents),
       s AS (SELECT doc_id, tok, pos,
               CASE WHEN tok IN ('the','a','of','and','to','in','is')
                    THEN 1 ELSE 0 END AS st
             FROM tok),
       g AS (SELECT doc_id, tok, pos, st,
               SUM(st) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
             FROM s),
       c AS (SELECT doc_id, tok, pos, phrase_id FROM g WHERE st = 0),
       ph AS (SELECT doc_id, phrase_id,
                string_agg(tok, ' ' ORDER BY pos) AS phrase,
                COUNT(*) AS plen
              FROM c GROUP BY doc_id, phrase_id),
       occ AS (SELECT c.doc_id, c.tok, c.phrase_id, ph.plen
               FROM c JOIN ph ON c.doc_id = ph.doc_id
                             AND c.phrase_id = ph.phrase_id),
       wsc AS (SELECT doc_id, tok,
                 CAST(ROUND(CAST(SUM(plen) AS DOUBLE) * 1000000.0
                            / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT) AS score_q
               FROM occ GROUP BY doc_id, tok),
       ps AS (SELECT o.doc_id, o.phrase_id, SUM(w.score_q) AS pscore_q
              FROM occ o JOIN wsc w ON o.doc_id = w.doc_id AND o.tok = w.tok
              GROUP BY o.doc_id, o.phrase_id),
       agg AS (SELECT ph.doc_id, ph.phrase, MAX(ph.plen) AS plen,
                 CAST(MAX(ps.pscore_q) AS BIGINT) AS score_q,
                 COUNT(*) AS n_occurrences
               FROM ph JOIN ps ON ph.doc_id = ps.doc_id
                              AND ph.phrase_id = ps.phrase_id
               GROUP BY ph.doc_id, ph.phrase),
       r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score_q DESC, phrase ASC) AS INTEGER) AS rk
             FROM agg)
       SELECT doc_id, rk, phrase,
              CAST(score_q AS DOUBLE) / 1000000.0 AS rake_score,
              plen, n_occurrences
       FROM r WHERE rk <= 3""",
)
def q_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: stopword-bounded candidate phrases
    scored by summed word degree/frequency; top-3 distinct phrases per
    document (operators/text.rake_keywords)."""
    return TX.rake_keywords(load_table(spark, sf_dir, "documents"), top_k=3)


@q(
    "q_linkage",
    """WITH n AS (SELECT p_name AS name, COUNT(*) AS n
                  FROM part GROUP BY p_name),
       b AS (SELECT name, n, string_split(name, ' ')[-1] AS block FROM n)
       SELECT a.name AS name_a, c.name AS name_b,
              CAST(levenshtein(a.name, c.name) AS INTEGER) AS edit_dist,
              a.n AS n_a, c.n AS n_b
       FROM b a JOIN b c ON a.block = c.block AND a.name < c.name
       WHERE levenshtein(a.name, c.name) <= 3""",
)
def q_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record-linkage candidates over part names: last-token
    block + Levenshtein <= 3, JVM-side end to end
    (operators/text.blocked_linkage)."""
    return TX.blocked_linkage(load_table(spark, sf_dir, "part"), "p_name", 3)


_MMR_DOT_S1 = _DOT.format(a="b.embedding", b="s1.embedding")
_MMR_DOT_S2 = _DOT.format(a="b.embedding", b="s2.embedding")
_MMR_DOT_S3 = _DOT.format(a="b.embedding", b="s3.embedding")
_MMR_DOT_S4 = _DOT.format(a="b.embedding", b="s4.embedding")
_MMR_W = "CAST(0.7 AS DOUBLE)"
_MMR_U = "(CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE))"


@q(
    "q_mmr",
    f"""WITH qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       base AS (SELECT e.vec_id, e.label, e.embedding,
                  ROUND({_DOT.format(a='e.embedding', b='qv.v')}, 6) AS qs
                FROM embeddings e, qv),
       s1 AS (SELECT vec_id, label, embedding, qs, qs AS score
              FROM base ORDER BY qs DESC, vec_id ASC LIMIT 1),
       c2 AS (SELECT b.vec_id, b.label, b.embedding, b.qs,
                {_MMR_W} * b.qs - {_MMR_U} * ROUND({_MMR_DOT_S1}, 6) AS score
              FROM base b, s1 WHERE b.vec_id <> s1.vec_id),
       s2 AS (SELECT * FROM c2 ORDER BY score DESC, vec_id ASC LIMIT 1),
       c3 AS (SELECT b.vec_id, b.label, b.embedding, b.qs,
                {_MMR_W} * b.qs - {_MMR_U} * GREATEST(
                  ROUND({_MMR_DOT_S1}, 6), ROUND({_MMR_DOT_S2}, 6)) AS score
              FROM base b, s1, s2
              WHERE b.vec_id NOT IN (s1.vec_id, s2.vec_id)),
       s3 AS (SELECT * FROM c3 ORDER BY score DESC, vec_id ASC LIMIT 1),
       c4 AS (SELECT b.vec_id, b.label, b.embedding, b.qs,
                {_MMR_W} * b.qs - {_MMR_U} * GREATEST(
                  ROUND({_MMR_DOT_S1}, 6), ROUND({_MMR_DOT_S2}, 6),
                  ROUND({_MMR_DOT_S3}, 6)) AS score
              FROM base b, s1, s2, s3
              WHERE b.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)),
       s4 AS (SELECT * FROM c4 ORDER BY score DESC, vec_id ASC LIMIT 1),
       c5 AS (SELECT b.vec_id, b.label, b.embedding, b.qs,
                {_MMR_W} * b.qs - {_MMR_U} * GREATEST(
                  ROUND({_MMR_DOT_S1}, 6), ROUND({_MMR_DOT_S2}, 6),
                  ROUND({_MMR_DOT_S3}, 6), ROUND({_MMR_DOT_S4}, 6)) AS score
              FROM base b, s1, s2, s3, s4
              WHERE b.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id,
                                     s4.vec_id)),
       s5 AS (SELECT * FROM c5 ORDER BY score DESC, vec_id ASC LIMIT 1)
       SELECT 1 AS rank, vec_id, label, ROUND(score, 6) AS mmr_score FROM s1
       UNION ALL
       SELECT 2, vec_id, label, ROUND(score, 6) FROM s2
       UNION ALL
       SELECT 3, vec_id, label, ROUND(score, 6) FROM s3
       UNION ALL
       SELECT 4, vec_id, label, ROUND(score, 6) FROM s4
       UNION ALL
       SELECT 5, vec_id, label, ROUND(score, 6) FROM s5""",
)
def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified top-5 (lambda=0.7) around
    the vec_id=0 query; unrolled 5-stage oracle, every similarity
    rounded 6dp before entering the score
    (operators/similarity.mmr_select)."""
    return S.mmr_select(
        load_table(spark, sf_dir, "embeddings"), query_vec_id=0, k=5, lam=0.7
    )


@q(
    "q_wordpiece",
    f"""WITH RECURSIVE
       tok AS (SELECT unnest({TOKS}) AS w FROM documents),
       freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
       topw AS (SELECT w AS piece FROM freq ORDER BY c DESC, w ASC LIMIT 20),
       chars AS (SELECT unnest(string_split(
         'a b c d e f g h i j k l m n o p q r s t u v w x y z'
         || ' 0 1 2 3 4 5 6 7 8 9', ' ')) AS piece),
       vocab AS (SELECT DISTINCT piece FROM
         (SELECT piece FROM topw UNION ALL SELECT piece FROM chars)),
       words AS (SELECT DISTINCT w FROM tok),
       rec AS (
         SELECT w, 1 AS pos, 0 AS np, CAST('' AS VARCHAR) AS seg FROM words
         UNION ALL
         SELECT r.w, r.pos + length(v.piece), r.np + 1,
                CASE WHEN r.seg = '' THEN v.piece
                     ELSE r.seg || ' ' || v.piece END
         FROM rec r JOIN vocab v
           ON substr(r.w, r.pos, length(v.piece)) = v.piece
         WHERE r.pos <= length(r.w)
           AND NOT EXISTS (SELECT 1 FROM vocab v2
                           WHERE length(v2.piece) > length(v.piece)
                             AND substr(r.w, r.pos, length(v2.piece))
                                 = v2.piece))
       SELECT w AS word, np AS n_pieces, seg
       FROM rec WHERE pos = length(w) + 1""",
)
def q_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match (MaxMatch/WordPiece) segmentation of every
    distinct corpus word against the deterministic top-20+chars
    vocabulary; the oracle replays the greedy loop as a recursive CTE
    whose step keeps only the longest vocabulary match via NOT EXISTS
    (operators/text.wordpiece_tokenize)."""
    return TX.wordpiece_tokenize(load_table(spark, sf_dir, "documents"), top_words=20)


@q(
    "q_tfidf_cosine",
    f"""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
       nbt AS (SELECT GREATEST(1, n // 500) AS nb, n FROM nn),
       tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
       tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
              GROUP BY doc_id, tok),
       dfq AS (SELECT tok, COUNT(*) AS dfr FROM tf GROUP BY tok),
       wall AS MATERIALIZED (SELECT t.doc_id, t.tok, t.tf, d.dfr, nbt.n, nbt.nb
                FROM tf t JOIN dfq d ON t.tok = d.tok, nbt),
       w AS (SELECT doc_id, tok,
               CAST(ROUND(CAST(tf AS DOUBLE)
                    * LN(CAST(n AS DOUBLE) / CAST(dfr AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS wq,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % nb AS blk
             FROM wall WHERE dfr * 2 <= n),
       nrm AS (SELECT doc_id,
               SUM(CASE WHEN dfr * 2 <= n THEN
                     CAST(ROUND(CAST(tf AS DOUBLE)
                          * LN(CAST(n AS DOUBLE) / CAST(dfr AS DOUBLE))
                          * 1000000.0, 0) AS BIGINT)
                     * CAST(ROUND(CAST(tf AS DOUBLE)
                          * LN(CAST(n AS DOUBLE) / CAST(dfr AS DOUBLE))
                          * 1000000.0, 0) AS BIGINT) END) AS nq,
               COUNT(CASE WHEN dfr * 2 > n THEN 1 END) AS nc
               FROM wall GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(a.wq*b.wq) AS dot, COUNT(*) AS n_shared
             FROM w a JOIN w b ON a.tok = b.tok AND a.blk = b.blk
                              AND a.doc_id < b.doc_id
             GROUP BY a.doc_id, b.doc_id),
       c AS (SELECT p.doc_a, p.doc_b, p.n_shared,
               CAST(p.dot AS DOUBLE)
                 / (SQRT(CAST(na.nq AS DOUBLE)) * SQRT(CAST(nb2.nq AS DOUBLE)))
                 AS cos,
               na.nc AS capped_a, nb2.nc AS capped_b
             FROM p JOIN nrm na ON p.doc_a = na.doc_id
                    JOIN nrm nb2 ON p.doc_b = nb2.doc_id)
       SELECT doc_a, doc_b, n_shared, ROUND(cos, 6) AS cos_sim,
              CAST(capped_a AS BIGINT) AS capped_a,
              CAST(capped_b AS BIGINT) AS capped_b
       FROM c WHERE cos >= 0.85""",
)
def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pair join over the inverted index: exact
    integer dots/norms, corpus-scaled block bound, document-frequency
    cap (> 1/2 of corpus) with per-doc capped_a/capped_b audit columns,
    and N computed in-plan (operators/text.tfidf_cosine_pairs)."""
    return TX.tfidf_cosine_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.85, rows_per_block=500
    )


@q(
    "q_knn_classify",
    f"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                  WHERE vec_id < 5),
       s AS (SELECT q.qid, e.vec_id AS nid, e.label,
               ROUND({_DOT.format(a='e.embedding', b='q.qv')}, 6) AS sim
             FROM embeddings e, q WHERE e.vec_id <> q.qid),
       nn AS (SELECT qid, nid, label, sim,
                ROW_NUMBER() OVER (PARTITION BY qid
                  ORDER BY sim DESC, nid ASC) AS rk
              FROM s),
       v AS (SELECT qid, label, COUNT(*) AS n_votes,
               ROUND(MAX(sim), 6) AS best_sim
             FROM nn WHERE rk <= 10 GROUP BY qid, label),
       w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY n_votes DESC, label ASC) AS vr FROM v)
       SELECT qid AS vec_id, label AS pred_label, n_votes, best_sim
       FROM w WHERE vr = 1""",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-label classification of the first five vectors
    (k=10, self excluded): neighbor rank on (rounded sim, id), vote
    rank on (count, label) — operators/similarity.knn_classify."""
    return S.knn_classify(
        load_table(spark, sf_dir, "embeddings"), n_queries=5, k=10
    )


@q(
    "q_flesch",
    f"""WITH c AS (
         SELECT doc_id,
           CAST(len({TOKS}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_syllables,
           GREATEST(CAST(1 AS BIGINT),
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
             AS n_sentences
         FROM documents)
       SELECT doc_id, n_words, n_syllables, n_sentences,
         CASE WHEN n_words > 0 THEN
           ROUND(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)), 4) END AS flesch_ease,
         CASE WHEN n_words > 0 THEN
           ROUND(0.39 * (CAST(n_words AS DOUBLE)
                         / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))
                 - 15.59, 4) END AS fk_grade
       FROM c""",
)
def q_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease + FK grade from exact regexp counts
    (vowel-run syllable heuristic) — map-side only
    (operators/text.flesch_scores)."""
    return TX.flesch_scores(load_table(spark, sf_dir, "documents"))


@q(
    "q_zipf",
    f"""WITH tok AS (SELECT source AS grp, unnest({TOKS}) AS token
                     FROM documents),
       f AS (SELECT grp, token, COUNT(*) AS cnt FROM tok GROUP BY grp, token),
       x AS (SELECT grp,
           CAST(ROUND(LN(CAST(ROW_NUMBER() OVER (PARTITION BY grp
                 ORDER BY cnt DESC, token) AS DOUBLE)) * 10000.0, 0) AS BIGINT)
             AS xq,
           CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 10000.0, 0) AS BIGINT) AS yq
         FROM f),
       m AS (SELECT grp, COUNT(*) AS n, SUM(xq) AS sx, SUM(xq * xq) AS sxx,
               SUM(yq) AS sy, SUM(xq * yq) AS sxy, SUM(yq * yq) AS syy
             FROM x GROUP BY grp),
       c AS (SELECT grp, n,
               CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
               CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
               CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
               CAST(n AS DOUBLE) AS nd
             FROM m WHERE n >= 3)
       SELECT grp AS source, CAST(n AS BIGINT) AS n_vocab,
         ROUND(num / NULLIF(denx, 0.0), 6) AS zipf_slope,
         ROUND(((syd - num / NULLIF(denx, 0.0) * sxd) / nd) / 10000.0, 6)
           AS intercept,
         ROUND(num * num / NULLIF(denx * deny, 0.0), 6) AS r2
       FROM c""",
)
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS fit per source — both log axes quantized
    to 1e-4 units so the moment sums are exact
    (operators/text.zipf_fit)."""
    return TX.zipf_fit(load_table(spark, sf_dir, "documents"))


@q(
    "q_sentiment",
    f"""WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
       c AS (SELECT doc_id,
           CAST(len(list_filter(toks,
             x -> x IN ('fast', 'big', 'value', 'merge'))) AS BIGINT) AS n_pos,
           CAST(len(list_filter(toks,
             x -> x IN ('slow', 'small', 'dup', 'error'))) AS BIGINT) AS n_neg
         FROM t),
       p AS (SELECT doc_id, n_pos, n_neg,
           CASE WHEN n_pos + n_neg > 0
                THEN ROUND(CAST(n_pos - n_neg AS DOUBLE)
                           / CAST(n_pos + n_neg AS DOUBLE), 6)
                ELSE 0.0 END AS polarity
         FROM c)
       SELECT doc_id, n_pos, n_neg, polarity,
         CASE WHEN polarity > 0 THEN 'pos'
              WHEN polarity < 0 THEN 'neg'
              ELSE 'neutral' END AS label
       FROM p""",
)
def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon polarity over exact token-hit counts — the lexicon is a
    documented constant over the synthetic vocabulary
    (operators/text.sentiment_lexicon)."""
    return TX.sentiment_lexicon(load_table(spark, sf_dir, "documents"))


def _textrank_sql(iters: int = 8, d: float = 0.85) -> str:
    """Unrolled-iteration twin of operators/text.textrank_keywords —
    SAME double literals, and every iteration's contributions quantized
    to integer 1e-12 units before the inbound sum (order-exact at any
    fan-in, unlike the float sums the 25-node pagerank gets away
    with)."""
    base = f"""tok AS (SELECT doc_id, unnest({TOKS}) AS w,
               unnest(range(1, len({TOKS}) + 1)) AS pos FROM documents),
       pp AS (SELECT a.w AS u, b.w AS v FROM tok a JOIN tok b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.w <> b.w),
       edges AS MATERIALIZED (
         SELECT u, v, CAST(COUNT(*) AS DOUBLE) AS w FROM
           (SELECT u, v FROM pp UNION ALL SELECT v, u FROM pp) s
         GROUP BY u, v),
       outw AS (SELECT u AS src, SUM(w) AS ow FROM edges GROUP BY u),
       norm AS MATERIALIZED (SELECT e.u AS src, e.v AS dst, e.w / o.ow AS frac
                FROM edges e JOIN outw o ON e.u = o.src),
       nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM edges),
       nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
       pr0 AS (SELECT node, 1.0 / cnt AS score FROM nodes, nn)"""
    for i in range(1, iters + 1):
        base += f""",
       c{i} AS (SELECT n.dst AS node,
                  SUM(CAST(ROUND(n.frac * p.score * 1000000000000.0, 0)
                           AS BIGINT)) AS cq
                FROM norm n JOIN pr{i - 1} p ON n.src = p.node GROUP BY n.dst),
       pr{i} AS MATERIALIZED (SELECT nodes.node,
                 {(1 - d)!r} / cnt
                 + {d!r} * (CAST(COALESCE(c{i}.cq, 0) AS DOUBLE)
                            / 1000000000000.0) AS score
                 FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node, nn)"""
    return f"WITH {base}\nSELECT node, ROUND(score, 6) AS score FROM pr{iters}"


@q("q_textrank", _textrank_sql())
def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scores over the symmetrized token co-occurrence
    graph — 8 power iterations with micro-quantized contribution sums
    (operators/text.textrank_keywords)."""
    return TX.textrank_keywords(load_table(spark, sf_dir, "documents"))


# Exact near-dup pair graph (the q_triangles edge set) as reusable CTEs.
_PAIR_GRAPH_CTES = f"""{_SHINGLE_CTES},
       cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
       pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM p
                 JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
                 WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5)"""


def _minhash_pair_ctes(
    threshold: float = 0.5, num_perm: int = 32, bands: int = 8
) -> str:
    """CTE chain ending in ``pairs(doc_a, doc_b)`` over the
    banded-MinHash candidate graph (same permutation constants as
    _minhash_sql / operators/dedup.minhash_banded_pairs) — the
    PRODUCTION edge source for the graph-metric family.  The exact
    n-gram `_PAIR_GRAPH_CTES` graph is every-shared-shingle
    (superlinear on closed vocabularies, BASELINE.md r6); banding
    bounds candidates, so metrics over THIS graph keep the 100 TB
    posture.  The aj >= t comparison is matches/num_perm — an exact
    small-denominator rational on both engines."""
    mins, band_sel, matches = _minhash_frags(num_perm, bands)
    return f"""{_SHINGLE_CTES},
       hs AS (SELECT doc_id, {_PH_HI.format(c='shingle')} AS h FROM sh),
       sig AS MATERIALIZED (SELECT doc_id,
           {mins}
         FROM hs GROUP BY doc_id),
       bands AS ({band_sel}),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       pairs AS MATERIALIZED (
         SELECT doc_a, doc_b FROM (
           SELECT doc_a, doc_b, ({matches}) / {float(num_perm)} AS aj
           FROM cand
           JOIN sig sa ON sa.doc_id = doc_a
           JOIN sig sb ON sb.doc_id = doc_b) t
         WHERE aj >= {threshold})"""


def _hits_sql(iters: int = 5) -> str:
    """Unrolled twin of operators/graph.hits over the trade graph —
    L1-normalized, every contribution quantized to 1e-12 units before
    the sums (see the operator docstring)."""
    base = """edges AS MATERIALIZED (
         SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                CAST(COUNT(*) AS BIGINT) AS w
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         GROUP BY 1, 2),
       tot AS (SELECT CAST(SUM(w) AS DOUBLE) AS t FROM edges),
       frac AS MATERIALIZED (SELECT src, dst, CAST(w AS DOUBLE) / t AS frac
                             FROM edges, tot),
       nodes AS MATERIALIZED (SELECT DISTINCT node FROM
                 (SELECT src AS node FROM edges
                  UNION ALL SELECT dst FROM edges) t2),
       nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nodes),
       h0 AS (SELECT node, 1.0 / cnt AS h FROM nodes, nn)"""
    for i in range(1, iters + 1):
        base += f""",
       ar{i} AS (SELECT f.dst AS node,
                   SUM(CAST(ROUND(f.frac * h.h * 1000000000000.0, 0)
                            AS BIGINT)) AS aq
                 FROM frac f JOIN h{i - 1} h ON f.src = h.node GROUP BY f.dst),
       at{i} AS (SELECT CAST(SUM(aq) AS DOUBLE) AS t FROM ar{i}),
       a{i} AS MATERIALIZED (SELECT nodes.node,
                 CAST(COALESCE(ar{i}.aq, 0) AS DOUBLE) / at{i}.t AS a
                 FROM nodes LEFT JOIN ar{i} ON nodes.node = ar{i}.node, at{i}),
       hr{i} AS (SELECT f.src AS node,
                   SUM(CAST(ROUND(f.frac * a.a * 1000000000000.0, 0)
                            AS BIGINT)) AS hq
                 FROM frac f JOIN a{i} a ON f.dst = a.node GROUP BY f.src),
       ht{i} AS (SELECT CAST(SUM(hq) AS DOUBLE) AS t FROM hr{i}),
       h{i} AS MATERIALIZED (SELECT nodes.node,
                 CAST(COALESCE(hr{i}.hq, 0) AS DOUBLE) / ht{i}.t AS h
                 FROM nodes LEFT JOIN hr{i} ON nodes.node = hr{i}.node, ht{i})"""
    return (
        f"WITH {base}\nSELECT a{iters}.node, ROUND(a, 6) AS authority, "
        f"ROUND(h, 6) AS hub FROM a{iters} JOIN h{iters} "
        f"ON a{iters}.node = h{iters}.node"
    )


@q("q_hits", _hits_sql(), tier="measurement")
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the supplier-nation ->
    customer-nation trade graph (operators/graph.hits: L1-normalized,
    1e-12-quantized contribution sums; oracle = 5 unrolled
    iterations)."""
    from ..operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .groupBy(
            supp["s_nationkey"].alias("src"), cust["c_nationkey"].alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return hits(edges, iters=5)


def _kcore_sql(rounds: int = 6, pair_ctes: str | None = None) -> str:
    """Unrolled twin of operators/graph.kcore_layers — integer-only
    synchronous peeling, one CTE pair per round per k.  ``pair_ctes``
    selects the edge source (exact n-gram graph by default; pass
    _minhash_pair_ctes() for the production banded graph)."""
    base = f"""{pair_ctes or _PAIR_GRAPH_CTES},
       e2_0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       allnodes AS (SELECT DISTINCT u AS node FROM e2_0),
       e3_0 AS (SELECT u, v FROM e2_0)"""
    for k in (2, 3):
        for r in range(1, rounds + 1):
            base += f""",
       k{k}keep{r} AS (SELECT u FROM e{k}_{r - 1} GROUP BY u
                       HAVING COUNT(*) >= {k}),
       e{k}_{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{k}_{r - 1} e
                 JOIN k{k}keep{r} a ON e.u = a.u
                 JOIN k{k}keep{r} b ON e.v = b.u)"""
    return f"""WITH {base},
       c2 AS (SELECT DISTINCT u AS node FROM e2_{rounds}),
       c3 AS (SELECT DISTINCT u AS node FROM e3_{rounds})
    SELECT allnodes.node,
      CAST(1 + CASE WHEN c2.node IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN c3.node IS NOT NULL THEN 1 ELSE 0 END
           AS BIGINT) AS coreness
    FROM allnodes
    LEFT JOIN c2 ON allnodes.node = c2.node
    LEFT JOIN c3 ON allnodes.node = c3.node"""


@q("q_kcore", _kcore_sql(), tier="measurement")
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness layers (1/2/3+) of the exact near-dup graph via
    iterative peeling — integer-only, hash-exact by construction
    (operators/graph.kcore_layers)."""
    from ..operators.graph import kcore_layers

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    return kcore_layers(pairs, rounds=6)


def _clustering_sql(pair_ctes: str | None = None) -> str:
    """Twin of operators/graph.clustering_coefficient over a chosen
    pair-graph CTE base (defaults to the exact n-gram graph)."""
    return f"""WITH {pair_ctes or _PAIR_GRAPH_CTES},
       deg0 AS (SELECT node, COUNT(*) AS d FROM (
                 SELECT doc_a AS node FROM pairs
                 UNION ALL SELECT doc_b FROM pairs) u GROUP BY node),
       heavy AS (SELECT node FROM deg0 WHERE d > 64),
       kept AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
                WHERE doc_a NOT IN (SELECT node FROM heavy)
                  AND doc_b NOT IN (SELECT node FROM heavy)),
       deg AS (SELECT node, COUNT(*) AS degree FROM (
                 SELECT doc_a AS node FROM kept
                 UNION ALL SELECT doc_b FROM kept) u GROUP BY node),
       tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
               FROM kept e1 JOIN kept e2 ON e1.doc_b = e2.doc_a
               JOIN kept e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
       tc AS (SELECT node, COUNT(*) AS n_triangles FROM
                (SELECT x AS node FROM tri UNION ALL
                 SELECT y FROM tri UNION ALL SELECT z FROM tri) m
              GROUP BY node)
    SELECT deg.node, degree,
      CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
      CASE WHEN degree >= 2 THEN
        ROUND(2.0 * CAST(COALESCE(tc.n_triangles, 0) AS DOUBLE)
              / (CAST(degree AS DOUBLE) * (CAST(degree AS DOUBLE) - 1.0)), 6)
      END AS clustering_coef
    FROM deg LEFT JOIN tc ON deg.node = tc.node"""


@q("q_clustering_coef", _clustering_sql(), tier="measurement")
def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the degree-capped
    near-dup graph — T and d consistent under the same super-node cut
    (operators/graph.clustering_coefficient)."""
    from ..operators.graph import clustering_coefficient

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    return clustering_coefficient(pairs, max_degree=64)


def _assort_sql(pair_ctes: str | None = None) -> str:
    """Twin of operators/graph.degree_assortativity over a chosen
    pair-graph CTE base (defaults to the exact n-gram graph)."""
    return f"""WITH {pair_ctes or _PAIR_GRAPH_CTES},
       e0 AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
       x AS (SELECT du.d AS dx, dv.d AS dy
             FROM e0 JOIN deg du ON e0.u = du.u JOIN deg dv ON e0.v = dv.u),
       m AS (SELECT COUNT(*) AS n, SUM(dx) AS sx, SUM(dy) AS sy,
               SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
             FROM x),
       nodes AS (SELECT COUNT(*) AS n_nodes, MAX(d) AS max_degree FROM deg)
    SELECT n_nodes, CAST(n / 2 AS BIGINT) AS n_edges, max_degree,
      CAST(n AS DOUBLE) / CAST(n_nodes AS DOUBLE) AS mean_degree,
      CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
            AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      THEN ROUND(
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END
        AS assortativity
    FROM m, nodes"""


@q("q_degree_assort", _assort_sql(), tier="measurement")
def q_degree_assort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row degree summary + assortativity of the near-dup graph —
    exact integer moments (operators/graph.degree_assortativity)."""
    from ..operators.graph import degree_assortativity

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).select("doc_a", "doc_b")
    return degree_assortativity(pairs)


def _minhash_graph_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production edge source: banded-MinHash near-dup pairs
    (candidates bounded by LSH banding, linear at corpus scale —
    PLANS.md §58) feeding the source-agnostic graph operators."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_banded_pairs(docs, threshold=0.5).select("doc_a", "doc_b")


@q("q_kcore_minhash", _kcore_sql(pair_ctes=_minhash_pair_ctes()))
def q_kcore_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreness layers of the banded-MinHash near-dup graph — the same
    integer-only peeling as q_kcore, wired to the production edge
    source (r6 VERDICT #6: prove the metric family scales on the graph
    that scales)."""
    from ..operators.graph import kcore_layers

    return kcore_layers(_minhash_graph_pairs(spark, sf_dir), rounds=6)


@q("q_clustering_minhash", _clustering_sql(pair_ctes=_minhash_pair_ctes()))
def q_clustering_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the banded-MinHash graph
    (degree-capped wedges, production edge source)."""
    from ..operators.graph import clustering_coefficient

    return clustering_coefficient(_minhash_graph_pairs(spark, sf_dir), max_degree=64)


@q("q_assort_minhash", _assort_sql(pair_ctes=_minhash_pair_ctes()))
def q_assort_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree summary + assortativity over the banded-MinHash graph
    (exact integer moments, production edge source)."""
    from ..operators.graph import degree_assortativity

    return degree_assortativity(_minhash_graph_pairs(spark, sf_dir))


def _triangles_tail_sql(pair_ctes: str, max_degree: int = 64) -> str:
    """Triangle-count tail over any CTE chain ending in
    ``pairs(doc_a, doc_b)`` with doc_a < doc_b (same text as
    q_triangles' inline oracle, parameterized for the MinHash edge
    source — r7 VERDICT #4)."""
    return f"""WITH {pair_ctes},
       deg AS (SELECT node, COUNT(*) AS d FROM (
                 SELECT doc_a AS node FROM pairs
                 UNION ALL SELECT doc_b FROM pairs) u GROUP BY node),
       heavy AS (SELECT node, d FROM deg WHERE d > {max_degree}),
       kept AS (SELECT doc_a, doc_b FROM pairs
                WHERE doc_a NOT IN (SELECT node FROM heavy)
                  AND doc_b NOT IN (SELECT node FROM heavy)),
       tri AS (SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
               FROM kept e1 JOIN kept e2 ON e1.doc_b = e2.doc_a
               JOIN kept e3 ON e1.doc_a = e3.doc_a AND e2.doc_b = e3.doc_b),
       m AS (SELECT x AS node FROM tri UNION ALL
             SELECT y FROM tri UNION ALL SELECT z FROM tri)
       SELECT node, COUNT(*) AS n_triangles,
              CAST(0 AS BIGINT) AS wedges_dropped
       FROM m GROUP BY node
       UNION ALL
       SELECT node, CAST(0 AS BIGINT) AS n_triangles,
              CAST(d * (d - 1) // 2 AS BIGINT) AS wedges_dropped
       FROM heavy"""


def _lpa_tail_sql(pair_ctes: str, iters: int = 5) -> str:
    """Label-propagation tail over any CTE chain ending in
    ``pairs(doc_a, doc_b)`` (same unrolled-iteration text as
    q_communities' _lpa_sql, parameterized for the MinHash edge
    source; every level MATERIALIZED per the q_pagerank lesson)."""
    base = f"""{pair_ctes},
       edges AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
                              UNION ALL SELECT doc_b, doc_a FROM pairs),
       l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM edges)"""
    for i in range(1, iters + 1):
        base += f""",
       l{i} AS MATERIALIZED (
         SELECT node, label FROM (
           SELECT e.u AS node, pl.label,
                  ROW_NUMBER() OVER (PARTITION BY e.u
                                     ORDER BY COUNT(*) DESC, pl.label) AS rn
           FROM edges e JOIN l{i - 1} pl ON e.v = pl.node
           GROUP BY e.u, pl.label) t
         WHERE rn = 1)"""
    return f"WITH {base}\nSELECT node, label AS community FROM l{iters}"


@q("q_triangles_minhash", _triangles_tail_sql(_minhash_pair_ctes()))
def q_triangles_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the banded-MinHash near-dup graph
    (degree-capped wedge close + wedges_dropped audit, production edge
    source — r7 VERDICT #4: the exact-graph q_triangles measured 14.6x
    at 10x on the closed-vocab corpus; this is the bounded twin)."""
    from ..operators.graph import triangle_counts

    return triangle_counts(_minhash_graph_pairs(spark, sf_dir), max_degree=64)


@q("q_communities_minhash", _lpa_tail_sql(_minhash_pair_ctes()))
def q_communities_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label-propagation communities over the
    banded-MinHash near-dup graph (min-label tie-break, 5 synchronous
    iterations, production edge source — r7 VERDICT #4; exact-graph
    q_communities measured 8.7x at 10x)."""
    from ..operators.graph import label_propagation

    return label_propagation(_minhash_graph_pairs(spark, sf_dir))


_SILHOUETTE_CTES = """e AS (
         SELECT vec_id, label, CAST(i AS INT) AS i,
           CAST(ROUND(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1e6)
                AS BIGINT) AS xq
         FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
       c AS (SELECT label AS lc, i, CAST(FLOOR(SUM(xq) / COUNT(*)) AS BIGINT) AS cq
             FROM e GROUP BY label, i),
       d AS (SELECT e.vec_id, e.label, c.lc,
               CAST(SUM((xq - cq) * (xq - cq)) AS BIGINT) AS dist
             FROM e JOIN c ON e.i = c.i GROUP BY e.vec_id, e.label, c.lc),
       s AS (SELECT vec_id, label,
               MAX(CASE WHEN lc = label THEN dist END) AS a_sq,
               MIN(CASE WHEN lc <> label THEN dist END) AS b_sq
             FROM d GROUP BY vec_id, label),
       sil AS (SELECT vec_id, label, a_sq, b_sq,
               CAST(b_sq - a_sq AS DOUBLE)
                 / NULLIF(CAST(GREATEST(a_sq, b_sq) AS DOUBLE), 0.0) AS silhouette
             FROM s)"""


@q(
    "q_silhouette",
    f"WITH {_SILHOUETTE_CTES} SELECT * FROM sil",
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per embedding vector —
    O(N·k), exact integer distance moments, final ratio unrounded
    (operators/similarity.silhouette_scores; PLANS.md §65)."""
    from ..operators.similarity import silhouette_scores

    return silhouette_scores(load_table(spark, sf_dir, "embeddings"))


@q(
    "q_cluster_stats",
    f"""WITH {_SILHOUETTE_CTES},
       qrow AS (SELECT label,
                 CAST(ROUND(silhouette * 1e6) AS BIGINT) AS sq,
                 CAST(FLOOR(CAST(a_sq AS DOUBLE) / 1e6) AS BIGINT) AS iq
               FROM sil)
       SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
              CAST(SUM(iq) AS BIGINT) AS inertia_q,
              FLOOR(SUM(sq) / COUNT(sq)) / 1e6 AS mean_sil
       FROM qrow GROUP BY label""",
)
def q_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quality summary: member count, 1e-6-unit inertia,
    FLOOR-pattern mean silhouette
    (operators/similarity.cluster_quality; PLANS.md §65)."""
    from ..operators.similarity import cluster_quality

    return cluster_quality(load_table(spark, sf_dir, "embeddings"))


def _minhash_eval_sql(threshold: float = 0.5) -> str:
    """One WITH chain sharing the shingle CTEs between the exact pair
    build (_PAIR_GRAPH_CTES tail, renamed expairs, its threshold
    rewritten to ``threshold`` — the constant graph uses 0.5) and the
    banded MinHash build (_minhash_pair_ctes tail, renamed mhpairs),
    joined full-outer on the pair key.  Both sides MUST threshold
    identically or the eval measures shingle/threshold disagreement
    instead of banding error (operators/dedup.minhash_pair_eval
    thresholds both sides with the same parameter)."""
    ex_tail = _PAIR_GRAPH_CTES[len(_SHINGLE_CTES):].replace(
        "pairs AS MATERIALIZED", "expairs AS MATERIALIZED"
    )
    assert ">= 0.5)" in ex_tail  # the exact tail's literal threshold
    ex_tail = ex_tail.replace(">= 0.5)", f">= {threshold})")
    mh_tail = _minhash_pair_ctes(threshold)[len(_SHINGLE_CTES):].replace(
        "pairs AS MATERIALIZED", "mhpairs AS MATERIALIZED"
    )
    # r8 VERDICT #6: both sides run on the deterministic md5 doc sample
    # (den = max(1, N // 3000), the minhash_pair_eval twin) so the
    # exact truth build stays constant-cost at any corpus size; den = 1
    # (whole corpus) at every gate scale
    sampled_shingles = _SHINGLE_CTES.replace("FROM documents", "FROM sdocs")
    return f"""WITH sden AS (
         SELECT GREATEST(1, COUNT(*) // 3000) AS d FROM documents),
       sdocs AS (
         SELECT documents.* FROM documents, sden
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % sden.d = 0),
       {sampled_shingles}{ex_tail}{mh_tail},
       j AS (SELECT COALESCE(e.doc_a, m.doc_a) AS doc_a,
                    COALESCE(e.doc_b, m.doc_b) AS doc_b,
                    e.doc_a IS NOT NULL AS in_e,
                    m.doc_a IS NOT NULL AS in_m
             FROM expairs e FULL JOIN mhpairs m
               ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b),
       agg AS (SELECT
           CAST(COUNT(CASE WHEN in_e THEN 1 END) AS BIGINT) AS n_exact,
           CAST(COUNT(CASE WHEN in_m THEN 1 END) AS BIGINT) AS n_approx,
           CAST(COUNT(CASE WHEN in_e AND in_m THEN 1 END) AS BIGINT) AS tp,
           CAST(COUNT(CASE WHEN NOT in_e THEN 1 END) AS BIGINT) AS fp,
           CAST(COUNT(CASE WHEN NOT in_m THEN 1 END) AS BIGINT) AS fn
         FROM j)
       SELECT n_exact, n_approx, tp, fp, fn,
         ROUND(CAST(tp AS DOUBLE) / NULLIF(CAST(n_approx AS DOUBLE), 0.0), 6)
           AS precision,
         ROUND(CAST(tp AS DOUBLE) / NULLIF(CAST(n_exact AS DOUBLE), 0.0), 6)
           AS recall,
         (SELECT d FROM sden) AS sample_den,
         ROUND(1.0 / (SELECT d FROM sden), 6) AS sample_frac
       FROM agg"""


@q("q_minhash_eval", _minhash_eval_sql())
def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the banded-MinHash near-dup pairs against
    the exact n-gram Jaccard truth — the judged evidence behind using
    the banded graph as the production edge source
    (operators/dedup.minhash_pair_eval).  Since r9 the harness scores a
    deterministic md5 doc sample (~3000 docs at any scale, r8 VERDICT
    #6) with the coverage emitted as sample_den/sample_frac; at every
    gate scale the sample is the whole corpus (sample_frac = 1.0)."""
    from ..operators.dedup import minhash_pair_eval

    return minhash_pair_eval(load_table(spark, sf_dir, "documents"), threshold=0.5)


def _shingle5_sql(name: str, pred: str) -> str:
    """5-gram DISTINCT shingle CTE pair over a filtered documents
    subset (tok{name}, sh{name}) — same token/concat expressions as
    _SHINGLE_CTES, n=5 bounds."""
    g = " || ' ' || ".join(
        "toks[i]" if j == 0 else f"toks[i+{j}]" for j in range(5)
    )
    return f"""tok{name} AS (
         SELECT doc_id, {TOKS} AS toks FROM documents WHERE {pred}),
       sh{name} AS (
         SELECT DISTINCT doc_id, {g} AS shingle
         FROM tok{name}, UNNEST(range(1, len(toks) - 3)) AS t(i)
         WHERE len(toks) >= 5)"""


@q(
    "q_eval_contam_rate",
    f"""WITH {_shingle5_sql('e', "source = 'src0'")},
       {_shingle5_sql('t', "source <> 'src0'")},
       tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM she GROUP BY doc_id),
       hit AS (SELECT e.doc_id, COUNT(DISTINCT e.shingle) AS nh
               FROM she e JOIN sht t ON e.shingle = t.shingle
               GROUP BY e.doc_id)
       SELECT tot.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
              CAST(COALESCE(nh, 0) AS BIGINT) AS n_hit,
              ROUND(CAST(COALESCE(nh, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
                AS contam_rate
       FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id""",
)
def q_eval_contam_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination rate: fraction of each held-out doc's
    distinct 5-grams found anywhere in the training side — the
    benchmark-cleanliness complement of q_contamination
    (operators/dedup.eval_contamination_rate)."""
    from ..operators.dedup import eval_contamination_rate

    return eval_contamination_rate(
        load_table(spark, sf_dir, "documents"), F.col("source") == "src0", n=5
    )


@q(
    "q_token_psi",
    f"""WITH tok AS (
         SELECT source AS grp, unnest({TOKS}) AS token FROM documents),
       cnt AS (SELECT grp, token, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
       gtok AS (SELECT token, COUNT(*) AS ct FROM tok GROUP BY 1),
       gtot AS (SELECT COUNT(*) AS t_all, COUNT(DISTINCT token) AS vocab FROM tok),
       stot AS (SELECT grp, COUNT(*) AS t_grp FROM tok GROUP BY 1),
       grid AS (SELECT s.grp, s.t_grp, g.t_all, g.vocab, k.ct,
                       COALESCE(c.cs, 0) AS cs
                FROM gtok k CROSS JOIN stot s
                LEFT JOIN cnt c ON c.grp = s.grp AND c.token = k.token, gtot g),
       term AS (SELECT grp, t_grp,
           CAST(ROUND((
               (cs + 1) / CAST(t_grp + vocab AS DOUBLE)
               - (ct - cs + 1) / CAST(t_all - t_grp + vocab AS DOUBLE))
             * LN(((cs + 1) / CAST(t_grp + vocab AS DOUBLE))
                  / ((ct - cs + 1) / CAST(t_all - t_grp + vocab AS DOUBLE)))
             * 1e9) AS BIGINT) AS q
         FROM grid)
       SELECT grp AS source, CAST(t_grp AS BIGINT) AS n_tokens,
              CAST(SUM(q) AS DOUBLE) / 1e9 AS psi
       FROM term GROUP BY grp, t_grp""",
)
def q_token_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution PSI of every source slice against the rest of
    the corpus (1e-9-quantized terms, exact integer sum —
    operators/text.token_psi_by_source)."""
    return TX.token_psi_by_source(load_table(spark, sf_dir, "documents"))


@q(
    "q_stream_drift",
    """WITH a AS (SELECT event_type, CAST(value AS DOUBLE) AS v
                FROM events WHERE event_id % 2 = 0),
       b AS (SELECT event_type, CAST(value AS DOUBLE) AS v
             FROM events WHERE event_id % 2 = 1),
       rng AS (SELECT event_type, MIN(v) AS mn, MAX(v) AS mx
               FROM a GROUP BY event_type),
       ab AS (SELECT a.event_type,
                     CASE WHEN mx <= mn THEN 0
                          ELSE LEAST(9, GREATEST(0,
                               CAST(FLOOR((v - mn) / (mx - mn) * 10) AS INT)))
                     END AS bucket, COUNT(*) AS n_a
              FROM a JOIN rng USING (event_type) GROUP BY 1, 2),
       bb AS (SELECT b.event_type,
                     CASE WHEN mx <= mn THEN 0
                          ELSE LEAST(9, GREATEST(0,
                               CAST(FLOOR((v - mn) / (mx - mn) * 10) AS INT)))
                     END AS bucket, COUNT(*) AS n_b
              FROM b JOIN rng USING (event_type) GROUP BY 1, 2),
       ta AS (SELECT event_type, CAST(SUM(n_a) AS DOUBLE) AS t FROM ab GROUP BY 1),
       tb AS (SELECT event_type, CAST(SUM(n_b) AS DOUBLE) AS t FROM bb GROUP BY 1),
       j AS (SELECT COALESCE(ab.event_type, bb.event_type) AS event_type,
                    COALESCE(ab.bucket, bb.bucket) AS bucket,
                    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
             FROM ab FULL JOIN bb
               ON ab.event_type = bb.event_type AND ab.bucket = bb.bucket),
       q AS (SELECT j.event_type,
              CAST(ROUND((n_a / ta.t + 1e-06 - (n_b / tb.t + 1e-06))
                        * ln((n_a / ta.t + 1e-06) / (n_b / tb.t + 1e-06))
                        * 1e9) AS BIGINT) AS qt
             FROM j JOIN ta ON j.event_type = ta.event_type
             JOIN tb ON j.event_type = tb.event_type)
       SELECT event_type,
              ROUND(CAST(SUM(qt) AS DOUBLE) / 1e9, 6) AS psi,
              CAST(0 AS BIGINT) AS batch_id
       FROM q GROUP BY event_type""",
)
def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING drift monitor judged end-to-end: odd-id events
    replayed as a file stream, scored per micro-batch against the
    even-id static reference by foreachBatch PSI, audit rows landing
    in an append-only parquet table keyed by batch_id
    (streaming/pipeline.stream_drift_monitor).  The gate tables are
    single parquet files and the files source never splits one file
    across triggers, so the replay is exactly ONE deterministic batch —
    the oracle is the batch PSI plus batch_id 0, the same single-batch
    pinning strategy as q_stream_replay.  Unlike the r4-green
    q_psi_drift (accepted float-sum precedent), this NEW row follows
    the §62 rulebook: every PSI term is 1e-9-integer-quantized before
    the order-sensitive sum (psi_drift(quantized=True))."""
    import tempfile

    from ..streaming.pipeline import (
        events_file_stream,
        stream_drift_monitor,
    )

    ref = load_events(spark, sf_dir).filter(F.col("event_id") % 2 == 0)
    sink = os.path.join(_sink_root(), f"drift_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_drift_q_") as ckpt:
        stream = events_file_stream(spark, sf_dir).filter(
            F.col("event_id") % 2 == 1
        )
        handle = stream_drift_monitor(stream, ref, sink, ckpt)
        handle.awaitTermination()
    return spark.read.parquet(sink)


@q(
    "q_stream_cardinality",
    f"""WITH base AS ({_hll_sql(8)})
       SELECT event_type, hll_est, CAST(0 AS BIGINT) AS batch_id
       FROM base""",
)
def q_stream_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming cardinality monitor judged end-to-end: the events
    table replayed as one deterministic micro-batch (single-file gate
    tables), each batch's per-group distinct count estimated with the
    portable HLL and appended to the audit table keyed by batch_id
    (streaming/pipeline.stream_cardinality_monitor).  Oracle =
    q_hll_portable's register-exact SQL plus batch_id 0 — the same
    single-batch pinning as q_stream_replay / q_stream_drift."""
    import tempfile

    from ..streaming.pipeline import (
        events_file_stream,
        stream_cardinality_monitor,
    )

    sink = os.path.join(_sink_root(), f"card_{next(_SINK_SEQ)}", "out")
    with tempfile.TemporaryDirectory(prefix="ckpt_card_q_") as ckpt:
        handle = stream_cardinality_monitor(
            events_file_stream(spark, sf_dir), sink, ckpt
        )
        handle.awaitTermination()
    return spark.read.parquet(sink)


@q(
    "q_stream_ingest",
    f"""WITH pairs AS ({_minhash_incremental_sql(threshold=0.5)})
       SELECT doc_id, lang, source FROM documents
       WHERE doc_id % 2 = 1
         AND doc_id NOT IN (SELECT doc_id FROM pairs)""",
)
def q_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming crawl-ingest dedup judged end-to-end: the odd-id
    documents replay as one deterministic micro-batch, probe the
    PERSISTED band-partitioned MinHash index of the even-id corpus
    (write_minhash_index -> foreachBatch minhash_incremental_pairs),
    and only never-seen docs land in the survivor sink
    (streaming/pipeline.stream_ingest_dedup).  Oracle: the odd docs
    minus q_dedup_incremental's pair SQL — so the judged contract spans
    index WRITE, partition-pruned index READ, the incremental probe,
    and the survivor anti-join in one row."""
    import tempfile

    from ..operators.dedup import write_minhash_index
    from ..streaming.pipeline import (
        documents_file_stream,
        stream_ingest_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = os.path.join(_sink_root(), f"ingest_{next(_SINK_SEQ)}")
    idx, sink = os.path.join(root, "idx"), os.path.join(root, "out")
    write_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), idx)
    with tempfile.TemporaryDirectory(prefix="ckpt_ingest_q_") as ckpt:
        stream = documents_file_stream(spark, sf_dir).filter(
            F.col("doc_id") % 2 == 1
        )
        handle = stream_ingest_dedup(stream, idx, sink, ckpt, threshold=0.5)
        handle.awaitTermination()
    return spark.read.parquet(sink).select("doc_id", "lang", "source")
