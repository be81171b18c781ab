"""Text-analysis operators over the documents table
(driver-mandated extensions, SURVEY.md §2.3 X4/X5): tokenization, token
frequency, language ID, quality scoring, fingerprinting.

All pure built-in expressions (split/filter/transform/aggregate HOFs) —
no Python in the row path, so the plans stay inside whole-stage codegen
and scale linearly with one shuffle per groupBy at most.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import spread
from .dedup import tokens_col

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic.  Order = deterministic tie-break priority.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "en", "los"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
}


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("_toks", tokens_col(text_col))


def token_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """X4 — per-doc token counting."""
    df = with_tokens(spread(df))  # r11: narrow-scan CPU, the r9 trap class
    return df.select(
        id_col,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_distinct"),
    )


def token_freq(df: DataFrame, top_n: int = 50) -> DataFrame:
    """X4 — corpus token frequency, deterministic top-n."""
    tok = with_tokens(df).select(F.explode("_toks").alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(top_n)
    )


def unigram_logprob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Perplexity-proxy quality scoring via a corpus unigram LM (the
    CCNet-style signal: documents whose tokens are improbable under the
    corpus distribution are noise candidates): two aggregation passes —
    corpus token frequencies, then per-doc mean negative log-probability
    of its tokens under freq/total.

    Scale posture: the freq table is vocabulary-sized and joins the
    exploded token stream on the token key (shuffle join; AQE broadcasts
    it when the vocab is small — do NOT hard-broadcast, web-scale vocab
    is not driver-sized).  The corpus total rides a broadcast 1-row
    cross join.  No Python anywhere."""
    tok = with_tokens(df, text_col).select(F.col(id_col), F.explode("_toks").alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("tot"))
    scored = (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            (-F.log(F.col("cnt").cast("double") / F.col("tot"))).alias("nlp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("nlp"), 4).alias("avg_neg_logprob"),
    )


def doc_profile(df: DataFrame) -> DataFrame:
    """X5 — language/source profiling."""
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def _hits(lang: str):
    words = [F.lit(w) for w in STOPWORDS[lang]]
    return F.size(F.filter(F.col("_toks"), lambda t: t.isin(*[w for w in STOPWORDS[lang]])))


def lang_id(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stopword-ratio language ID.  Argmax with fixed priority order
    (en>es>de>fr) — a deliberately simple, deterministic heuristic; real
    systems would swap in a fastText-style model via mapInPandas."""
    df = with_tokens(spread(df))  # r11: four stopword-set scans per row
    for lang in STOPWORDS:
        df = df.withColumn(f"h_{lang}", _hits(lang).cast("long"))
    pred = (
        F.when(
            (F.col("h_en") >= F.col("h_es"))
            & (F.col("h_en") >= F.col("h_de"))
            & (F.col("h_en") >= F.col("h_fr")),
            F.lit("en"),
        )
        .when((F.col("h_es") >= F.col("h_de")) & (F.col("h_es") >= F.col("h_fr")), F.lit("es"))
        .when(F.col("h_de") >= F.col("h_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.select(id_col, "lang", pred.alias("pred_lang"), "h_en", "h_es", "h_de", "h_fr")


def quality_score(df: DataFrame, id_col: str = "doc_id", keep: tuple[str, ...] = ()) -> DataFrame:
    """X4 — document quality score: length, lexical diversity, stopword
    ratio (the classic pre-training corpus filters).  ``keep`` carries
    extra columns through (e.g. text/lang/source for pipeline stages)."""
    df = with_tokens(df)
    n_tok = F.size("_toks").cast("double")
    n_dis = F.size(F.array_distinct("_toks")).cast("double")
    n_stop = F.size(F.filter(F.col("_toks"), lambda t: t.isin(*STOPWORDS["en"]))).cast("double")
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (n_dis / F.nullif(n_tok, F.lit(0.0)))
        + F.lit(0.3) * F.least(n_stop / F.nullif(F.lit(0.1) * n_tok, F.lit(0.0)), F.lit(1.0))
    )
    return df.select(
        id_col,
        *keep,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.round(score, 6).alias("quality"),
    )


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """X4 — rolling polynomial fingerprint over the token stream:
    fold(acc*31 + (ascii(first_char)*31 + len)) mod 1e9+7.  A pure
    aggregate() HOF — order-sensitive by construction (a permuted doc
    fingerprints differently), unlike a bag-of-words hash."""
    # spread before the per-token fold HOF (narrow-scan CPU, r9 trap)
    df = with_tokens(spread(df))
    vals = F.transform(
        F.col("_toks"),
        lambda t: (F.ascii(F.substring(t, 1, 1)).cast("long") * F.lit(31) + F.length(t)).cast(
            "long"
        ),
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * F.lit(31) + v) % F.lit(1000000007),
    )
    return df.select(id_col, fp.alias("fingerprint"))


def tfidf_top_terms(df: DataFrame, k: int = 5, id_col: str = "doc_id") -> DataFrame:
    """X4 — top-k TF-IDF terms per document.  tf = in-doc term count,
    idf = ln(N / df) with exact document frequency; deterministic
    tie-break on the token.  Plan: explode -> two hash aggregations
    (term-per-doc, then doc-frequency) -> broadcast-size idf join ->
    per-doc top-k window.  The idf table is one row per distinct token —
    at corpus scale it exceeds broadcast size and Catalyst shuffles it,
    which is the correct fallback.

    N is computed IN-PLAN (1-row aggregate, broadcast crossJoin — the
    tfidf_cosine construction): the r6-era form ran a driver-side
    ``df.count()`` during plan CONSTRUCTION, serializing an extra job
    per invocation and re-scanning the input per call (r11 VERDICT
    wrong #3)."""
    from pyspark.sql import Window

    stats = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n")))
    toks = with_tokens(df).select(id_col, F.explode("_toks").alias("token"))
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(stats)
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("_n").cast("double") / F.col("df")), 6
            ),
        )
    )
    # rank on the ROUNDED score (token tiebreak): the raw product is a
    # deterministic scalar of counts, but ln() can differ by 1 ulp
    # across libm implementations — rounded-score+id ordering is the
    # engine-invariant pattern (ARCHITECTURE.md §4)
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "token", "tfidf")
    )


def winnow_fingerprints(
    df: DataFrame, k: int = 5, w: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    polynomial-hash every character k-gram of the normalized text, slide
    a w-hash window, keep the window minimum (rightmost on ties), emit
    the distinct (position, hash) selections.  Guarantees any shared
    substring of length >= k + w - 1 produces a shared fingerprint —
    the robust fingerprinting behind plagiarism/near-dup detection.

    Entirely HOF expressions (JVM) with ZERO shuffle: selections are
    deduplicated IN-ROW (``array_distinct`` over the per-doc selection
    array) before the explode — the selection key (pos, hash) is
    per-document, so the r11 global ``.distinct()`` bought nothing the
    in-row dedup doesn't, while costing the plan's only exchange (at
    sf10: a 554 MB shuffle whose partial aggregation spilled 4 GB,
    the superlinear component of the r12 steep-text sweep).  The
    polynomial hash folds left-to-right mod 1e9+7, which both engines
    compute identically on ASCII codes (non-alphanumerics are
    stripped).

    Plan note: the char-code array is materialized as a COLUMN first and
    the gram lambdas index it with element_at.  HOF lambdas are
    interpreted (outside whole-stage codegen) and hoist nothing: an
    inline `substr(regexp_replace(...), i+j, 1)` re-runs the full-text
    regex per character access — O(k·len²) per doc, measured 65 s for
    the sf0.1 corpus vs ~1 s for this shape.  CollapseProject cannot
    re-inline the array because non-cheap aliases referenced more than
    once are never collapsed."""
    mod = F.lit(1_000_000_007).cast("long")
    s = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    # spread before the per-row O(len·(k+w)) HOF work (r9 trap class:
    # the heavy lambdas run pre-exchange, at the scan's partition count)
    df = spread(df).filter(F.length(s) >= k + w - 1).withColumn(
        "_codes", F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long"))
    )
    hs = F.transform(
        F.sequence(F.lit(1), F.size("_codes") - k + 1),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: F.pmod(
                acc * F.lit(31) + F.element_at("_codes", (i + j).cast("int")),
                mod,
            ),
        ),
    )
    df = df.withColumn("_h", hs)
    win_min = F.transform(
        F.sequence(F.lit(1), F.size("_h") - w + 1),
        lambda j: F.aggregate(
            F.sequence(j + 1, j + w - 1),
            F.struct(j.alias("p"), F.element_at("_h", j).alias("v")),
            lambda acc, i: F.when(
                F.element_at("_h", i) <= acc["v"],
                F.struct(i.alias("p"), F.element_at("_h", i).alias("v")),
            ).otherwise(acc),
        ),
    )
    return (
        df.select(id_col, F.explode(F.array_distinct(win_min)).alias("fp"))
        .select(id_col, F.col("fp.p").cast("long").alias("pos"), F.col("fp.v").alias("hash"))
    )


def repetition_metrics(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style intra-document repetition / quality signals (Rae et
    al. 2021 §A1.1 — public paper; no reference counterpart, SURVEY.md
    §2.2): per doc, instance-weighted mean token length, duplicate-token
    fraction, most-common-token fraction, most-common-bigram fraction,
    and token entropy ln(n) - Σc·ln(c)/n.  Two explode→hash-agg passes
    (unigram + bigram) joined on doc id; all JVM expressions, shuffle
    keys are (doc_id, token) — bounded by document length, never corpus
    size, so the plan is skew-safe at 100 TB."""
    # r11: both explode passes consume the scan directly — fan the
    # narrow gate scan out once so tokenize+explode parallelize
    df = spread(df)
    tf = (
        with_tokens(df)
        .select(id_col, F.explode("_toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    uni = tf.groupBy(id_col).agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("_ndis"),
        (F.sum(F.length("tok") * F.col("c")) / F.sum("c")).alias("_mwl"),
        F.max("c").alias("_topc"),
        (F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c")).alias("_ent"),
    )
    toks = with_tokens(df).select(id_col, "_toks").filter(F.size("_toks") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.concat_ws(" ", F.element_at("_toks", i), F.element_at("_toks", i + 1)),
    )
    bg = (
        toks.select(id_col, F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("_topbg"), F.sum("c").alias("_nbg"))
    )
    return uni.join(bg, id_col, "left").select(
        id_col,
        F.col("_n").cast("long").alias("n_tokens"),
        F.round("_mwl", 6).alias("mean_word_len"),
        F.round(F.lit(1.0) - F.col("_ndis") / F.col("_n"), 6).alias("dup_token_frac"),
        F.round(F.col("_topc") / F.col("_n"), 6).alias("top_token_frac"),
        F.round(F.col("_topbg") / F.col("_nbg"), 6).alias("top_bigram_frac"),
        F.round("_ent", 6).alias("token_entropy"),
    )


def norm_expr(text_col: str = "text"):
    """The canonical normal form as a column expression (reused by the
    full curation pipeline for normal-form exact dedup)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "), " +", " "
        )
    )


#: PII patterns, ordered most-specific-first so earlier redactions can't
#: mask later matches (emails contain dots; redact them before IPs).
#: Written in the regex subset Java (Spark) and RE2 (DuckDB) agree on —
#: no lookaround, no backrefs — so the SAME pattern strings drive both
#: the operator and its oracle.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII scrubbing (the pre-training redaction pass every public-web
    corpus pipeline runs before tokenization): emails, IPv4s, and
    NNN-NNN-NNNN phone shapes replaced by typed placeholder tokens, with
    per-type match counts for audit.  Pure codegen regexp expressions
    applied in one projection — at 100 TB this is a map-only pass, no
    shuffle, no Python.

    Counting happens BEFORE redaction on the original text; replacement
    chains most-specific-first (PII_PATTERNS order), so an email's
    domain dots can never be double-redacted as an IP.

    The input is spread first (no-op on an already-wide scan): the
    regex chain is CPU-heavy per row, and a narrow parquet scan (sf1
    documents = 2 partitions) would otherwise pin it to two cores —
    the r9 parallelism-trap class (see char_entropy_profile)."""
    df = spread(df)
    red = F.col(text_col)
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, rep)
    return df.select(F.col(id_col), red.alias("red_text"), *counts)


def normalize_text(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Canonical text normalization (the pre-dedup pass every corpus
    pipeline runs): lowercase, non-alphanumerics -> space, whitespace
    runs collapsed, trimmed; plus a stopword-stripped content variant and
    the md5 of the normal form (the exact-dedup key after normalization).
    Pure codegen expressions — regexp_replace/HOFs, no Python row path.
    Spread first: regex-heavy map work on a narrow scan pins to its
    partition count (the r9 parallelism-trap class)."""
    df = spread(df)
    norm = norm_expr(text_col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    content = F.array_join(
        F.filter(F.split(norm, " "), lambda x: ~F.array_contains(sw, x)), " "
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_norm_chars"),
        content.alias("content_text"),
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 top-k retrieval (Robertson/Sparck Jones probabilistic
    weighting, the Okapi scoring used by Lucene/Elasticsearch).  Score =
    sum over query terms of idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*|d|/avgdl)),
    idf = ln((N - df + 0.5)/(df + 0.5) + 1).

    100 TB posture: the query-term filter lands BEFORE the tf
    aggregation, so the explode shuffles only postings of the |q| query
    terms — the corpus-wide inverted index is never materialized.  N and
    avgdl are a 1-row broadcast; df(t) is |q| rows.  The final ranking
    is ORDER BY + LIMIT (TakeOrderedAndProject: per-partition heaps, k
    rows over the wire).  Deterministic tie-break on id; everything
    JVM-side."""
    from .dedup import tokens_col

    terms = sorted({t for t in query.lower().split() if t})
    lens = df.select(
        F.col(id_col), F.size(tokens_col(text_col)).alias("_len")
    )
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(F.col("_len").cast("double")).alias("_avgdl"),
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("term")
    ).filter(F.col("term").isin(terms))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("_tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("_df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log((F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5) + 1.0),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1))
            / (
                F.col("_tf")
                + k1 * (1 - b + b * F.col("_len").cast("double") / F.col("_avgdl"))
            ),
        )
    )
    # rank on the ROUNDED score (6dp) with an id tiebreak: the raw
    # per-doc sum is float-accumulation-order sensitive, and a 1-ulp
    # engine difference at the k/k+1 boundary would flip the LIMIT cut
    # (the q_spearman hazard class — rounded-score+id is the proven
    # order-invariant pattern)
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("_s"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "bm25")
    )


def bigram_next(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram-LM estimation (the count-based n-gram LM step): for every
    token, its most likely continuation with conditional probability
    P(next | token) = c(token, next) / c(token, ·).  Deterministic
    tie-break (count desc, next asc).

    Scale: pairs are built as an in-row array expression (no
    positional self-join), so the plan is explode -> two partial-
    aggregated groupBys + a per-token rank window riding the same
    hash(token) distribution — vocabulary-sized state, not corpus."""
    from pyspark.sql import Window

    from .dedup import tokens_col

    t = F.col("_t")
    pairs = F.transform(
        # guard: sequence(1, 0) would generate DESCENDING [1, 0]
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("a"), F.element_at(t, i + 1).alias("b")
        ),
    )
    pr = (
        df.select(tokens_col(text_col).alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    cnt = pr.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cnt.groupBy("a").agg(F.sum("cnt").alias("_n"))
    w = Window.partitionBy("a").orderBy(F.col("cnt").desc(), F.col("b").asc())
    return (
        cnt.join(tot, "a")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("a").alias("token"),
            F.col("b").alias("next_token"),
            "cnt",
            F.round(F.col("cnt") / F.col("_n").cast("double"), 6).alias("cond_p"),
        )
    )


def bpe_pair_counts(df: DataFrame, top_k: int = 50, text_col: str = "text") -> DataFrame:
    """BPE merge-candidate counting (Sennrich et al. 2016 — the inner
    loop of tokenizer training): count every adjacent SYMBOL pair across
    all word occurrences; the most frequent pair is the next merge.
    This is the first-iteration (character-symbol) pass; iterating just
    re-runs it with the merged symbol substituted — the per-pass plan is
    identical.

    Scale: the corpus collapses to the (word, count) VOCABULARY first
    (one map-side-combinable groupBy — the same collapse ``fuzzy_token_
    pairs`` and ``bpe_learn_merges`` use), so pair construction touches
    distinct words only, weighted by occurrence count.  Pairs come from
    ``posexplode`` of the materialized char array + ``element_at`` for
    the successor — every expression whole-stage codegen, no
    interpreted HOF lambdas (an inline ``substr(w, i, 1)`` per element
    is the O(len²) interpreted shape ``winnow_fingerprints``' plan note
    documents; measured 3.7 s -> sub-second at sf0.1).  The pair
    groupBy's key cardinality is the symbol-pair vocabulary (bounded,
    ~|alphabet|² at iteration 0).  Top-k selection is ORDER BY + LIMIT
    -> TakeOrderedAndProject: per-partition heaps, k rows on the wire.

    Returns (left_sym, right_sym, n_pairs) — count desc, pair asc, k
    rows."""
    from .dedup import tokens_col

    vocab = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("syms", F.split("w", ""))
    )
    return (
        _pair_counts_from_syms(vocab)
        .select(
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("n").alias("n_pairs"),
        )
        .orderBy(
            F.col("n_pairs").desc(),
            F.col("left_sym").asc(),
            F.col("right_sym").asc(),
        )
        .limit(top_k)
    )


def _merge_fold(syms, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of adjacent
    (left, right) symbol pairs in an array — the BPE apply step.  A
    fold: append each symbol unless it completes the pair with the
    accumulator's tail, in which case the tail is replaced by the merged
    symbol.  (String replace over space-joined symbols is NOT boundary-
    safe — 'a b' matches inside 'ba b' — and RE2-based engines lack
    lookbehind, so the array fold is the portable form.)"""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(left + right))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _pair_counts_from_syms(vocab: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (w, c, syms) vocabulary table,
    weighted by word count c.  ``posexplode`` + ``element_at`` for the
    successor symbol — codegen expressions only (no interpreted HOF
    lambda per element); single-symbol words yield no pairs via the
    positional filter."""
    return (
        vocab.select("c", "syms", F.posexplode("syms").alias("i", "a"))
        .filter(F.col("i") < F.size("syms") - 1)
        .select(
            "c",
            "a",
            F.element_at("syms", F.col("i") + 2).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.sum("c").alias("n"))
    )


def bpe_learn_merges(
    df: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """The FULL BPE training loop (Sennrich et al. 2016), structured the
    way it scales: ONE corpus pass builds the (word, count) vocabulary —
    every subsequent iteration (count pairs -> take the argmax merge ->
    rewrite symbol arrays) runs over the VOCABULARY table, whose size is
    the distinct-word count, not the corpus.  Per iteration the driver
    collects exactly one row (the winning pair — same bounded-collect
    posture as ``kmeans_fit``'s K centroids) and re-inlines it as the
    literal for the next rewrite; the vocab is localCheckpoint'd each
    round so lineage stays one fold deep.

    Deterministic end to end (count-desc, pair-asc argmax; greedy
    left-to-right merge application), so the learned merge table has an
    exact unrolled-CTE SQL twin.

    Returns (merge_rank, left_sym, right_sym, pair_count) — the merge
    rules in learned order."""
    from .dedup import tokens_col

    spark = df.sparkSession
    vocab = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("syms", F.split("w", ""))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, int]] = []
    for t in range(1, n_merges + 1):
        top = (
            _pair_counts_from_syms(vocab)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merges.append((t, a, b, n))
        vocab = vocab.withColumn(
            "syms", _merge_fold(F.col("syms"), a, b)
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "merge_rank int, left_sym string, right_sym string, pair_count long"
    )


def fuzzy_token_pairs(
    df: DataFrame, min_len: int = 3, max_dist: int = 2, text_col: str = "text"
) -> DataFrame:
    """Fuzzy vocabulary matching by DELETION-NEIGHBORHOOD blocking (the
    SymSpell construction): every word emits itself plus every variant
    reachable by deleting up to ``max_dist`` characters as join keys;
    two words within edit distance d always share a depth-d deletion
    variant, so the candidate join touches only same-key posting lists
    — never the all-pairs vocabulary square.  An exact ``levenshtein``
    check prunes the blocking's false positives.  The spelling-variant /
    entity-resolution primitive over a corpus.

    Scale: key volume is Σ C(len, <=max_dist) over the VOCABULARY (the
    corpus collapses to (word, count) first — vocab-sized, not corpus-
    sized); the join key is a short string, posting lists are tiny for
    natural language, and the verify is a JVM builtin.  All map-side
    except the vocab groupBy and the key equi-join.

    Returns (word_a, word_b, dist, n_a, n_b), word_a < word_b."""
    from .dedup import tokens_col

    if max_dist not in (1, 2):
        raise ValueError("fuzzy_token_pairs supports max_dist 1 or 2")
    vocab = (
        df.select(F.explode(tokens_col(text_col)).alias("w"))
        .filter(F.length("w") >= min_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    L = F.length("w")
    del1 = F.transform(
        F.sequence(F.lit(1), L),
        lambda i: F.concat(
            F.substring("w", F.lit(1), i - 1), F.substring("w", i + 1, L - i)
        ),
    )
    variants = F.concat(F.array("w"), del1)
    if max_dist == 2:
        # delete positions i < j in one expression (depth-2 neighborhood)
        del2 = F.flatten(
            F.transform(
                F.sequence(F.lit(1), L - 1),
                lambda i: F.transform(
                    F.sequence(i + 1, L),
                    lambda j: F.concat(
                        F.substring("w", F.lit(1), i - 1),
                        F.substring("w", i + 1, j - i - 1),
                        F.substring("w", j + 1, L - j),
                    ),
                ),
            )
        )
        variants = F.concat(variants, F.when(L >= 2, del2).otherwise(F.array()))
    keys = vocab.select(
        "w", "n", F.explode(F.array_distinct(variants)).alias("k")
    )
    a, b = keys.alias("a"), keys.alias("b")
    pairs = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.w") < F.col("b.w")))
        .select(
            F.col("a.w").alias("word_a"),
            F.col("b.w").alias("word_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()
    )
    d = F.levenshtein("word_a", "word_b")
    return pairs.filter(d <= max_dist).select(
        "word_a", "word_b", d.cast("int").alias("dist"), "n_a", "n_b"
    )


def token_pmi(
    df: DataFrame,
    min_docs: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document-level pointwise mutual information of token pairs —
    collocation mining (Church & Hanks 1990): PMI(a,b) =
    ln(P(a,b) / (P(a)P(b))) with probabilities = document frequencies
    over the N docs that contain at least one token.

    Plan: the per-doc DISTINCT-sorted token array generates its ordered
    pairs IN-ROW (one explode), pair and marginal doc-frequencies are
    two combiner-reduced groupBys, and the 1-row N aggregate broadcasts.

    Scale: the in-row fan-out is O(distinct_tokens_per_doc²) — at
    open-vocabulary 100 TB scale you first restrict to a candidate
    vocabulary (top-k tokens broadcast as a filter; same plan after
    the ``array_intersect``), which bounds the square.  This corpus has
    a bounded vocabulary, so the direct form is the honest one.

    Returns (token_a, token_b, n_ab, pmi) for pairs co-occurring in at
    least ``min_docs`` documents."""
    from .dedup import tokens_col

    arr = F.array_sort(F.array_distinct(tokens_col(text_col)))
    # spread before the O(distinct²) in-row pair fan-out — on a narrow
    # scan the fan-out pins to the scan's partition count (r9 trap class)
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), arr.alias("_t")
    ).filter(F.size("_t") >= 1)
    # N and marginals ride the same scan lineage; both tiny aggregates
    n_docs = base.select(F.count(F.lit(1)).alias("_N"))
    marg = (
        base.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("_t")),
                lambda j: F.struct(
                    F.element_at("_t", i.cast("int")).alias("a"),
                    F.element_at("_t", j.cast("int")).alias("b"),
                ),
            ),
        )
    )
    co = (
        base.filter(F.size("_t") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_docs)
    )
    ma = marg.select(F.col("tok").alias("token_a"), F.col("n_tok").alias("_na"))
    mb = marg.select(F.col("tok").alias("token_b"), F.col("n_tok").alias("_nb"))
    return (
        co.join(F.broadcast(ma), "token_a")
        .join(F.broadcast(mb), "token_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("_N").cast("double")
                    / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def bpe_apply(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a TRAINED merge list and measure
    fertility — the evaluate step of the BPE train->apply cycle
    (symbols/word is the metric tokenizer work optimizes; the
    compression each merge buys shows up as n_syms shrinking toward
    n_words).

    Scale shape: merges rewrite the DISTINCT-word vocabulary (the same
    vocab-sized state ``bpe_learn_merges`` iterates on), producing a
    (word -> symbol count) map that joins the exploded corpus on the
    word key — AQE broadcasts it while vocab-sized, shuffles past that.
    The corpus is touched twice (vocab build, token join), never per
    merge.

    Returns (doc_id, n_words, n_syms) per document with >= 1 token."""
    from .dedup import tokens_col

    tok = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("w"))
    vocab = tok.select("w").distinct().withColumn("syms", F.split("w", ""))
    for a, b in merges:
        vocab = vocab.withColumn("syms", _merge_fold(F.col("syms"), a, b))
    wmap = vocab.select("w", F.size("syms").cast("long").alias("_ns"))
    return (
        tok.join(wmap, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_ns").alias("n_syms"),
        )
    )


def doc_chunks(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping word-window chunking — the corpus -> training-example
    step that turns variable-length documents into fixed-budget chunks
    (``window`` tokens each, ``stride`` apart, so consecutive chunks
    share ``window - stride`` tokens of boundary context).  Complements
    ``curation.pack_sequences`` (which BINS whole short docs up to a
    budget); chunking SPLITS long docs down to one.

    All JVM built-ins in one narrow map stage — split once per doc,
    explode the chunk-start sequence, slice + rejoin per chunk; no
    shuffle, so at 100 TB chunking rides the scan for free.  The FIRST
    chunk that reaches the document's end is the LAST (last start =
    stride * ceil((n - window)/stride), clamped to 0 — Spark's
    ``sequence()`` DESCENDS when stop < start): a naive every-stride
    start would emit tail chunks fully contained in their predecessor.
    So every chunk except the last is exactly ``window`` tokens and the
    last holds the remaining (window - stride, window] tokens.  Returns
    (id, chunk_id, n_tokens, chunk_text); droppers filter on n_tokens
    downstream."""
    if stride < 1 or window < stride:
        raise ValueError("doc_chunks: need 1 <= stride <= window")
    w = F.split(F.col(text_col), " ")
    n = F.size(w)
    # ceil((n - window)/stride) * stride via positive-int arithmetic
    # only (negative integer division floors in DuckDB but truncates in
    # Spark — keep the oracle twin trivially identical)
    stop = (
        F.when(n <= window, F.lit(0))
        .otherwise(
            F.floor((n - window + stride - 1) / stride) * stride
        )
        .cast("int")
    )
    starts = F.sequence(F.lit(0), stop, F.lit(stride))
    c = df.select(
        F.col(id_col),
        w.alias("_w"),
        F.posexplode(starts).alias("chunk_id", "_st"),
    )
    return c.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.lit(window), F.size("_w") - F.col("_st"))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(F.slice("_w", F.col("_st") + 1, window), " ").alias(
            "chunk_text"
        ),
    )


def char_entropy_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Character-level Shannon entropy per document — the compression-
    proxy quality signal (near-zero entropy = degenerate/repeated text,
    very high = binary junk; CCNet/Gopher-style filters cut both
    tails).  entropy = -Σ p_c·ln(p_c) over the lowercased character
    distribution, plus the distinct-char count and length.

    Plan (r8 VERDICT #7 rewrite, measured): fully IN-ROW — per row,
    fold -Σ(k/n)·ln(k/n) over the SORTED distinct characters, with
    each count from an in-row filter scan (O(len·distinct) codegen
    comparisons, zero shuffle).  Replaces the explode-to-(doc,char) +
    double hash-aggregate shape: measured at sf1 (50k docs) the
    explode form ran 50.0s — dominated not by the aggregation but by
    the 2-partition parquet scan it inherited — vs 1.77s for in-row +
    ``spread`` (the explode form with spread alone: 2.50s; the in-row
    fold keeps the residual 30% and removes both exchanges).  The
    sorted fold also makes the accumulation order deterministic and
    engine-portable (list ORDER BY c + left fold in the oracle) — the
    former sum's order was engine-dependent and only 6dp-rounding-safe
    by magnitude argument."""
    df = spread(df.select(F.col(id_col), F.col(text_col)), id_col, factor=16)
    t = F.lower(F.col(text_col))
    arr = F.split(t, "")
    n = F.length(t)
    dis = F.array_sort(F.array_distinct(arr))
    counts = F.transform(dis, lambda c: F.size(F.filter(arr, lambda x: x == c)))
    ent = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, k: acc + (k.cast("double") / n) * F.log(k.cast("double") / n),
    )
    return df.filter(n >= 1).select(
        id_col,
        n.cast("long").alias("n_chars"),
        F.round(ent, 6).alias("entropy"),
        F.size(dis).cast("long").alias("n_distinct_chars"),
    )


def hash_tf(
    df: DataFrame,
    n_features: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashing-trick term frequencies (the HashingTF / feature-hashing
    vectorizer): token -> portable-hash bucket in [0, n_features),
    per-doc bucket counts — fixed-width features with NO vocabulary
    state, the property that makes it the default text vectorizer at
    corpus scale (no global dictionary to build, broadcast, or keep
    consistent across runs).

    The hash is the repo's portable md5 prefix (operators/dedup.
    porthash32), so signatures are reproducible across engines, runs,
    and partitionings — unlike Spark ML's HashingTF (murmur3, JVM-
    specific seed), which this mirrors in shape but replaces for
    oracle-checkability.  One explode + one hash(doc, bucket) count;
    sparse output (only occupied buckets emit rows).

    Returns (doc_id, bucket, tf)."""
    from .dedup import porthash32, tokens_col

    toks = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("_tok")
    )
    return (
        toks.withColumn("bucket", porthash32(F.col("_tok")) % n_features)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def gopher_rules(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style hard rule gates (Rae et al. 2021 §A1.1, adapted to
    this corpus's 10-99-word documents): token-count bounds, mean word
    length in [3, 10], >=80% alphabetic tokens, >=2 stopword hits —
    each emitted as its own audit flag plus the conjunctive keep.

    Every rule is INTEGER arithmetic (mean-word-length in [3,10] is
    3n <= chars <= 10n, the 80% gate is 5*alpha >= 4*n) — no float
    anywhere, so the oracle compares hash-exact.  One map-side pass;
    at 100 TB this is the first, cheapest gate in the curation funnel
    and must never cost an exchange — the keyless spread() below
    no-ops on any already-wide corpus scan (it only fans out the
    narrow single-file gate scans that would otherwise serialize the
    per-token rule CPU onto 1-2 tasks)."""
    df = with_tokens(spread(df))
    n = F.size("_toks").cast("long")
    chars = F.length(F.concat_ws("", F.col("_toks"))).cast("long")
    n_alpha = F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]"))).cast("long")
    n_stop = _hits("en").cast("long")
    r_len = (n >= 20) & (n <= 100000)
    r_wlen = (F.lit(3) * n <= chars) & (chars <= F.lit(10) * n)
    r_alpha = F.lit(5) * n_alpha >= F.lit(4) * n
    r_stop = n_stop >= 2
    return df.select(
        id_col,
        n.alias("n_tokens"),
        r_len.alias("r_len"),
        r_wlen.alias("r_wlen"),
        r_alpha.alias("r_alpha"),
        r_stop.alias("r_stop"),
        (r_len & r_wlen & r_alpha & r_stop).alias("keep"),
    )


def rake_keywords(
    df: DataFrame, top_k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; word score = deg/freq where deg
    sums the lengths of phrases containing the word (self included) and
    freq counts occurrences; phrase score = Σ member word scores (with
    multiplicity); emit each document's top_k distinct phrases.

    Parity engineering: word scores are quantized once —
    ROUND(deg*1e6/freq, 0) as BIGINT (deg/freq is a small-denominator
    rational, so the 6dp boundary is never within an ulp) — and phrase
    scores are exact integer sums of those; ranking orders by
    (score_q DESC, phrase ASC), integers and strings only.

    Plan: NO joins — phrase length and word degree/frequency attach to
    each occurrence via unordered windows over (doc, phrase) and
    (doc, word), then ONE groupBy rebuilds phrases with their summed
    scores.  Three narrow exchanges on doc-prefixed keys, each finer
    than plain doc_id (better skew behavior at 100 TB: a giant document
    still splits across phrase/word keys for the stats stages); per-doc
    state is phrase-count-sized."""
    from pyspark.sql import Window

    from .dedup import tokens_col

    sw = list(STOPWORDS["en"])
    tok = df.select(
        F.col(id_col), F.posexplode(tokens_col(text_col)).alias("pos", "tok")
    ).withColumn("_st", F.col("tok").isin(*sw).cast("int"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    content = tok.withColumn("phrase_id", F.sum("_st").over(w)).filter(
        F.col("_st") == 0
    )
    wp = Window.partitionBy(id_col, "phrase_id")
    wt = Window.partitionBy(id_col, "tok")
    content = content.withColumn("plen", F.count(F.lit(1)).over(wp)).withColumn(
        "score_q",
        F.round(
            F.sum("plen").over(wt).cast("double") * F.lit(1000000.0)
            / F.count(F.lit(1)).over(wt).cast("double"),
            0,
        ).cast("long"),
    )
    ph = content.groupBy(id_col, "phrase_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("phrase"),
        F.max("plen").alias("plen"),
        F.sum("score_q").alias("pscore_q"),
    )
    agg = ph.groupBy(id_col, "phrase").agg(
        F.max("plen").alias("plen"),
        F.max("pscore_q").alias("score_q"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    rk = Window.partitionBy(id_col).orderBy(
        F.col("score_q").desc(), F.col("phrase").asc()
    )
    return (
        agg.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= top_k)
        .select(
            id_col,
            "rk",
            "phrase",
            (F.col("score_q").cast("double") / F.lit(1000000.0)).alias("rake_score"),
            "plen",
            "n_occurrences",
        )
    )


def blocked_linkage(
    df: DataFrame,
    name_col: str = "p_name",
    max_dist: int = 3,
) -> DataFrame:
    """Record-linkage candidate pairs by blocked edit distance: distinct
    names are blocked on their LAST token (the head noun in
    adjective-noun entity names), and within each block every name pair
    with Levenshtein distance <= max_dist is emitted with the number of
    records carrying each spelling — the standard blocking-key +
    pairwise-compare shape of entity resolution (Fellegi-Sunter
    blocking; same family as fuzzy_token_pairs' SymSpell variant but
    relation-level and fully JVM-side: Spark's levenshtein == DuckDB's,
    integers end to end).

    Scale: the pair space is Σ_b |b|² over DISTINCT-name blocks, not
    records — blocks are vocabulary-sized; for heavy-tailed name
    vocabularies subdivide the block key like cosine_pairs_blocked
    does (documented boundary, same remedy)."""
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("block", F.element_at(F.split("name", " "), -1))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .withColumn("edit_dist", F.levenshtein(F.col("a.name"), F.col("b.name")))
        .filter(F.col("edit_dist") <= max_dist)
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            "edit_dist",
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
    )


def wordpiece_tokenize(
    df: DataFrame, top_words: int = 20, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Greedy longest-match (WordPiece/BERT-style MaxMatch) subword
    segmentation of every DISTINCT corpus word against a deterministic
    vocabulary: the ``top_words`` most frequent tokens (freq DESC, token
    ASC — fully ordered, so the rank-``top_words`` boundary cannot fork)
    plus all 36 single characters (the OOV floor — every [a-z0-9]+ word
    always segments).  Returns (word, n_pieces, seg).

    This is the APPLY side of the tokenizer family: bpe_learn/bpe_apply
    learn merges bottom-up; MaxMatch consumes a fixed vocabulary
    top-down — the algorithm BERT's tokenizer runs at inference.  Pure
    string/int outputs, hash-exact with no float anywhere.

    Plan: the vocabulary is driver-collected (top_words + 36 strings —
    legitimately tiny state, the kmeans/centroid pattern) and enters
    the Arrow kernel by closure; segmentation runs once per DISTINCT
    word (vocabulary-sized, not corpus-sized — the fuzzy_vocab
    blocking insight), so at 100 TB the expensive stage is bounded by
    the vocabulary, and per-doc fertility is a cheap join against it."""
    import pandas as pd

    from .dedup import tokens_col

    tok = df.select(F.explode(tokens_col(text_col)).alias("w"))
    top = [
        r.w
        for r in tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(top_words)
        .collect()
    ]
    vocab = set(top) | set("abcdefghijklmnopqrstuvwxyz0123456789")
    maxlen = max(len(v) for v in vocab)

    def seg_batch(batches):
        for pdf in batches:
            words = pdf["w"].tolist()
            out_np, out_seg = [], []
            for w in words:
                pieces, i = [], 0
                while i < len(w):
                    for L in range(min(maxlen, len(w) - i), 0, -1):
                        if w[i : i + L] in vocab:
                            pieces.append(w[i : i + L])
                            i += L
                            break
                out_np.append(len(pieces))
                out_seg.append(" ".join(pieces))
            yield pd.DataFrame({"word": words, "n_pieces": out_np, "seg": out_seg})

    words = tok.distinct()
    return words.mapInPandas(seg_batch, schema="word string, n_pieces int, seg string")


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.85,
    rows_per_block: int = 500,
    max_df_num: int = 1,
    max_df_den: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: document pairs scored by
    the cosine of their tf·idf vectors through an inverted-index join
    on shared tokens — the SPARSE complement of the dense
    embedding-cosine family (no embeddings needed).

    Hot-token bound (the 100 TB posture): tokens with document
    frequency above ``max_df_num/max_df_den`` of the corpus (default
    1/2 — sklearn's ``max_df`` convention) are EXCLUDED from the vector
    space before the join.  Such tokens carry idf < ln(den/num) ≈ 0.69
    — near-zero weight — yet each contributes O((N/nb)²) join pairs:
    they dominate the inverted-index cost while barely moving the
    cosine.  The cut is an exact integer predicate (dfr*den <= N*num,
    no float boundary), and it is NOT silent: every emitted pair
    carries ``capped_a``/``capped_b`` audit columns = how many of each
    doc's distinct tokens were df-capped out of its vector.

    Exactness: tf·idf weights quantize once to 1e-6 integers; dots and
    squared norms are then exact BIGINT sums, and the cosine is one
    deterministic double expression — the threshold compares
    bit-identical values on both engines, so no pre-filter rounding is
    needed.  Pair space is bounded by the corpus-scaled hash-bucket
    block key (the cosine_pairs_blocked construction: nb = max(1,
    N/rows_per_block), linear pair growth; at gate scale nb=1 and the
    enumeration is complete).

    Plan shape: N is computed IN-PLAN (1-row aggregate, broadcast
    crossJoin — the cosine_pairs_blocked construction) and reused for
    both nb and idf; the r6 form ran a driver-side ``df.count()``
    during plan construction, re-scanning the input per call (r6
    VERDICT #3/#5)."""
    from .dedup import porthash32, tokens_col

    stats = F.broadcast(df.agg(F.count(F.lit(1)).alias("_n")))
    tok = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("tok"))
    tf = tok.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("dfr"))
    nb_col = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.col("_n") / F.lit(float(rows_per_block))),
    )
    wall = tf.join(dfreq, "tok").crossJoin(stats)
    kept = F.col("dfr") * F.lit(max_df_den) <= F.col("_n") * F.lit(max_df_num)
    wq_expr = F.round(
        F.col("tf").cast("double")
        * F.log(F.col("_n").cast("double") / F.col("dfr").cast("double"))
        * F.lit(1000000.0),
        0,
    ).cast("long")
    w = (
        wall.filter(kept)
        .withColumn("wq", wq_expr)
        .withColumn("blk", porthash32(F.col(id_col).cast("string")) % nb_col)
        .drop("_n")
    )
    # norms + the df-cap audit in ONE conditional aggregation over the
    # wall subtree (a second filtered aggregation + left join would
    # re-evaluate the tok->tf->dfreq lineage)
    nrm = wall.groupBy(id_col).agg(
        F.sum(F.when(kept, wq_expr * wq_expr)).alias("nq"),
        F.count(F.when(~kept, F.lit(1))).alias("nc"),
    )
    a, b = w.alias("a"), w.alias("b")
    p = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.wq") * F.col("b.wq")).alias("dot"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    na = nrm.select(
        F.col(id_col).alias("doc_a"), F.col("nq").alias("na"),
        F.col("nc").alias("capped_a"),
    )
    nb2 = nrm.select(
        F.col(id_col).alias("doc_b"), F.col("nq").alias("nb"),
        F.col("nc").alias("capped_b"),
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        p.join(na, "doc_a")
        .join(nb2, "doc_b")
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= threshold)
        .select(
            "doc_a", "doc_b", "n_shared",
            F.round("_cos", 6).alias("cos_sim"),
            "capped_a", "capped_b",
        )
    )


def flesch_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade with a deterministic
    syllable heuristic: syllables = count of [aeiouy]+ vowel runs in the
    lowercased text (word boundaries are non-vowels, so runs never span
    words; vowel-less tokens contribute 0 — documented convention),
    sentences = max(1, count of [.!?]+ runs).  All three inputs are
    exact integer counts from single regexp scans; the scores are fixed
    double chains over their ratios, rounded 4dp.  Map-side rules, plus
    a keyless spread() that no-ops on already-wide scans and adds one
    fan-out exchange on narrow gate scans (the r9 trap class)."""
    # spread before the three per-row regexp scans (r9 trap class: a
    # narrow single-file scan serializes the regex CPU onto 1-2 tasks;
    # measured r11 sf1 quiet: 2.74 s on the 2-partition scan)
    df = spread(df)
    words = F.size(tokens_col(text_col)).cast("long")
    syl = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    sent = F.greatest(
        F.lit(1).cast("long"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), F.lit(0))
        ).cast("long"),
    )
    wps = words.cast("double") / sent.cast("double")
    spw = syl.cast("double") / words.cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return df.select(
        id_col,
        words.alias("n_words"),
        syl.alias("n_syllables"),
        sent.alias("n_sentences"),
        F.when(words > 0, F.round(flesch, 4)).alias("flesch_ease"),
        F.when(words > 0, F.round(fk, 4)).alias("fk_grade"),
    )


def zipf_fit(df: DataFrame, group_col: str = "source", text_col: str = "text") -> DataFrame:
    """Zipf's-law fit per corpus slice: OLS slope/intercept/r2 of
    ln(frequency) on ln(rank) over the slice's token frequency table
    (rank by (cnt DESC, token) — deterministic).  Both log axes are
    quantized to 1e-4 units (the OLS pattern, ARCHITECTURE.md §4 shape 1) so every
    moment sum is an exact integer; a well-formed natural corpus slopes
    near -1."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(group_col).alias("grp"), F.explode(tokens_col(text_col)).alias("token")
    )
    freq = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.col("cnt").desc(), F.col("token").asc())
    xy = freq.select(
        "grp",
        F.round(F.log(F.row_number().over(w).cast("double")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("xq"),
        F.round(F.log(F.col("cnt").cast("double")) * F.lit(10000.0), 0)
        .cast("long")
        .alias("yq"),
    )
    m = xy.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xq").alias("sx"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("yq") * F.col("yq")).alias("syy"),
    )

    def dbl(c):
        return F.col(c).cast("double")

    num = dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")
    denx = dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")
    deny = dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")
    slope = num / F.nullif(denx, F.lit(0.0))
    return m.filter(F.col("n") >= 3).select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n_vocab"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(((dbl("sy") - slope * dbl("sx")) / dbl("n")) / F.lit(10000.0), 6)
        .alias("intercept"),
        F.round(num * num / F.nullif(denx * deny, F.lit(0.0)), 6).alias("r2"),
    )


SENTIMENT_POS = ("fast", "big", "value", "merge")
SENTIMENT_NEG = ("slow", "small", "dup", "error")


def sentiment_lexicon(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos: tuple[str, ...] = SENTIMENT_POS,
    neg: tuple[str, ...] = SENTIMENT_NEG,
) -> DataFrame:
    """Lexicon-based polarity scoring: polarity = (pos − neg)/(pos +
    neg) over exact lexicon-hit counts (the fixed lexicon is a
    documented constant over the synthetic vocabulary — swap for
    AFINN/VADER terms on a natural corpus).  The lexicon ships as array
    literals inside the expression, never a join; map-side rules, plus
    a keyless spread() that no-ops on already-wide scans and adds one
    fan-out exchange on narrow gate scans."""
    df = spread(df)  # r11: two lexicon filter scans per row
    toks = tokens_col(text_col)
    n_pos = F.size(F.filter(toks, lambda t: t.isin(*pos))).cast("long")
    n_neg = F.size(F.filter(toks, lambda t: t.isin(*neg))).cast("long")
    tot = n_pos + n_neg
    pol = F.when(
        tot > 0,
        F.round((n_pos - n_neg).cast("double") / tot.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return df.select(
        id_col,
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
        pol.alias("polarity"),
        F.when(pol > 0, F.lit("pos"))
        .when(pol < 0, F.lit("neg"))
        .otherwise(F.lit("neutral"))
        .alias("label"),
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = 8,
    d: float = 0.85,
) -> DataFrame:
    """TextRank keyword scores: PageRank over the token co-occurrence
    graph (consecutive token pairs per document, symmetrized, weighted
    by corpus-wide co-occurrence count).

    Unlike graph.pagerank's float contribution sums (safe on its
    25-node nation graph), every iteration here quantizes each
    contribution frac·score to integer 1e-12 units before the
    aggregation — the per-node inbound sum is exact in any order, so
    the iteration is engine-parity-exact at ANY graph size/fan-in.  The
    symmetrized co-occurrence graph has no dangling nodes (every node
    came from a pair), so no dangling-mass term.  Per-iteration state
    is vocabulary-sized; the corpus-sized work is the one pair
    extraction."""
    toks = df.select(
        F.col(id_col).alias("_rid"),
        F.posexplode(tokens_col(text_col)).alias("pos", "w"),
    )
    # consecutive pairs within a doc: join pos with pos+1 on the row id
    a = toks.select("_rid", F.col("pos").alias("p"), F.col("w").alias("u"))
    b = toks.select("_rid", (F.col("pos") - 1).alias("p"), F.col("w").alias("v"))
    # the symmetrizing union deliberately inlines the positional
    # self-join twice: ReusedExchange dedups the shuffle at runtime,
    # and that beats eagerly materializing the (corpus-sized) pair set
    # — measured 10.4 s vs 20.0 s at sf1.  Contrast a3e8e3f:PLANS.md §58, where
    # the pair build is NOT exchange-reusable (checkpointed RDD input)
    # and checkpoint-before-union wins instead.
    pairs = a.join(b, ["_rid", "p"]).filter(F.col("u") != F.col("v"))
    edges = (
        pairs.select("u", "v")
        .unionAll(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .localCheckpoint(eager=False)
    )
    outw = edges.groupBy("u").agg(F.sum("w").alias("ow"))
    norm = edges.join(outw, "u").select(
        F.col("u").alias("src"), F.col("v").alias("dst"),
        (F.col("w") / F.col("ow")).alias("frac"),
    ).localCheckpoint(eager=False)
    # small graphs (r14, the q_ewma_sql lesson): on a closed vocabulary
    # the co-occurrence graph is vocabulary-sized — the 8-iteration
    # DataFrame loop was pure per-level orchestration (measured: 89
    # stages / 2.0 s task time for a 4.4 s wall at sf0.1).  Within the
    # graph.py gate the whole power iteration runs in the numpy kernel;
    # the quantized integer contribution sums make kernel == loop EXACT
    # in any order.  An open-vocabulary corpus above it takes the loop
    # unchanged.
    from .graph import _graph_kernel

    pr = _graph_kernel(norm, "pagerank", damping=d, iters=iters, quantize=True)
    if pr is not None:
        return pr.select("node", F.round("score", 6).alias("score"))
    nodes = edges.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=False)
    n_nodes = nodes.count()
    pr = nodes.withColumn("score", F.lit(1.0) / F.lit(float(n_nodes)))
    for i in range(iters):
        contrib = (
            norm.join(pr, norm.src == pr.node)
            .groupBy("dst")
            .agg(
                F.sum(
                    F.round(F.col("frac") * F.col("score") * F.lit(1e12), 0).cast(
                        "long"
                    )
                ).alias("cq")
            )
        )
        pr = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit((1.0 - d)) / F.lit(float(n_nodes))
                + F.lit(d)
                * (F.coalesce(F.col("cq"), F.lit(0)).cast("double") / F.lit(1e12))
            ).alias("score"),
        )
        if i % 2 == 1:
            pr = pr.localCheckpoint(eager=False)
    return pr.select("node", F.round("score", 6).alias("score"))


def token_psi_by_source(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-distribution drift per corpus slice: the Population
    Stability Index of each ``group_col`` slice's add-1-smoothed
    unigram distribution against the REST of the corpus —
    PSI = Σ_vocab (p_slice − p_rest)·ln(p_slice / p_rest).
    The token-level twin of the numeric q_psi_drift: a slice whose
    language shifted (new crawl snapshot, new domain mix) lights up
    even when its numeric metadata doesn't.

    Scale shape: one token aggregation for per-(slice, token) counts,
    one vocab-sized aggregation for global counts, a broadcast of the
    slice totals (slices are few by construction), and an S×V grid via
    broadcast of the slice list onto the vocab table — O(slices ×
    vocab), never corpus-squared.  Per-token PSI terms quantize to 1e-9
    integer units before the vocab-order-sensitive sum (ARCHITECTURE.md §4:
    term ≤ ~10 → ≤1e10 units; 1e8-token vocab still fits int64), and
    the judged value is the exact integer sum divided once by 1e9."""
    tok = with_tokens(docs).select(
        F.col(group_col).alias("grp"), F.explode("_toks").alias("token")
    )
    cnt = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("cs"))
    gtok = tok.groupBy("token").agg(F.count(F.lit(1)).alias("ct"))
    gtot = tok.agg(
        F.count(F.lit(1)).alias("t_all"),
        F.count_distinct("token").alias("vocab"),
    )
    stot = tok.groupBy("grp").agg(F.count(F.lit(1)).alias("t_grp"))
    grid = (
        gtok.crossJoin(F.broadcast(stot))
        .join(cnt, ["grp", "token"], "left")
        .crossJoin(F.broadcast(gtot))
        .select(
            "grp",
            "t_grp",
            "t_all",
            "vocab",
            "ct",
            F.coalesce("cs", F.lit(0)).cast("long").alias("cs"),
        )
    )
    pa = (F.col("cs") + 1).cast("double") / (
        F.col("t_grp") + F.col("vocab")
    ).cast("double")
    pb = (F.col("ct") - F.col("cs") + 1).cast("double") / (
        F.col("t_all") - F.col("t_grp") + F.col("vocab")
    ).cast("double")
    term = (pa - pb) * F.log(pa / pb)
    q = F.round(term * F.lit(1e9), 0).cast("long")
    return (
        grid.withColumn("_q", q)
        .groupBy(F.col("grp").alias(group_col), "t_grp")
        .agg((F.sum("_q").cast("double") / F.lit(1e9)).alias("psi"))
        .select(F.col(group_col), F.col("t_grp").alias("n_tokens"), "psi")
    )
