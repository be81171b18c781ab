from __future__ import annotations

import random

import networkx as nx
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trading_etl_python_spark.operators import dedup as D
from trading_etl_python_spark.sources.tables import load_table


def test_dedup_exact_idempotent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    once = D.dedup_exact(docs)
    twice = D.dedup_exact(once)
    assert once.count() == twice.count()
    # no surviving duplicate texts
    assert once.groupBy("text").count().filter("count > 1").count() == 0


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same"), (1, "same"), (2, "other")], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in D.dedup_exact(df).collect())
    assert kept == [1, 2]


def test_shingles_small(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = sorted(r.shingle for r in D.shingles(df, 3).collect())
    assert got == ["a b c", "b c d"]


def test_minhash_recall_of_exact_pairs(spark, sf_dir):
    """LSH candidates must recover the high-Jaccard exact pairs (recall),
    at jaccard>=0.7 with 8 tables recall should be essentially 1."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, f"minhash recall {recall} over {len(exact)} true pairs"


def test_minhash_banded_recall_and_estimate(spark, sf_dir):
    """Deterministic (oracle-checkable) MinHash banding: recalls the
    high-Jaccard exact pairs AND its Jaccard estimate tracks the exact
    value within sampling error of 32 permutations."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    approx = {
        (r.doc_a, r.doc_b): r.approx_jaccard
        for r in D.minhash_banded_pairs(docs, threshold=0.5).collect()
    }
    if exact:
        recall = len(set(exact) & set(approx)) / len(exact)
        assert recall >= 0.8, f"banded minhash recall {recall}"
        for pair in set(exact) & set(approx):
            # 32-perm estimator std-err ~= sqrt(j(1-j)/32) <= 0.09
            assert abs(exact[pair] - approx[pair]) < 0.3


def test_minhash_identical_docs_estimate_one(spark):
    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta eps"), (2, "alpha beta gamma delta eps")],
        "doc_id long, text string",
    )
    got = D.minhash_banded_pairs(dup, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.approx_jaccard) for r in got] == [(1, 2, 1.0)]


def test_banded_verified_scores_exact_on_banded_candidates(spark, sf_dir):
    """The banded-verified twin emits EXACT Jaccard (not the 32-perm
    estimate) for every pair, and its pair set is the banded candidate
    set intersected with the exact >= threshold filter."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    verified = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_banded_verified_pairs(docs, threshold=0.5).collect()
    }
    # every verified pair carries the exact score and passes the threshold
    for pair, j in verified.items():
        assert pair in exact and exact[pair] == j and j >= 0.5
    # candidate filter only ever REMOVES exact pairs (banding miss),
    # never adds: verified ⊆ exact, and high-J pairs are recalled
    assert set(verified) <= set(exact)
    hi = {p for p, j in exact.items() if j >= 0.9}
    if hi:
        assert len(hi & set(verified)) / len(hi) >= 0.9


def test_simhash_pairs_respect_hamming_bound(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(docs, max_hamming=3).collect()
    assert all(r.hamming <= 3 for r in pairs)
    # identical texts must collide at hamming 0
    dup = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    got = D.simhash_pairs(dup, max_hamming=0).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_dedup_clusters_transitive_chain(spark):
    from trading_etl_python_spark.operators.dedup import dedup_clusters

    # explicit edge list: 1-2, 2-3 chain plus isolated 9 -> components
    # {1,2,3} (canonical 1) and {9}; A~C never appears as a direct edge.
    docs = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3), (1, 2)], "doc_a long, doc_b long")
    out = {r.doc_id: r for r in dedup_clusters(docs, pairs=pairs).collect()}
    assert {v.cluster_id for v in out.values()} == {1, 9}
    assert out[3].cluster_id == 1 and not out[3].is_canonical
    assert out[1].is_canonical and out[9].is_canonical


def test_dedup_clusters_long_chain_converges(spark):
    from trading_etl_python_spark.operators.dedup import dedup_clusters

    # 0-1-2-...-7 path: needs multiple propagation rounds (diameter 7)
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "doc_a long, doc_b long"
    )
    out = dedup_clusters(docs, pairs=pairs).collect()
    assert all(r.cluster_id == 0 for r in out)
    assert sum(r.is_canonical for r in out) == 1


def test_dedup_clusters_truncated_star_still_one_label_per_node(spark, monkeypatch):
    """max_iter exhausted before the star fixpoint: labels must collapse
    to ONE per node (ADVICE r3 — a multi-labeled node would duplicate
    doc rows through the left join), with a RuntimeWarning.  The gate is
    closed so the star loop runs; the kernel always reaches the fixpoint."""
    import warnings

    import trading_etl_python_spark.operators.graph as G
    from trading_etl_python_spark.operators.dedup import dedup_clusters

    monkeypatch.setattr(G, "_KERNEL_MAX_EDGES", -1)

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dedup_clusters(docs, pairs=pairs, max_iter=1).collect()
    assert any("max_iter" in str(w.message) for w in caught)
    # every doc exactly once — no join fan-out from multi-labeled nodes
    assert sorted(r.doc_id for r in out) == list(range(12))


def test_contamination_flags_shared_ngrams(spark):
    from pyspark.sql import functions as F

    from trading_etl_python_spark.operators.dedup import contamination

    eval_doc = "alpha beta gamma delta epsilon zeta"
    train_hit = "prefix words alpha beta gamma delta epsilon and more"
    train_clean = "entirely different words with no overlap at all here"
    df = spark.createDataFrame(
        [(1, eval_doc, "eval"), (2, train_hit, "train"), (3, train_clean, "train")],
        "doc_id long, text string, source string",
    )
    out = contamination(df, F.col("source") == "eval", n=5).collect()
    assert len(out) == 1
    r = out[0]
    # shared 5-grams: "alpha beta gamma delta epsilon" only
    assert r.doc_id == 2 and r.n_shared == 1 and r.n_eval_docs == 1


def test_corpus_full_holds_out_eval_source(spark, sf_dir):
    from trading_etl_python_spark.operators.curation import curate_corpus_full
    from trading_etl_python_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = curate_corpus_full(docs).collect()
    assert out, "pipeline produced no strata"
    assert {r.split for r in out} <= {"train", "val", "test"}
    assert all(r.n_docs > 0 and r.sum_tokens > 0 for r in out)
    # determinism: same input -> identical stats
    again = curate_corpus_full(docs).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_curate_reliable_checkpoint_matches_local(spark, sf_dir, tmp_path):
    """r10 VERDICT #6: checkpoint="reliable" (reliable .checkpoint() to
    the configured fault-tolerant dir — blocks survive executor loss)
    must be value-identical to the default localCheckpoint barrier, and
    must refuse to run when no checkpoint dir is configured (a silent
    fallback would fake the durability the caller asked for)."""
    import pytest

    from trading_etl_python_spark.operators.curation import (
        curate_corpus,
        curate_corpus_full,
    )
    from trading_etl_python_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            curate_corpus(docs, checkpoint="reliable").collect()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    local = sorted(map(tuple, curate_corpus(docs).collect()))
    reliable = sorted(
        map(tuple, curate_corpus(docs, checkpoint="reliable").collect())
    )
    assert local == reliable and local
    full_local = sorted(map(tuple, curate_corpus_full(docs).collect()))
    full_reliable = sorted(
        map(tuple, curate_corpus_full(docs, checkpoint="reliable").collect())
    )
    assert full_local == full_reliable and full_local


def test_minhash_incremental_index_roundtrip(spark, sf_dir, tmp_path):
    """Incremental dedup against a write-time index == the in-plan
    corpus side, and the probe never reshingles the corpus (the index
    scan IS the corpus side)."""
    from pyspark.sql import functions as F

    from trading_etl_python_spark.operators import dedup as D
    from trading_etl_python_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)

    in_plan = sorted(
        map(tuple, D.minhash_incremental_pairs(new, D.banded_signatures(corpus)).collect())
    )
    path = str(tmp_path / "mh_index")
    D.write_minhash_index(corpus, path)
    idx = spark.read.parquet(path)
    from_index = sorted(
        map(tuple, D.minhash_incremental_pairs(new, idx).collect())
    )
    assert in_plan == from_index
    assert len(in_plan) > 0 or docs.count() < 50  # planted dups exist at test SF
    # index layout: band partitions on disk (hive dirs), sig preserved
    import os

    assert any(d.startswith("band=") for d in os.listdir(path))
    assert dict(idx.dtypes)["sig"] == "array<bigint>"


def test_span_dedup_rewrites_first_occurrence_wins(spark):
    a = " ".join(f"w{i}" for i in range(16))          # spans A0, A1
    b = " ".join(f"w{i}" for i in range(8)) + " " + " ".join(
        f"u{i}" for i in range(8)
    )                                                  # span A0 again + unique
    rows = [(0, a), (1, b), (2, a)]                    # doc 2 = pure repeat
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    stats = {
        r["doc_id"]: r for r in D.span_dedup_stats(df, k=8).collect()
    }
    assert stats[0]["n_dup_spans"] == 0
    assert stats[1]["n_dup_spans"] == 1 and stats[1]["n_spans"] == 2
    assert stats[2]["n_dup_spans"] == 2 and stats[2]["retained"] == 0.0

    clean = {r["doc_id"]: r["text"] for r in D.span_dedup(df, k=8).collect()}
    assert clean[0] == a
    assert clean[1] == " ".join(f"u{i}" for i in range(8))
    assert clean[2] == ""


def test_span_dedup_partial_tail_span_counted(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, "x y z a b c")], ["doc_id", "text"])
    # k=3: doc 1 = ["x y z", "a b c"]; doc 0's single span is the earlier
    # (doc_id 0) occurrence, so doc 1 loses its tail span
    stats = {r["doc_id"]: r for r in D.span_dedup_stats(df, k=3).collect()}
    assert stats[0]["n_dup_spans"] == 0 and stats[0]["n_spans"] == 1
    assert stats[1]["n_dup_spans"] == 1 and stats[1]["n_spans"] == 2


def test_containment_catches_subset_jaccard_misses(spark):
    long = " ".join(f"w{i}" for i in range(60))
    subset = " ".join(f"w{i}" for i in range(10))   # contained in long
    other = " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, long), (1, subset), (2, other)], ["doc_id", "text"]
    )
    cont = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in D.ngram_containment_pairs(df, threshold=0.8).collect()}
    assert cont.get((0, 1)) == 1.0                 # subset: full containment
    jac = D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not any(r["doc_a"] == 0 and r["doc_b"] == 1 for r in jac)  # jaccard misses it


def test_containment_capped_removes_boilerplate_and_audits(spark):
    # boilerplate shingle block shared by ALL docs (df = 4/4 > 1/2 cap)
    boiler = "copyright acme corp all rights reserved"
    long = boiler + " " + " ".join(f"w{i}" for i in range(60))
    subset = boiler + " " + " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(0, long), (1, subset),
         (2, boiler + " " + " ".join(f"x{i}" for i in range(10))),
         (3, boiler + " " + " ".join(f"y{i}" for i in range(10)))],
        ["doc_id", "text"],
    )
    out = {(r["doc_a"], r["doc_b"]): r
           for r in D.ngram_containment_capped_pairs(df, threshold=0.8).collect()}
    # subset containment survives the cap; boilerplate-only overlaps
    # (0,2)/(0,3)/(2,3) must NOT pair — their shared shingles are capped
    assert set(out) == {(0, 1)}
    r = out[(0, 1)]
    assert r["containment"] == 1.0  # over the KEPT space
    assert r["n_blocks"] == 1      # 4 docs < rows_per_block: complete
    # audit columns: the boilerplate run contributes capped shingles on
    # both sides (interior shingles bridging boiler->unique text differ
    # per doc, so only the pure-boilerplate shingles have df 4)
    assert r["capped_a"] >= 4 and r["capped_b"] >= 4
    # unbounded twin DOES pair the boilerplate-only docs at this
    # threshold? no — their containment is diluted by unique shingles;
    # instead pin that the capped form matches the unbounded one on the
    # true subset pair's verdict
    unb = {(r2["doc_a"], r2["doc_b"])
           for r2 in D.ngram_containment_pairs(df, threshold=0.8).collect()}
    assert (0, 1) in unb


def test_containment_capped_blocks_complete_at_small_n(spark):
    # n < rows_per_block -> nb = 1 -> identical pair SET to the
    # unbounded form when no shingle crosses the df cap
    docs = [(i, " ".join(f"d{i}w{j}" for j in range(12))) for i in range(6)]
    docs.append((6, docs[0][1]))  # exact twin of doc 0
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = {(r["doc_a"], r["doc_b"])
              for r in D.ngram_containment_capped_pairs(df, threshold=0.8).collect()}
    unb = {(r["doc_a"], r["doc_b"])
           for r in D.ngram_containment_pairs(df, threshold=0.8).collect()}
    assert capped == unb == {(0, 6)}


def test_dup_weights_sum_to_cluster_units(spark):
    a = " ".join(f"a{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, a), (1, a), (2, a), (3, "solo " + " ".join(f"z{i}" for i in range(10)))],
        ["doc_id", "text"],
    )
    w = D.dup_aware_weights(df)
    rows = {r["doc_id"]: r for r in w.collect()}
    assert len(rows) == 4
    assert abs(sum(r["weight"] for r in rows.values()) - 2.0) < 1e-4  # 2 clusters (weights 6dp-rounded)
    assert rows[3]["weight"] == 1.0
    assert rows[0]["weight"] == rows[1]["weight"] == rows[2]["weight"]


def test_prefix_jaccard_complete_vs_brute_force(spark):
    """Prefix filtering must be LOSSLESS: pairs from the pruned plan ==
    the brute-force all-shared-token join, including boundary-exact
    Jaccard values."""
    from itertools import combinations

    from trading_etl_python_spark.operators.dedup import prefix_jaccard_pairs

    docs = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon eta"),     # J=5/7 with 0
        (2, "alpha beta gamma delta theta iota"),
        (3, "completely different words here now ok"),
        (4, "alpha beta gamma delta epsilon zeta"),    # exact dup of 0
        (5, "mu nu xi omicron pi rho"),
        (6, "mu nu xi omicron pi sigma"),
        (7, "half match alpha beta one two three four"),  # boundary-ish
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(df, threshold=0.5).collect()
    }
    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    for i, j in combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        if inter:
            jac = inter / len(sets[i] | sets[j])
            if jac >= 0.5:
                want[(i, j)] = round(jac, 6)
    assert got == want and (0, 4) in got and got[(0, 4)] == 1.0


def test_minhash_eval_counts_reconcile(spark, sf_dir):
    """tp + fp = n_approx, tp + fn = n_exact, and P/R in [0,1]."""
    from trading_etl_python_spark.operators.dedup import minhash_pair_eval
    from trading_etl_python_spark.sources.tables import load_table

    r = minhash_pair_eval(load_table(spark, sf_dir, "documents")).collect()[0]
    assert r.tp + r.fp == r.n_approx
    assert r.tp + r.fn == r.n_exact
    assert 0.0 <= r.precision <= 1.0 and 0.0 <= r.recall <= 1.0


def test_prefix_capped_matches_unbounded_when_no_caps(spark):
    # every token df <= N/2 and N < rows_per_block -> no cap engages,
    # nb = 1 -> identical pair set AND jaccard values to the unbounded
    # AllPairs form, with zeroed audit columns
    docs = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e f g h i k"),   # J = 9/11 vs doc 0
        (2, "p q r s t u v w x y"),
        (3, "m n o mm nn oo pp qq rr ss"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = {(r["doc_a"], r["doc_b"]): r
              for r in D.prefix_jaccard_capped_pairs(df, threshold=0.5).collect()}
    unb = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.prefix_jaccard_pairs(df, threshold=0.5).collect()}
    assert set(capped) == set(unb) == {(0, 1)}
    r = capped[(0, 1)]
    assert r["jaccard"] == unb[(0, 1)]
    assert r["capped_a"] == 0 and r["capped_b"] == 0 and r["n_blocks"] == 1


def test_prefix_capped_removes_boilerplate_and_audits(spark):
    # "the" appears in ALL docs (df 4/4 > 1/2) -> leaves the similarity
    # space; jaccard is over the KEPT tokens (9 shared of 11 kept-union)
    docs = [
        (0, "the a b c d e f g h i j"),
        (1, "the a b c d e f g h i k"),
        (2, "the p q r s t u v w x y"),
        (3, "the z1 z2 z3 z4 z5 z6 z7 z8 z9 z0"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {(r["doc_a"], r["doc_b"]): r
           for r in D.prefix_jaccard_capped_pairs(df, threshold=0.5).collect()}
    assert set(out) == {(0, 1)}
    r = out[(0, 1)]
    assert r["capped_a"] == 1 and r["capped_b"] == 1
    assert r["jaccard"] == round(9 / 11, 6)  # NOT 10/12 (capped space)


def test_minhash_eval_sample_equals_filtered_subcorpus(spark, sf_dir):
    # target_docs=100 on the 500-doc fixture -> den=5; the sampled
    # harness must equal the unsampled harness run on the manually
    # pre-filtered sub-corpus (sampling commutes with both pair builds)
    from trading_etl_python_spark.operators.dedup import (
        minhash_pair_eval,
        porthash32,
    )

    docs = load_table(spark, sf_dir, "documents")
    sampled = minhash_pair_eval(docs, threshold=0.5, target_docs=100).collect()[0]
    assert sampled.sample_den == 5 and sampled.sample_frac == 0.2
    manual_docs = docs.filter(porthash32(F.col("doc_id").cast("string")) % 5 == 0)
    manual = minhash_pair_eval(
        manual_docs, threshold=0.5, target_docs=10**9
    ).collect()[0]
    assert manual.sample_den == 1 and manual.sample_frac == 1.0
    for c in ("n_exact", "n_approx", "tp", "fp", "fn", "precision", "recall"):
        assert sampled[c] == manual[c], c


def test_curate_corpus_banded_default_keeps_superset_of_exact(spark):
    # banded candidates are a SUBSET of the exact pair graph (AND-banded
    # LSH can only miss, never invent, a >=t pair after the exact-verify
    # tail), so the default pipeline drops a subset of the exact form's
    # losers -> keeps a superset of docs; both retain the exact-dup and
    # quality policies
    from trading_etl_python_spark.operators.curation import curate_corpus
    from trading_etl_python_spark.operators.dedup import ngram_jaccard_pairs

    base = ("the cat sat of a mat and to in is " * 12).strip()
    rows = [
        (1, base, "en", "web"),
        (2, base, "en", "web"),
        (3, base + " extra", "en", "web"),
        (4, "zzz qqq", "en", "web"),
        (5, "a completely different story about ships and the open sea "
            "told in many plain short words over and over " * 3, "en", "book"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    kept_banded = {r.doc_id for r in curate_corpus(docs).collect()}
    kept_exact = {
        r.doc_id
        for r in curate_corpus(
            docs, pairs_fn=lambda d: ngram_jaccard_pairs(d, 3, 0.8)
        ).collect()
    }
    assert kept_exact <= kept_banded
    assert 2 not in kept_banded and 4 not in kept_banded  # exact dup, low quality
    assert {1, 5} <= kept_banded


def test_prefix_prefilters_lossless_at_float_boundary(spark):
    # threshold=0.07 with |A|=100, |B|=7, overlap 7 -> J = 7/100 = 0.07
    # exactly at threshold; 0.07*100 evaluates to 7.000000000000001 in
    # float, which (pre-slack) tightened the ratio filter and the prefix
    # length and silently dropped the pair.  The slackened prefilters
    # (_PREFILTER_SLACK) must keep it; the exact verify decides.
    a_toks = " ".join(f"w{i}" for i in range(100))
    b_toks = " ".join(f"w{i}" for i in range(7))
    df = spark.createDataFrame(
        [(0, a_toks), (1, b_toks)], ["doc_id", "text"]
    )
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.prefix_jaccard_pairs(df, threshold=0.07).collect()}
    assert out == {(0, 1): 0.07}
    # capped twin: pad the corpus with disjoint-vocab decoys so the
    # shared tokens sit at df 2/4 = exactly the 1/2 cap (kept) — on the
    # bare 2-doc corpus every shared token is in 100% of docs and the
    # df-cap correctly empties the similarity space
    df4 = spark.createDataFrame(
        [(0, a_toks), (1, b_toks),
         (2, " ".join(f"x{i}" for i in range(10))),
         (3, " ".join(f"y{i}" for i in range(10)))],
        ["doc_id", "text"],
    )
    capped = {(r["doc_a"], r["doc_b"]): r["jaccard"]
              for r in D.prefix_jaccard_capped_pairs(df4, threshold=0.07).collect()}
    assert capped == {(0, 1): 0.07}
    # the length-ratio prefilter in the exact n-gram join has the same
    # boundary class: shingle sets of sizes 100 and 7 sharing 7
    long = " ".join(f"s{i}" for i in range(102))      # 100 3-gram shingles
    sub = " ".join(f"s{i}" for i in range(9))         # its first 7 shingles
    df2 = spark.createDataFrame([(0, long), (1, sub)], ["doc_id", "text"])
    ngram = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(df2, n=3, threshold=0.07).collect()}
    assert ngram == {(0, 1): 0.07}


def test_cc_fold_matches_star_loop_exactly(spark, monkeypatch):
    """The small-graph CC kernel must reproduce the star loop's labels
    row-for-row (closing the gate routes to the loop)."""
    import trading_etl_python_spark.operators.graph as G
    from trading_etl_python_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    # chain 0..9, triangle 20/21/22, star 30<-{31,32,33}, isolated rest
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)]
        + [(20, 21), (21, 22), (20, 22), (31, 30), (32, 30), (33, 30)],
        "doc_a long, doc_b long",
    )
    fold = sorted(map(tuple, dedup_clusters(docs, pairs=pairs).collect()))
    monkeypatch.setattr(G, "_KERNEL_MAX_EDGES", -1)
    star = sorted(map(tuple, dedup_clusters(docs, pairs=pairs).collect()))
    assert fold == star
    # chain collapses to min label 0, triangle to 20, star to 30
    lab = {d: c for d, c, _ in fold}
    assert all(lab[i] == 0 for i in range(10))
    assert lab[20] == lab[21] == lab[22] == 20
    assert lab[30] == lab[31] == lab[32] == lab[33] == 30
    assert lab[39] == 39


def test_cc_fold_random_id_path(spark):
    """One 64-node path with shuffled ids, a shape on which min-label
    propagation with one pointer jump per round needs far more than
    log2(E) rounds: every node lands in the cluster of the smallest id."""
    ids = list(range(64))
    random.Random(3).shuffle(ids)
    pairs = spark.createDataFrame(list(zip(ids, ids[1:])), "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.cluster_id for r in D.dedup_clusters(docs, pairs=pairs).collect()}
    assert got == {i: 0 for i in ids}


@st.composite
def cc_graphs(draw, max_nodes: int = 256):
    """A random-id chain, a star or a random graph (self-loops and
    repeated edges included) over up to ``max_nodes`` distinct ids."""
    ids = draw(st.lists(st.integers(0, 10**9), min_size=2, max_size=max_nodes, unique=True))
    shape = draw(st.sampled_from(["chain", "star", "random"]))
    if shape == "chain":
        return list(zip(ids, ids[1:]))
    if shape == "star":
        return [(ids[0], x) for x in ids[1:]]
    ix = st.integers(0, len(ids) - 1)
    return [(ids[a], ids[b]) for a, b in draw(st.lists(st.tuples(ix, ix), max_size=2 * len(ids)))]


def _nx_min_labels(edges) -> dict[int, int]:
    """Oracle: component-min label of every node on a non-loop edge."""
    g = nx.Graph((a, b) for a, b in edges if a != b)
    return {v: min(c) for c in nx.connected_components(g) for v in c}


@given(cc_graphs())
@settings(max_examples=300, deadline=None)
def test_cc_kernel_matches_networkx(edges):
    """The CC kernel body (node indexing + union-find), without Spark, on
    the canonical edge set ``_cc_star_labels`` hands it."""
    from trading_etl_python_spark.operators.graph import _kernel_frame

    canon = sorted({(max(a, b), min(a, b)) for a, b in edges if a != b})
    u, w = (pa.array([e[i] for e in canon], pa.int64()) for i in (0, 1))
    out = _kernel_frame(pa.table({"u": u, "w": w}), "cc", {})
    assert dict(zip(out["node"].to_pylist(), out["label"].to_pylist())) == _nx_min_labels(edges)


_rnd = random.Random(7)
# fixed shapes that stress each path: a long chain (diameter 40), a star,
# a triangle with a tail, disjoint pairs, and a random graph
_ADVERSARIAL = [
    [(i, i + 1) for i in range(40)],
    [(0, i) for i in range(1, 20)],
    [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)],
    [(10, 11), (20, 21), (30, 31)],
    [(_rnd.randrange(60), _rnd.randrange(60)) for _ in range(80)],
]


@given(st.lists(cc_graphs(max_nodes=64), min_size=3, max_size=3))
@example(graphs=_ADVERSARIAL[:3])
@example(graphs=_ADVERSARIAL[3:] + [[]])
@settings(max_examples=3, deadline=None)
def test_cc_both_paths_match_networkx(spark, graphs):
    """dedup_clusters on both sides of the CC gate — the kernel, then the
    star loop with the gate closed — against networkx.  Three graphs per
    example share one edge set on disjoint id ranges; ten extra docs stay
    isolated singletons."""
    import trading_etl_python_spark.operators.graph as G

    edges = [(a + k * 10**10, b + k * 10**10) for k, g in enumerate(graphs) for a, b in g]
    want = _nx_min_labels(edges)
    ids = sorted({x for e in edges for x in e} | {-i for i in range(1, 11)})
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")

    def labels():
        return {r.doc_id: r.cluster_id
                for r in D.dedup_clusters(docs, pairs=pairs).collect()}

    assert labels() == {i: want.get(i, i) for i in ids}
    # a function-scoped monkeypatch fixture cannot wrap a @given test
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(G, "_KERNEL_MAX_EDGES", -1)
        assert labels() == {i: want.get(i, i) for i in ids}
