"""Hand-computed exactness pins for the late-r05 evaluation/overlap
operators: model_auc, score_calibration, source_vocab_jaccard,
containment_pairs, ngram_novelty, graph.hits.

Each test builds a frame small enough to verify by hand (or by an
independent brute-force recomputation in plain Python) and asserts the
operator's exact integer outputs — the same exactness class the DuckDB
parity harness checks at sf0.01, but against ground truth instead of a
second engine.
"""

from __future__ import annotations


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


# ---------------------------------------------------------------- AUC


def _brute_auc_ppm(scores, labels):
    """Tie-aware Mann-Whitney AUC by explicit pair enumeration."""
    pos = [s for s, y in zip(scores, labels) if y]
    neg = [s for s, y in zip(scores, labels) if not y]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p in pos
        for n in neg
    )
    return int(wins * 2 * 1_000_000 // (2 * len(pos) * len(neg)))


def test_model_auc_matches_pair_enumeration(spark):
    from two_tier_document_parser_spark.evalmetrics import (
        logit_milli,
        model_auc,
    )
    from two_tier_document_parser_spark.textstats import demo_weights

    rows = [
        (i, t, lang, "s0")
        for i, (t, lang) in enumerate(
            [
                ("alpha beta", "en"),
                ("alpha beta", "de"),  # exact tie with a positive
                ("gamma delta epsilon", "en"),
                ("zeta", "fr"),
                ("eta theta iota kappa", "en"),
                ("lambda mu", "zh"),
                ("nu xi omicron", "de"),
                ("pi rho sigma tau", "en"),
            ]
        )
    ]
    d = _docs(spark, rows)
    w = demo_weights(spark)
    got = model_auc(d, w, partitions=3).collect()[0]

    lm = {
        r["doc_id"]: r["lm"] for r in logit_milli(d, w).collect()
    }
    labels = {i: lang == "en" for i, _, lang, _ in rows}
    expect = _brute_auc_ppm(
        [lm[i] for i in sorted(lm)], [labels[i] for i in sorted(lm)]
    )
    assert got["pos_n"] == 4 and got["neg_n"] == 4
    assert got["auc_ppm"] == expect


def test_model_auc_degenerate_single_class_is_null(spark):
    from two_tier_document_parser_spark.evalmetrics import model_auc
    from two_tier_document_parser_spark.textstats import demo_weights

    d = _docs(spark, [(1, "alpha", "en", "s0"), (2, "beta", "en", "s0")])
    row = model_auc(d, demo_weights(spark)).collect()[0]
    assert row["neg_n"] == 0 and row["auc_ppm"] is None


# -------------------------------------------------------- calibration


def test_score_calibration_buckets_and_means(spark):
    from two_tier_document_parser_spark.evalmetrics import (
        logit_milli,
        score_calibration,
    )
    from two_tier_document_parser_spark.textstats import demo_weights

    rows = [
        (1, "alpha beta gamma", "en", "s0"),
        (2, "alpha beta gamma", "de", "s0"),  # same bucket as 1
        (3, "delta", "en", "s0"),
        (4, "epsilon zeta eta theta iota", "fr", "s0"),
    ]
    d = _docs(spark, rows)
    w = demo_weights(spark)
    got = {
        r["bucket"]: r for r in score_calibration(d, w).collect()
    }
    lm = {r["doc_id"]: r["lm"] for r in logit_milli(d, w).collect()}

    def bucket(v, width=500):
        return v // width if v >= 0 else -((-v + width - 1) // width)

    import collections

    expect = collections.defaultdict(list)
    labels = {1: 1, 2: 0, 3: 1, 4: 0}
    for i, v in lm.items():
        expect[bucket(v)].append((v, labels[i]))
    assert set(got) == set(expect)
    for b, members in expect.items():
        n = len(members)
        pos = sum(y for _, y in members)
        slm = sum(v for v, _ in members)
        r = got[b]
        assert r["n"] == n and r["pos_n"] == pos
        assert r["pos_ppm"] == pos * 1_000_000 // n
        trunc = slm // n if slm >= 0 else -((-slm) // n)
        assert r["mean_lm_milli"] == trunc


# ------------------------------------------------- source vocab jaccard


def test_source_vocab_jaccard_hand_case(spark):
    from two_tier_document_parser_spark.textstats import (
        source_vocab_jaccard,
    )

    d = _docs(
        spark,
        [
            (1, "a b c", "en", "sA"),
            (2, "b c d", "en", "sA"),  # sA vocab: a b c d
            (3, "c d e", "en", "sB"),  # sB vocab: c d e
            (4, "x y", "en", "sC"),  # sC vocab: x y (disjoint)
        ],
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in source_vocab_jaccard(d).collect()
    }
    # sA ∩ sB = {c, d} (2), union = {a b c d e} (5)
    r = got[("sA", "sB")]
    assert (r["inter_n"], r["union_n"], r["jaccard_x1000"]) == (2, 5, 400)
    # disjoint pairs drop out of the inner join entirely
    assert ("sA", "sC") not in got and ("sB", "sC") not in got


# ------------------------------------------------------ containment


def test_containment_pairs_hand_case(spark):
    from two_tier_document_parser_spark.dedup import containment_pairs

    d = _docs(
        spark,
        [
            (1, "a b c d", "en", "s0"),  # superset-ish
            (2, "a b", "en", "s0"),  # contained in 1
        ],
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    r = containment_pairs(d, pairs).collect()[0]
    assert (r["inter_n"], r["na"], r["nb"]) == (2, 4, 2)
    assert r["cont_ab_x1000"] == 500  # 2/4 of doc 1 inside doc 2
    assert r["cont_ba_x1000"] == 1000  # doc 2 fully inside doc 1


def test_containment_no_overlap_coalesces_to_zero(spark):
    from two_tier_document_parser_spark.dedup import containment_pairs

    d = _docs(
        spark,
        [(1, "a b", "en", "s0"), (2, "x y z", "en", "s0")],
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    r = containment_pairs(d, pairs).collect()[0]
    assert (r["inter_n"], r["cont_ab_x1000"], r["cont_ba_x1000"]) == (
        0,
        0,
        0,
    )


# --------------------------------------------------------- novelty


def test_ngram_novelty_first_occurrence_attribution(spark):
    from two_tier_document_parser_spark.dedup import ngram_novelty

    d = _docs(
        spark,
        [
            (1, "a b c d", "en", "s0"),  # shingles: "a b c", "b c d"
            (2, "a b c x", "en", "s0"),  # "a b c" (old), "b c x" (new)
            (3, "a b c d", "en", "s0"),  # both shingles old
            (4, "a b", "en", "s0"),  # < k tokens -> no row
        ],
    )
    got = {r["doc_id"]: r for r in ngram_novelty(d).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1]["n_shingles"], got[1]["novel_n"]) == (2, 2)
    assert (got[2]["n_shingles"], got[2]["novel_n"]) == (2, 1)
    assert got[2]["novel_ppm"] == 500_000
    assert (got[3]["n_shingles"], got[3]["novel_n"]) == (2, 0)


def test_ngram_novelty_within_doc_repeats_count_once(spark):
    from two_tier_document_parser_spark.dedup import ngram_novelty

    d = _docs(spark, [(1, "a b c a b c a b c", "en", "s0")])
    r = ngram_novelty(d).collect()[0]
    # distinct shingles of the repetition: a b c / b c a / c a b
    assert r["n_shingles"] == 3 and r["novel_ppm"] == 1_000_000


# ------------------------------------------------------------- HITS


def test_hits_hand_graph(spark):
    from two_tier_document_parser_spark.graph import hits

    # 1 -> 3, 2 -> 3, 3 -> 4 : vertex 3 is the authority of the
    # left pair and the hub feeding 4.
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    got = {r["doc_id"]: (r["hub"], r["auth"]) for r in hits(edges, iters=1).collect()}
    # h0 = 1 everywhere; a1 = indegree: a1(3)=2, a1(4)=1
    # h1(src) = sum a1(dst): h1(1)=2, h1(2)=2, h1(3)=1
    assert got == {
        1: (2, 0),
        2: (2, 0),
        3: (1, 2),
        4: (0, 1),
    }


def test_hits_two_iterations_and_dup_edges(spark):
    from two_tier_document_parser_spark.graph import hits

    # duplicate edge and a self-loop must be ignored
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 2), (2, 3)], "a long, b long"
    )
    got = {
        r["doc_id"]: (r["hub"], r["auth"])
        for r in hits(edges, iters=2).collect()
    }
    # e = {1->2, 2->3}; a1(2)=1, a1(3)=1; h1(1)=1, h1(2)=1
    # a2(2)=h1(1)=1, a2(3)=h1(2)=1; h2(1)=a2(2)=1, h2(2)=a2(3)=1
    assert got == {1: (1, 0), 2: (1, 1), 3: (0, 1)}


# ------------------------------------------------- length-bias corr


def test_scorer_length_corr_matches_numpy(spark):
    from two_tier_document_parser_spark.evalmetrics import (
        logit_milli,
        scorer_length_corr,
    )
    from two_tier_document_parser_spark.textstats import demo_weights

    rows = [
        (1, "alpha beta gamma", "en", "s0"),
        (2, "delta", "en", "s0"),
        (3, "epsilon zeta eta theta", "de", "s0"),
        (4, "iota kappa", "fr", "s0"),
        (5, "lambda mu nu xi omicron pi", "en", "s0"),
    ]
    d = _docs(spark, rows)
    w = demo_weights(spark)
    got = scorer_length_corr(d, w).collect()[0]

    import numpy as np

    lm = {r["doc_id"]: r["lm"] for r in logit_milli(d, w).collect()}
    n_tok = {i: len(t.split()) for i, t, _, _ in rows}
    x = np.array([lm[i] for i in sorted(lm)], dtype=np.float64)
    y = np.array([n_tok[i] for i in sorted(lm)], dtype=np.float64)
    expect = np.corrcoef(x, y)[0, 1]
    assert got["n_docs"] == 5
    assert abs(got["r"] - expect) < 1e-12


def test_scorer_length_corr_constant_side_is_nan(spark):
    from two_tier_document_parser_spark.evalmetrics import (
        scorer_length_corr,
    )
    from two_tier_document_parser_spark.textstats import demo_weights

    # identical docs -> zero variance on both marginals -> NULL (the
    # documented "undefined" reading; the CASE guard keeps Spark's
    # ANSI mode from aborting on the 0/0), never an error
    d = _docs(
        spark,
        [(1, "alpha beta", "en", "s0"), (2, "alpha beta", "en", "s0")],
    )
    r = scorer_length_corr(d, demo_weights(spark)).collect()[0]["r"]
    assert r is None


# --------------------------------------------- minhash estimate audit


def test_minhash_estimate_identical_docs_score_1000(spark):
    from two_tier_document_parser_spark.dedup import (
        minhash_estimate_pairs,
    )

    d = _docs(
        spark,
        [
            (1, "a b c d e f", "en", "s0"),
            (2, "a b c d e f", "en", "s0"),
        ],
    )
    r = minhash_estimate_pairs(d).collect()[0]
    # identical shingle sets -> every band min matches and J = 1
    assert (r["a"], r["b"]) == (1, 2)
    assert r["bands_equal"] == 4 and r["est_x1000"] == 1000
    assert r["jaccard_x1000"] == 1000 and r["err_x1000"] == 0


def test_minhash_estimate_vs_recomputed_signature(spark):
    from two_tier_document_parser_spark.dedup import (
        minhash_bands,
        minhash_estimate_pairs,
    )

    d = _docs(
        spark,
        [
            (1, "a b c d e f g h", "en", "s0"),
            (2, "a b c d e f x y", "en", "s0"),
            (3, "p q r s t u", "en", "s0"),
        ],
    )
    got = {(r["a"], r["b"]): r for r in minhash_estimate_pairs(d).collect()}
    sig = {}
    for r in minhash_bands(d).collect():
        sig.setdefault(r["key"], {})[r["band"]] = r["min_hash"]
    for (a, b), row in got.items():
        eq = sum(1 for band in sig[a] if sig[a][band] == sig[b].get(band))
        assert row["bands_equal"] == eq
        assert row["est_x1000"] == eq * 1000 // 4
        assert row["err_x1000"] == row["est_x1000"] - row["jaccard_x1000"]


# ------------------------------------------------- cross-source dups


def test_cross_source_dups_sorted_pair_keys(spark):
    from two_tier_document_parser_spark.dedup import cross_source_dups

    d = _docs(
        spark,
        [
            (1, "x", "en", "wiki"),
            (2, "x", "en", "crawl"),
            (3, "x", "en", "crawl"),
            (4, "x", "en", "books"),
        ],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (2, 1)], "a long, b long"
    )
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in cross_source_dups(d, pairs).collect()
    }
    # (1,2) and (2,1) both land on the sorted (crawl, wiki) key
    assert got == {
        ("crawl", "wiki"): 2,
        ("crawl", "crawl"): 1,
        ("books", "wiki"): 1,
    }
