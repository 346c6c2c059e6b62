"""Exactness tests for ranking.bm25_topk, textstats.pmi_bigrams, and
graph.pagerank / graph.triangle_count on hand-computed corpora and
graphs (the oracle-equivalence side is covered by parity_harness)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F  # noqa: F401


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- bm25


def test_bm25_hand_computed(spark):
    """3-doc corpus, query {apple, pear}; every integer step verified
    by hand in the assertions' derivation (see values inline)."""
    from two_tier_document_parser_spark.ranking import bm25_topk

    d = _docs(
        spark,
        [
            (1, "apple apple pear"),
            (2, "apple banana banana banana"),
            (3, "kiwi kiwi kiwi kiwi"),
        ],
    )
    got = {
        r.doc_id: (r.n_terms_hit, r.score_x1000)
        for r in bm25_topk(d, ("apple", "pear"), k=10).collect()
    }
    # N=3, sum_dl=11; idf_m(apple)=3000//5=600, idf_m(pear)=5000//3=1666
    # d1: sat(apple,tf=2,dl=3)=484000//334=1449 -> 600*1449//1000=869
    #     sat(pear,tf=1,dl=3)=242000//224=1080 -> 1666*1080//1000=1799
    # d2: sat(apple,tf=1,dl=4)=242000//251=964 -> 600*964//1000=578
    assert got == {1: (2, 2668), 2: (1, 578)}


def test_bm25_k_limit_and_tie_break(spark):
    from two_tier_document_parser_spark.ranking import bm25_topk

    d = _docs(spark, [(i, "apple") for i in range(10)])
    out = bm25_topk(d, ("apple",), k=3).collect()
    # all scores equal -> doc_id ascending breaks the tie
    assert [r.doc_id for r in out] == [0, 1, 2]


# ----------------------------------------------------------------- pmi


def test_pmi_matches_float_floor_log2(spark):
    """pmi2 must equal floor(log2(c_xy*U^2 / (T*c_x*c_y))) computed
    in floats, on a corpus with positive, zero, and negative PMI."""
    from two_tier_document_parser_spark.textstats import pmi_bigrams

    d = _docs(spark, [(1, "a b a b"), (2, "c c c c c"), (3, "c a")])
    rows = pmi_bigrams(d, min_count=1).collect()
    assert rows, "expected bigrams"
    U, T = 11, 8
    for r in rows:
        exact = math.floor(
            math.log2((r.c_xy * U * U) / (T * r.c_w1 * r.c_w2))
        )
        assert r.pmi2 == exact, (r.w1, r.w2, r.pmi2, exact)
    got = {(r.w1, r.w2): r.pmi2 for r in rows}
    # hand checks: (a,b) num=2*121 den=8*3*2=48 -> 242//48=5 -> 2
    assert got[("a", "b")] == 2
    # (c,c) num=4*121=484 den=8*36=288 -> 484//288=1 -> 0
    assert got[("c", "c")] == 0
    # (c,a) num=121 den=8*6*3=144 -> negative branch: -(bitlen(2-1))=-1
    assert got[("c", "a")] == -1


def test_pmi_min_count_filters(spark):
    from two_tier_document_parser_spark.textstats import pmi_bigrams

    d = _docs(spark, [(1, "a b a b a b")])
    assert pmi_bigrams(d, min_count=3).count() == 1  # only (a,b) x3


def test_pmi_survives_int64_overflow_corpus(spark):
    """ADVICE r04: num = c_xy * U^2 passed 2^63 once U ~ 3e6 and a
    bigram dominated the corpus, aborting under ANSI. A degenerate
    2.4M-token single-word corpus (num ~ 1.4e19 > 2^63-1 ~ 9.2e18)
    must now compute exactly through the DECIMAL(38,0) path."""
    from two_tier_document_parser_spark.textstats import pmi_bigrams

    n_docs, toks_per_doc = 2400, 1000
    word = "a " * toks_per_doc
    d = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.lit(word.strip()).alias("text")
    )
    rows = pmi_bigrams(d, min_count=5).collect()
    U = n_docs * toks_per_doc
    T = n_docs * (toks_per_doc - 1)
    assert len(rows) == 1
    r = rows[0]
    assert (r.w1, r.w2, r.c_xy, r.c_w1, r.c_w2) == ("a", "a", T, U, U)
    num, den = T * U * U, T * U * U
    assert num > 2**63 - 1  # the corpus really does overflow int64
    assert r.pmi2 == (num // den).bit_length() - 1  # == 0


# ------------------------------------------------------------ pagerank


def _pagerank_ref(edges, iters=3, scale=10**12, damping=85):
    """Independent driver-side integer reference."""
    sym = set()
    for a, b in edges:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    deg: dict = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    r = {v: scale for v in deg}
    base = (100 - damping) * scale // 100
    for _ in range(iters):
        inc = {v: 0 for v in deg}
        for s, t in sym:
            inc[t] += r[s] // deg[s]
        r = {v: base + damping * inc[v] // 100 for v in deg}
    return r


def test_pagerank_matches_integer_reference(spark):
    from two_tier_document_parser_spark.graph import pagerank

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (5, 6)]
    e = spark.createDataFrame(edges, "a long, b long")
    got = {r.doc_id: r.rank_e12 for r in pagerank(e, iters=3).collect()}
    assert got == _pagerank_ref(edges)
    # the K3-ish corner (1,3) concentrates mass on 1 and 3
    assert got[1] > got[2] and got[3] > got[4]


def test_pagerank_drops_self_loops_and_dups(spark):
    from two_tier_document_parser_spark.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (1, 2)], "a long, b long"
    )
    got = {r.doc_id: r.rank_e12 for r in pagerank(e, iters=2).collect()}
    assert got == _pagerank_ref([(1, 2)], iters=2)


# ----------------------------------------------------------- triangles


def test_triangles_k4(spark):
    from two_tier_document_parser_spark.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4 + [(4, 5)], "a long, b long")
    got = {r.doc_id: r.n_triangles for r in triangle_count(e).collect()}
    # K4 has 4 triangles; each vertex sits in C(3,2)=3; pendant 5 in none
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_square_has_none(spark):
    from two_tier_document_parser_spark.graph import triangle_count

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "a long, b long"
    )
    assert triangle_count(e).count() == 0


# -------------------------------------------------------- inverted index


def test_inverted_index_hand_computed(spark):
    from two_tier_document_parser_spark.ranking import inverted_index

    d = _docs(spark, [(1, "apple apple pear"), (2, "apple banana"), (3, "pear")])
    got = {
        r.term: (r.df, r.cf, r.top_postings)
        for r in inverted_index(d, cap=16).collect()
    }
    assert got == {
        "apple": (2, 3, "1:2,2:1"),  # impact order: d1 (tf 2) first
        "pear": (2, 2, "1:1,3:1"),   # tf tie -> doc_id ascending
        "banana": (1, 1, "2:1"),
    }


def test_inverted_index_cap(spark):
    from two_tier_document_parser_spark.ranking import inverted_index

    d = _docs(spark, [(i, "apple") for i in range(1, 6)])
    got = inverted_index(d, cap=2).collect()[0]
    assert (got.df, got.top_postings) == (5, "1:1,2:1")


def test_inverted_index_merge_equals_recompute(spark):
    """Merging the increment into the committed index must equal the
    from-scratch index over the union — including block re-ranking
    when a new doc's tf beats a committed one."""
    from two_tier_document_parser_spark.ranking import (
        inverted_index,
        inverted_index_merge,
    )

    committed = _docs(
        spark,
        [(1, "apple apple pear"), (2, "apple banana"), (3, "pear kiwi")],
    )
    increment = _docs(
        spark,
        [(10, "apple apple apple pear"), (11, "mango mango")],
    )
    merged = {
        r.term: (r.df, r.cf, r.top_postings)
        for r in inverted_index_merge(
            inverted_index(committed, cap=2), increment, cap=2
        ).collect()
    }
    full = {
        r.term: (r.df, r.cf, r.top_postings)
        for r in inverted_index(
            committed.unionByName(increment), cap=2
        ).collect()
    }
    assert merged == full
    # the new doc 10 (tf 3) must displace committed doc 2 in apple's
    # block, and brand-new terms appear
    assert merged["apple"] == (3, 6, "10:3,1:2")
    assert merged["mango"] == (1, 2, "11:2")


def test_inverted_index_merge_rejects_overlapping_increment(spark):
    """ADVICE r04: overlap between increment and committed doc_ids
    silently double-counted df/cf. The guard must now fail the job
    when an increment doc is already in a committed posting block."""
    import pytest

    from two_tier_document_parser_spark.ranking import (
        inverted_index,
        inverted_index_merge,
    )

    committed = _docs(spark, [(1, "apple pear"), (2, "apple banana")])
    overlap = _docs(spark, [(2, "apple apple")])  # doc 2 re-submitted
    with pytest.raises(Exception, match="already present"):
        inverted_index_merge(
            inverted_index(committed, cap=2), overlap, cap=2
        ).collect()


# ---------------------------------------------------- sparse topk pairs


def test_sparse_pairs_hand_computed(spark):
    from two_tier_document_parser_spark.ranking import sparse_topk_pairs

    d = _docs(spark, [(1, "x y"), (2, "x y"), (3, "x z")])
    # df: x=3 (w=bitlen(3 DIV 3)=1), y=2 (w=1), z=1 (w=2, unshared)
    # scores: (1,2)=x+y=2, (1,3)=x=1, (2,3)=x=1
    got = {
        (r.src, r.rnk): (r.dst, r.score)
        for r in sparse_topk_pairs(d, k=3, df_cap_permille=1000).collect()
    }
    assert got == {
        (1, 1): (2, 2), (1, 2): (3, 1),
        (2, 1): (1, 2), (2, 2): (3, 1),
        (3, 1): (1, 1), (3, 2): (2, 1),  # tie -> dst ascending
    }


def test_sparse_pairs_df_cap_prunes(spark):
    from two_tier_document_parser_spark.ranking import sparse_topk_pairs

    d = _docs(spark, [(1, "x y"), (2, "x y"), (3, "x z")])
    # permille=600: keep df*1000 <= 3*600 -> df <= 1 -> only z, unshared
    assert sparse_topk_pairs(d, k=3, df_cap_permille=600).count() == 0


def test_sparse_pairs_absolute_df_cap(spark):
    """r05: the web-scale knob — an absolute df cap applies on top of
    the permille predicate and prunes the hot term even when the
    relative cut keeps it."""
    from two_tier_document_parser_spark.ranking import sparse_topk_pairs

    d = _docs(
        spark,
        [(1, "hot rare1"), (2, "hot rare1"), (3, "hot"), (4, "hot")],
    )
    # permille=1000 keeps everything; 'hot' (df 4) pairs all 4 docs,
    # rare1 (df 2) pairs docs 1-2
    loose = sparse_topk_pairs(d, k=5, df_cap_permille=1000)
    assert loose.count() == 12  # 6 unordered pairs, mirrored
    # absolute cap 2 drops 'hot': only the rare1 pair survives
    tight = sparse_topk_pairs(
        d, k=5, df_cap_permille=1000, df_cap_abs=2
    )
    got = {(r.src, r.dst) for r in tight.collect()}
    assert got == {(1, 2), (2, 1)}


# ------------------------------------------------------ label propagation


def test_label_propagation_clique_converges_one_step(spark):
    from two_tier_document_parser_spark.graph import label_propagation

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = spark.createDataFrame(k4, "a long, b long")
    # K4, iter 1: every vertex's neighbor labels are distinct -> min
    # label wins; vertices 2,3,4 see label 1 -> all converge to 1
    # (vertex 1 sees {2,3,4} -> picks 2, then rejoins 1's community)
    got = {r.doc_id: r.community for r in label_propagation(e, iters=3).collect()}
    assert set(got.values()) == {1}


def test_label_propagation_pair_stabilizes(spark):
    # ADVICE r04: open-neighborhood voting made a lone edge {1,2}
    # oscillate (community(1)=2, community(2)=1 after odd iters); the
    # closed-neighborhood vote converges the pair to min-label 1.
    from two_tier_document_parser_spark.graph import label_propagation

    e = spark.createDataFrame([(1, 2)], "a long, b long")
    for iters in (1, 2, 3):
        got = {
            r.doc_id: r.community
            for r in label_propagation(e, iters=iters).collect()
        }
        assert got == {1: 1, 2: 1}


def test_label_propagation_two_cliques_stay_separate(spark):
    from two_tier_document_parser_spark.graph import label_propagation

    c1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    e = spark.createDataFrame(c1 + c2 + [(4, 10)], "a long, b long")
    got = {r.doc_id: r.community for r in label_propagation(e, iters=3).collect()}
    # the bridge edge must not merge the dense cliques
    assert got[1] == got[2] == got[3]
    assert got[11] == got[12] == got[13]
    assert got[1] != got[11]


def _psi_ref(rows, ref_source="src0", width=50):
    """Independent Python PSI reference."""
    import math
    from collections import Counter

    r, o = Counter(), Counter()
    for n_chars, source in rows:
        (r if source == ref_source else o)[n_chars // width] += 1
    buckets = sorted(set(r) | set(o))
    tr, to, nb = sum(r.values()), sum(o.values()), len(buckets)
    out = {}
    for bkt in buckets:
        p = r[bkt] * 1000000 // max(tr, 1)
        q = o[bkt] * 1000000 // max(to, 1)
        a = (r[bkt] + 1) * (to + nb)
        b = (o[bkt] + 1) * (tr + nb)
        out[bkt] = (r[bkt], o[bkt], p, q, (p - q) * math.floor(math.log2(a / b)))
    return out


def test_psi_drift_matches_reference(spark):
    from two_tier_document_parser_spark.textstats import psi_drift

    rows = [
        (10, "src0"), (60, "src0"), (61, "src0"), (120, "src0"),
        (10, "srcX"), (110, "srcX"), (115, "srcX"), (200, "srcX"),
        (205, "srcX"),
    ]
    d = spark.createDataFrame(
        [(i, "t", "en", s, n) for i, (n, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.len_bucket: (r.n_ref, r.n_other, r.p_ppm, r.q_ppm, r.psi_term)
        for r in psi_drift(d).collect()
    }
    assert got == _psi_ref(rows)
    # bucket 0 is balanced (1 vs 1) -> near-zero term; bucket 4 is
    # other-only -> negative share diff with negative log -> positive
    assert got[4][4] > 0


# ---------------------------------------------------------------- kcore


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_kcore_triangle_with_pendant(spark):
    """Triangle {1,2,3} plus pendant edge 3-4: the 2-core is the
    triangle (every corner keeps degree 2); vertex 4 (deg 1) is
    peeled in round 1, and 3's degree drops from 3 to 2 — still in."""
    from two_tier_document_parser_spark.graph import kcore

    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    got = {r.doc_id: r.deg for r in kcore(e, k=2, iters=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_chain_peels_to_empty(spark):
    """A path 1-2-3-4-5 has no 2-core: endpoints peel, exposing new
    endpoints each round — gone after 2 rounds (needs the ITERATION,
    not just one degree filter)."""
    from two_tier_document_parser_spark.graph import kcore

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert kcore(e, k=2, iters=4).count() == 0
    # one round is NOT enough: 2,3,4 all still have deg>=2 then
    assert kcore(e, k=2, iters=1).count() == 3


def test_kcore_k3_inside_k2(spark):
    """K4 {1..4} plus a triangle {4,5,6} sharing vertex 4: at k=3 the
    triangle peels (its corners have deg 2 once 4's K4 edges don't
    help 5,6) and only the K4 survives with deg 3 each."""
    from two_tier_document_parser_spark.graph import kcore

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = _edges(spark, k4 + [(4, 5), (5, 6), (4, 6)])
    got = {r.doc_id: r.deg for r in kcore(e, k=3, iters=4).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_ignores_self_loops_and_dup_edges(spark):
    from two_tier_document_parser_spark.graph import kcore

    e = _edges(spark, [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3)])
    got = {r.doc_id: r.deg for r in kcore(e, k=2, iters=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_long_chain_needs_six_rounds(spark):
    """A 13-vertex path needs 6 peel rounds to empty at k=2: with
    iters=4 the fixed-round query is a strict over-approximation,
    with iters=6 it reaches the true (empty) core."""
    from two_tier_document_parser_spark.graph import kcore

    e = _edges(spark, [(i, i + 1) for i in range(12)])
    assert kcore(e, k=2, iters=4).count() > 0
    assert kcore(e, k=2, iters=6).count() == 0


def test_kcore_converged_core_degrees(spark):
    """K4 {1..4}, a triangle {4,5,6} and a pendant 7: the 2-core keeps
    the K4 and the triangle with their degrees inside it, and more
    rounds than the peel needs change nothing."""
    from two_tier_document_parser_spark.graph import kcore

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = _edges(spark, k4 + [(4, 5), (5, 6), (4, 6), (6, 7)])
    fixed = {(r.doc_id, r.deg) for r in kcore(e, k=2, iters=8).collect()}
    assert fixed == {(1, 3), (2, 3), (3, 3), (4, 5), (5, 2), (6, 2)}
    assert {(r.doc_id, r.deg) for r in kcore(e, k=2, iters=2).collect()} == fixed
