"""BPE tokenizer training (bpe.py): the classic Sennrich corpus
hand-verified merge-by-merge, overlap counting and greedy-replace
adjacency semantics, deterministic tie-breaks, segment application,
and vocabulary-exhaustion behavior mirrored by the unrolled SQL
oracle."""

import duckdb
import numpy as np

from two_tier_document_parser_spark.bpe import (
    bpe_segment,
    bpe_subword_counts,
    bpe_train,
    word_frequencies,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_classic_corpus_merges(spark):
    """Sennrich's running example (low/lower/newest/widest): the five
    merges and their counts, worked by hand — es(9) beats st... the
    (e,s)/(s,t) tie at 9 resolves lexicographically, then est(9),
    lo(7) from the (l,o)/(o,w) tie, low(7), ew(6) from the
    three-way 6-count tie."""
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    rows = bpe_train(_docs(spark, [text]), iters=5).orderBy("it").collect()
    assert [
        (r["it"], r["lft"], r["rgt"], r["merged"], r["pair_count"])
        for r in rows
    ] == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
        (4, "lo", "w", "low", 7),
        (5, "e", "w", "ew", 6),
    ]


def test_overlap_counting_and_greedy_apply(spark):
    """'aaaa' has THREE (a,a) pair positions (overlaps counted, as in
    the reference zip(symbols, symbols[1:])), and applying the merge
    is greedy left-to-right: aaaa -> [aa, aa], aaa -> [aa, a]."""
    rows = (
        bpe_train(_docs(spark, ["aaaa aaa b"]), iters=2)
        .orderBy("it")
        .collect()
    )
    assert (rows[0]["merged"], rows[0]["pair_count"]) == ("aa", 5)
    # after merge 1: aaaa = [aa, aa], aaa = [aa, a] -> pairs
    # (aa,aa)=1, (aa,a)=1 -> tie, lexicographic: (aa,a) first
    assert (rows[1]["lft"], rows[1]["rgt"], rows[1]["pair_count"]) == (
        "aa", "a", 1,
    )
    segs = {
        r["word"]: list(r["subwords"])
        for r in bpe_segment(
            _docs(spark, ["aaaa aaa b"]),
            bpe_train(_docs(spark, ["aaaa aaa b"]), iters=1),
        ).collect()
    }
    assert segs == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"], "b": ["b"]}


def test_word_filter_and_frequencies(spark):
    """Tokenization: lowercase, whitespace split, alphanumeric-only
    vocabulary (punctuated/mixed tokens drop)."""
    wf = {
        r["word"]: r["n"]
        for r in word_frequencies(
            _docs(spark, ["The the THE cat, cat d0g d0g d0g"])
        ).collect()
    }
    # "cat," drops (punctuation); the bare second "cat" stays
    assert wf == {"the": 3, "cat": 1, "d0g": 3}


def test_exhaustion_empties_cascade(spark):
    """A vocabulary that fully merges before k iterations yields
    fewer than k rows (empty argmax empties the cascade) — the
    documented semantics the SQL oracle mirrors."""
    rows = bpe_train(_docs(spark, ["ab ab ab"]), iters=4).collect()
    assert len(rows) == 1
    assert rows[0]["merged"] == "ab"


def test_subword_counts_classic(spark):
    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    got = [
        (r["subword"], r["total"])
        for r in bpe_subword_counts(
            _docs(spark, [text]), iters=5, top_k=5
        ).collect()
    ]
    assert got == [("est", 9), ("low", 7), ("ew", 6), ("n", 6), ("d", 3)]


def test_matches_independent_python_bpe(spark):
    """Property check vs an independent in-test reference BPE
    (dict-based, straight from the paper's pseudocode) on a
    deterministic synthetic corpus."""
    rng = np.random.default_rng(7)
    words = [
        "".join(rng.choice(list("abcd"), size=rng.integers(1, 7)))
        for _ in range(60)
    ]
    text = " ".join(words)

    # -- independent reference --
    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    segs = {w: list(w) for w in freqs}
    expect = []
    for _ in range(6):
        pc: dict[tuple, int] = {}
        for w, n in freqs.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        expect.append((a, b, a + b, c))
        for w in segs:
            s = segs[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out

    rows = bpe_train(_docs(spark, [text]), iters=6).orderBy("it").collect()
    got = [(r["lft"], r["rgt"], r["merged"], r["pair_count"]) for r in rows]
    assert got == expect


def test_lm_surprisal_hand_values(spark):
    """Add-one bigram surprisal worked by hand: vocab V=6
    {the,cat,sat,zx,qq,one}; c1(the)=c1(cat)=c1(sat)=3;
    c2(the,cat)=c2(cat,sat)=3, c2(sat,the)=c2(zx,qq)=1.
    (the,cat): ceil(9/4) -> bitlen(2) = 2 bits; (sat,the):
    ceil(9/2) -> bitlen(4) = 3 bits; (zx,qq): ceil(7/2) ->
    bitlen(3) = 2 bits. Single-token docs emit no row."""
    from two_tier_document_parser_spark.bpe import lm_surprisal

    docs = _docs(
        spark,
        ["the cat sat", "the cat sat the cat sat", "zx qq", "one"],
    )
    got = {
        r["doc_id"]: (r["n_pairs"], r["total_bits"], r["bits_per_pair"])
        for r in lm_surprisal(docs).collect()
    }
    assert got == {0: (2, 4, 2), 1: (5, 11, 2), 2: (1, 2, 2)}


def test_lm_surprisal_cross_corpus_unseen(spark):
    """Scoring a different corpus than the model was trained on:
    unseen bigrams/unigrams coalesce to count 0 and stay finite via
    the add-one smoothing (p = 1/V for a fully unseen pair)."""
    from two_tier_document_parser_spark.bpe import lm_surprisal

    train = _docs(spark, ["a b a b a b"])  # V=2, c1(a)=3, c2(a,b)=3
    score = _docs(spark, ["a b", "x y"])
    got = {
        r["doc_id"]: (r["n_pairs"], r["total_bits"])
        for r in lm_surprisal(score, train=train).collect()
    }
    # (a,b): num=4, den=3+2=5 -> ceil(5/4)=2 -> bitlen(1)=1 bit
    # (x,y): num=1, den=0+2=2 -> ceil(2/1)=2 -> bitlen(1)=1 bit
    assert got == {0: (1, 1), 1: (1, 1)}


def test_oracle_sql_matches_spark(spark):
    """The unrolled DuckDB oracle reproduces bpe_train/-subword
    value-for-value on an adversarial corpus (ties, overlaps,
    filtered tokens)."""
    import __spark_entry__ as e

    text = (
        "aaa abab abab cd cd cd cd ef ef ef ef Mixed-Case drop! "
        "aaa bb bb bb"
    )
    sdf = _docs(spark, [text])
    con = duckdb.connect()
    con.register(
        "documents",
        sdf.toPandas(),
    )
    oracle = con.sql(e._bpe_merges_sql(5)).df()
    got = bpe_train(sdf, iters=5).orderBy("it").toPandas()
    assert list(map(tuple, oracle.sort_values("it").values)) == list(
        map(tuple, got.sort_values("it").values)
    )
