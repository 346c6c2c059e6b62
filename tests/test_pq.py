"""Product quantization (pq.py): independent Python reference for
training/encode/ADC/recall, determinism, the bounded-emission plan
shape the 10^12-vector scale argument rests on, and guardrails.

Spark-vs-DuckDB bit-equality of the whole unrolled pipeline
(training loop + codes + ADC top-k + recall) is covered by
parity_harness / the driver gate (pq_codes / pq_topk / pq_recall);
these tests pin the algorithm against a from-scratch reference."""

from __future__ import annotations

import math

import pytest

from two_tier_document_parser_spark.pq import (
    _pack,
    pq_encode,
    pq_recall,
    pq_topk,
    train_pq,
)


def _q8p(v):
    """Shifted q8: round half away from zero (Spark F.round), +127."""
    scale = max(abs(float(x)) for x in v) if v else 0.0
    if scale == 0:
        return [127] * len(v)
    out = []
    for x in v:
        r = 127.0 * float(x) / scale
        out.append(
            int(math.floor(r + 0.5) if r >= 0 else math.ceil(r - 0.5)) + 127
        )
    return out


def _ref_pq(vecs: dict[int, list[float]], m: int, k: int, iters: int):
    """From-scratch PQ: per-subspace integer Lloyd's (smallest-ids
    init, first-min tie-break, floor-mean, empty-keeps-previous),
    then codes. Returns (codebooks, codes) with codebooks[j][c] a
    subvector list and codes[i] a list of m cluster ids."""
    pts = {i: _q8p(v) for i, v in vecs.items()}
    ids = sorted(pts)
    dim = len(pts[ids[0]])
    sub = dim // m
    cb = [
        [pts[ids[c]][j * sub : (j + 1) * sub] for c in range(k)]
        for j in range(m)
    ]

    def argmin_j(p, j):
        s = p[j * sub : (j + 1) * sub]
        dists = [
            sum((a - b) * (a - b) for a, b in zip(s, c)) for c in cb[j]
        ]
        return dists.index(min(dists)), min(dists)

    for _ in range(iters):
        for j in range(m):
            asg = {i: argmin_j(pts[i], j)[0] for i in ids}
            for c in range(k):
                members = [
                    pts[i][j * sub : (j + 1) * sub]
                    for i in ids
                    if asg[i] == c
                ]
                if members:
                    n = len(members)
                    cb[j][c] = [sum(col) // n for col in zip(*members)]
    codes = {i: [argmin_j(pts[i], j)[0] for j in range(m)] for i in ids}
    return cb, codes


def _vecs(n=24, dim=8, seed=7):
    """Deterministic pseudo-random float vectors (no RNG deps)."""
    out = {}
    for i in range(n):
        out[i] = [
            math.sin(seed + i * 1.7 + d * 0.61) * (1 + (i % 5))
            for d in range(dim)
        ]
    return out


@pytest.fixture(scope="module")
def emb(spark):
    vecs = _vecs()
    return spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    ).repartition(3)


def test_encode_matches_reference(spark, emb):
    m, k, iters = 2, 4, 2
    _, ref_codes = _ref_pq(_vecs(), m, k, iters)
    got = {
        r["vec_id"]: r["pq_code"]
        for r in pq_encode(emb, m=m, k=k, iters=iters).collect()
    }
    want = {
        i: sum(c * (k**j) for j, c in enumerate(cs))
        for i, cs in ref_codes.items()
    }
    assert got == want


def test_topk_matches_reference(spark, emb):
    m, k, iters, nq, topk = 2, 4, 2, 3, 5
    vecs = _vecs()
    cb, codes = _ref_pq(vecs, m, k, iters)
    pts = {i: _q8p(v) for i, v in vecs.items()}
    sub = len(pts[0]) // m
    want = []
    for qid in sorted(pts)[:nq]:
        lut = [
            [
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(pts[qid][j * sub : (j + 1) * sub], c)
                )
                for c in cb[j]
            ]
            for j in range(m)
        ]
        scored = sorted(
            (sum(lut[j][codes[i][j]] for j in range(m)), i) for i in pts
        )
        for r, (d, i) in enumerate(scored[:topk], 1):
            want.append((qid, r, i, d))
    got = [
        (r["query_id"], r["rank"], r["vec_id"], r["adist"])
        for r in pq_topk(emb, m=m, k=k, iters=iters, n_queries=nq, topk=topk)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == want


def test_recall_matches_reference(spark, emb):
    m, k, iters, nq, topk = 2, 4, 2, 3, 5
    vecs = _vecs()
    cb, codes = _ref_pq(vecs, m, k, iters)
    pts = {i: _q8p(v) for i, v in vecs.items()}
    sub = len(pts[0]) // m
    want = {}
    for qid in sorted(pts)[:nq]:
        exact = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(pts[qid], pts[i])),
                i,
            )
            for i in pts
        )
        exact_ids = {i for _, i in exact[:topk]}
        lut = [
            [
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(pts[qid][j * sub : (j + 1) * sub], c)
                )
                for c in cb[j]
            ]
            for j in range(m)
        ]
        adc = sorted(
            (sum(lut[j][codes[i][j]] for j in range(m)), i) for i in pts
        )
        adc_ids = {i for _, i in adc[:topk]}
        want[qid] = len(exact_ids & adc_ids)
    got = {
        r["query_id"]: r["hits"]
        for r in pq_recall(
            emb, m=m, k=k, iters=iters, n_queries=nq, topk=topk
        ).collect()
    }
    assert got == want
    # the exact top-k of a query always contains the query itself
    # (distance 0), so recall is over a well-formed ground truth
    assert set(got) == set(sorted(_vecs())[:3])


def test_deterministic_across_runs_and_partitionings(spark, emb):
    a = sorted(
        map(tuple, pq_topk(emb, m=2, k=4, iters=2, n_queries=2, topk=4)
            .collect())
    )
    b = sorted(
        map(tuple, pq_topk(emb.repartition(7), m=2, k=4, iters=2,
                           n_queries=2, topk=4).collect())
    )
    assert a == b


def _plan_nodes(node):
    """Every node of an executed plan, through the AQE query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _plan_nodes(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return [node] + _plan_nodes(node.plan())
    kids = node.children()
    return [node] + [
        n for i in range(kids.size()) for n in _plan_nodes(kids.apply(i))
    ]


def test_scoring_pass_is_map_only_with_bounded_merge(spark, emb):
    """The scale contract: after training, the encode+ADC+top-k pass
    must be a single map-side kernel whose output is bounded at
    partitions * n_queries * topk rows — the only Exchange in the
    final plan ranks that bounded union (hashpartitioning on
    query_id), never the data-sized table."""
    import re

    nq, topk = 2, 3
    tk = pq_topk(emb, m=2, k=4, iters=1, n_queries=nq, topk=topk)
    assert len(tk.collect()) == nq * topk
    plan = tk._jdf.queryExecution().executedPlan()
    exchanges = re.findall(r"Exchange (\w+)(?:\((\w+)#)?", plan.toString())
    assert exchanges, plan.toString()
    assert set(exchanges) == {("hashpartitioning", "query_id")}, exchanges
    kernels = [n for n in _plan_nodes(plan) if n.nodeName() == "MapInArrow"]
    assert len(kernels) == 1
    parts = emb.rdd.getNumPartitions()
    assert parts >= 3
    emitted = kernels[0].metrics().apply("pythonNumRowsReceived").value()
    assert 0 < emitted <= parts * nq * topk


def test_codes_that_overflow_a_long_raise_before_any_job(spark):
    import numpy as np
    from pyspark.sql import functions as F

    # k**m = 2**64: sub-ids [255]*8 would pack to -1. The embeddings
    # raise when scanned, so the error must come before any job.
    unscannable = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array_repeat(F.raise_error("scanned").cast("float"), 8)
        .alias("embedding"),
    )
    with pytest.raises(ValueError, match="64-bit"):
        train_pq(unscannable, m=8, k=256, iters=1)
    # k**m = 2**63 still fits: the largest code word is 2**63 - 1
    assert _pack(np.full((1, 9), 127), 128)[0] == 2**63 - 1


def test_empty_table_gives_zero_rows_with_the_usual_schema(spark, emb):
    empty = emb.limit(0)
    for op in (pq_encode, pq_topk, pq_recall):
        got = op(empty, m=2, k=4, iters=2)
        assert got.collect() == []
        assert got.schema == op(emb, m=2, k=4, iters=1).schema


def test_fewer_rows_than_k_trains_one_centroid_per_row(spark, emb):
    # 24 rows: k=32 keeps the 24 smallest-id init rows, as the oracle's
    # LIMIT k does, so it trains exactly like k=24
    n = emb.count()
    assert sorted(pq_topk(emb, m=2, k=n + 8, iters=2).collect()) == sorted(
        pq_topk(emb, m=2, k=n, iters=2).collect()
    )


def test_dim_not_divisible_raises(spark):
    bad = spark.createDataFrame(
        [(i, [float(i), 1.0, 2.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError):
        train_pq(bad, m=2, k=2, iters=1)
