"""Integer k-means (clustering.py): independent Python reference,
map-only assignment plan pin, tie-break and empty-cluster rules.

Spark-vs-DuckDB bit-equality of the whole unrolled training loop is
covered by parity_harness/driver gate (kmeans_q8 / kmeans_profile);
these tests pin the algorithm itself against a from-scratch reference
and the plan shape the 10^12-point scale argument rests on."""

from __future__ import annotations

import pytest

from two_tier_document_parser_spark.clustering import (
    _shifted_points,
    cluster_profile,
    kmeans_q8,
)


def _ref_kmeans(vecs: dict[int, list[float]], k: int, iters: int):
    """From-scratch integer Lloyd's in the same shifted-q8 space:
    quantize (round away-from-zero), +127 shift, smallest-ids init,
    first-min tie-break, floor-mean update, empty-keeps-previous."""
    import math

    def q8(v):
        scale = max(abs(float(x)) for x in v) if v else 0.0
        if scale == 0:
            return [127] * len(v)
        out = []
        for x in v:
            r = 127.0 * float(x) / scale
            # round half away from zero (Spark F.round / DuckDB round)
            out.append(int(math.floor(r + 0.5) if r >= 0 else math.ceil(r - 0.5)) + 127)
        return out

    pts = {i: q8(v) for i, v in vecs.items()}
    ids = sorted(pts)
    cents = [list(pts[i]) for i in ids[:k]]

    def assign():
        out = {}
        for i in ids:
            dists = [
                sum((a - b) * (a - b) for a, b in zip(pts[i], c))
                for c in cents
            ]
            m = min(dists)
            out[i] = (dists.index(m), m)  # first-min tie-break
        return out

    for _ in range(iters):
        a = assign()
        for c in range(k):
            members = [pts[i] for i in ids if a[i][0] == c]
            if members:
                n = len(members)
                cents[c] = [sum(col) // n for col in zip(*members)]
    return assign()


VECS = {
    # two tight groups + one outlier + a zero vector; 4 dims
    1: [1.0, 1.0, 0.0, 0.0],
    2: [0.9, 1.1, 0.0, 0.1],
    3: [1.1, 0.9, 0.1, 0.0],
    4: [-1.0, -1.0, 0.0, 0.0],
    5: [-0.9, -1.1, 0.1, 0.0],
    6: [0.0, 0.0, 0.0, 0.0],
    7: [0.0, 0.0, 5.0, 5.0],
    8: [0.05, -0.05, 4.0, 6.0],
}


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in VECS.items()],
        "vec_id long, embedding array<float>",
    )


def test_matches_reference_implementation(spark, emb):
    got = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_q8(emb, k=3, iters=3).collect()
    }
    ref = _ref_kmeans(VECS, k=3, iters=3)
    assert got == ref
    # the two planted groups actually separate
    assert got[1][0] == got[2][0] == got[3][0]
    assert got[4][0] == got[5][0]
    assert got[7][0] == got[8][0]
    assert got[1][0] != got[4][0] != got[7][0]


def test_matches_reference_on_real_table(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_SF_TEST", "/root/testdata/sf0.001")
    p = f"{sf}/embeddings.parquet"
    if not os.path.exists(p):
        pytest.skip("no testdata")
    emb = spark.read.parquet(p)
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    got = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_q8(emb, k=8, iters=2).collect()
    }
    assert got == _ref_kmeans(vecs, k=8, iters=2)


def test_assignment_is_map_only(spark, emb):
    plan = (
        kmeans_q8(emb, k=3, iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the centroids ride into the kernel: the returned assignment
    # pass must contain NO Exchange of any kind
    assert "Exchange" not in plan, plan


def test_zero_vector_quantizes_to_shift(spark, emb):
    rows = {r["vec_id"]: r["p"] for r in _shifted_points(emb).collect()}
    assert rows[6] == [127, 127, 127, 127]
    assert max(max(p) for p in rows.values()) <= 254
    assert min(min(p) for p in rows.values()) >= 0


def test_empty_cluster_keeps_previous_centroid(spark):
    # k=3 over 3 identical points: clusters 1 and 2 go empty after
    # the first assignment (all points tie to cluster 0 by first-min)
    # — the run must stay deterministic and place everything in 0
    emb = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_q8(emb, k=3, iters=2).collect()
    assert {r["cluster"] for r in rows} == {0}
    assert all(r["dist_q"] == 0 for r in rows)


def test_empty_table_gives_zero_rows_with_the_usual_schema(spark, emb):
    from two_tier_document_parser_spark.clustering import emb_moments

    empty = emb.limit(0)
    for op in (
        lambda e: kmeans_q8(e, k=3, iters=2),
        lambda e: cluster_profile(kmeans_q8(e, k=3, iters=2)),
        emb_moments,
    ):
        got = op(empty)
        assert got.collect() == []
        assert got.schema == op(emb).schema


def test_emb_moments_match_numpy(spark, emb):
    import numpy as np

    from two_tier_document_parser_spark.clustering import emb_moments

    rows = emb_moments(emb).collect()
    # independent reference: quantize in numpy, full Gram
    def q8(v):
        import math

        scale = max(abs(float(x)) for x in v)
        if scale == 0:
            return [0] * len(v)
        out = []
        for x in v:
            r = 127.0 * float(x) / scale
            out.append(int(math.floor(r + 0.5) if r >= 0 else math.ceil(r - 0.5)))
        return out

    Q = np.array([q8(VECS[i]) for i in sorted(VECS)], dtype=np.int64)
    gram = Q.T @ Q
    s1 = Q.sum(axis=0)
    n = len(Q)
    dim = Q.shape[1]
    assert len(rows) == dim * (dim + 1) // 2
    for r in rows:
        assert r["d1"] <= r["d2"]
        assert r["s_prod"] == gram[r["d1"], r["d2"]]
        assert r["s_d1"] == s1[r["d1"]]
        assert r["s_d2"] == s1[r["d2"]]
        assert r["n"] == n


def test_profile_sums(spark, emb):
    a = kmeans_q8(emb, k=3, iters=3)
    prof = {r["cluster"]: r for r in cluster_profile(a).collect()}
    rows = a.collect()
    assert sum(p["n"] for p in prof.values()) == len(rows)
    for c, p in prof.items():
        mine = [r["dist_q"] for r in rows if r["cluster"] == c]
        assert p["sum_dist_q"] == sum(mine)
        assert p["max_dist_q"] == max(mine)


def test_sqdist_equals_the_int64_expansion():
    """`_sqdist` runs its dot products in float64; the result equals
    the all-int64 ||a||^2 + ||b||^2 - 2 a.b at the extremes of the
    shifted q8 range and on random batches."""
    import numpy as np

    from two_tier_document_parser_spark.clustering import _sqdist

    def int64_expansion(A, B):
        return ((A * A).sum(axis=1)[:, None] + (B * B).sum(axis=1)[None, :]
                - 2 * np.einsum("id,jd->ij", A, B))

    dim = 4096
    A = np.stack([np.full(dim, 254), np.zeros(dim, np.int64),
                  np.arange(dim) % 255]).astype(np.int64)
    got = _sqdist(A, A)
    assert got.dtype == np.int64
    assert (got == int64_expansion(A, A)).all()
    assert got[0, 1] == got[1, 0] == dim * 254 ** 2
    assert got[0, 0] == got[1, 1] == got[2, 2] == 0

    rng = np.random.default_rng(14)
    for n, k, d in ((1, 1, 1), (300, 64, 64), (97, 5, 8), (40, 256, 768)):
        P = rng.integers(0, 255, (n, d), dtype=np.int64)
        C = rng.integers(0, 255, (k, d), dtype=np.int64)
        assert (_sqdist(P, C) == int64_expansion(P, C)).all()
