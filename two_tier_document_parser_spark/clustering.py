"""Distributed k-means (Lloyd's algorithm, fixed iterations) over
quantized embeddings — the clustering stage of semantic curation.

Role / provenance: SemDeDup (Abbas et al. 2023, §3) and the
cluster-balanced sampling family (DoReMi-style mixture tuning,
cluster-dedup) all start by k-means-clustering the embedding space;
this repo's ``semantic_dedup`` uses SRP-LSH buckets as its candidate
generator, and this module supplies the paper-faithful alternative:
explicit centroids + assignments usable for cluster-capped sampling,
per-cluster dedup, and diversity audits.

Spark shape (the classic scalable k-means plan, same topology as
Spark MLlib's, with the centroids shipped inside the kernel):

- **Assignment is map-only.** The k centroids (k·dim ints, driver
  state bounded at k·dim) ride into one mapInArrow kernel as a numpy
  constant; each batch's exact int64 distances come from the
  ||p||^2 + ||c||^2 - 2 p.c expansion (``_sqdist``) and the argmin
  keeps the first minimum — the deterministic lowest-cluster-id
  tie-break. No join, no shuffle: a 10^12-point assignment pass is
  one scan.
- **Update is one tiny shuffle.** The same kernel assigns in-batch
  and emits per-(cluster, dim) integer partial sums → sum/count with
  map-side partial aggregation — only k·dim·partitions partial rows
  ever move. The k·dim sums collect to the driver (bounded, the
  repo's accepted iterative-op pattern — see bpe_train's argmax
  collect and the memory note on lazy iterative lineage), where the
  new centroids are exact integer floor-means.
- k iterations = k scans + k tiny shuffles; nothing in the loop grows
  with executor count or data size except the embarrassingly parallel
  scan itself.

The trainer (``_lloyd``) runs over m subspaces at once: k-means is
the m = 1 case, and pq.py's sub-codebooks are the same loop with
m > 1.

Exactness contract (what makes the unrolled DuckDB oracle hash-exact):
points are the SAME symmetric int8 quantization as the q8 near-dup
family (round away-from-zero in both engines — see
``similarity.quantize_embeddings``), SHIFTED by +127 into [0, 254] so
every sum, squared distance, and floor-divided centroid mean is
non-negative int64 arithmetic — order-independent, no float folds,
and Python ``//`` == SQL ``//``/``div`` on non-negative operands.
Each term of the distance expansion is exact too: values <= 254, so
a dim-64 dot product is <= 64*254^2 ~ 4.1e6, which float64 holds
exactly, so ``_sqdist`` runs the dot products through BLAS (see its
docstring). Distances are invariant under the constant shift, so the
clustering is exactly the clustering of the q8 vectors. Empty
clusters keep their previous centroid (COALESCE in the oracle's LEFT
JOIN — the deterministic convention, not a re-seed).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import quantize_embeddings


def _shifted_points(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, q8+127 as array<long>) — the non-negative integer space
    every k-means stage operates in."""
    q = quantize_embeddings(emb, vec_col=vec_col, id_col=id_col)
    return q.select(
        id_col,
        F.transform("q8", lambda v: v.cast("long") + F.lit(127)).alias("p"),
    )


def _points(b) -> np.ndarray:
    """An Arrow batch's ``p`` column as an (n, dim) int64 matrix."""
    return np.stack(b.column("p").to_numpy(zero_copy_only=False)).astype(
        np.int64
    )


def _sqdist(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(len(A), len(B)) exact int64 squared distances between int64
    points with values in [0, 254]. The dot products run as a float64
    matrix product (numpy has no BLAS path for int64) and are cast
    back: every product and partial sum is an integer at most
    dim * 254**2, below 2**53 for any dim under 1.39e11, so float64
    holds each one exactly whatever the summation order."""
    dots = (A.astype(np.float64) @ B.T.astype(np.float64)).astype(np.int64)
    return (
        (A * A).sum(axis=1)[:, None]
        + (B * B).sum(axis=1)[None, :]
        - 2 * dots
    )


def _sub_dists(P: np.ndarray, CB: np.ndarray) -> list[np.ndarray]:
    """Per subspace j of the (m, k, sub) codebook CB, the (n, k)
    squared distances from P's j-th subvectors to CB[j]."""
    return [
        _sqdist(S, C) for S, C in zip(np.split(P, len(CB), axis=1), CB)
    ]


def _nearest(P: np.ndarray, CB: np.ndarray):
    """(codes, dists), both (n, m) int64: each point's nearest
    centroid in each subspace (first minimum, so ties go to the
    lowest cluster id) and its squared distance."""
    D = _sub_dists(P, CB)
    codes = np.stack([d.argmin(axis=1) for d in D], axis=1)
    rows = np.arange(len(P))
    dists = np.stack([d[rows, c] for d, c in zip(D, codes.T)], axis=1)
    return codes, dists


def _smallest(pts: DataFrame, n: int, id_col: str):
    """(ids, (n', dim) int64 matrix) of the n smallest-id points, in
    id order — a bounded driver collect; n' < n on a smaller table."""
    rows = pts.orderBy(id_col).limit(n).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    return ids, np.array([r["p"] for r in rows] or np.zeros((0, 0)),
                         dtype=np.int64)


def _partial_sums(CB: np.ndarray):
    """mapInArrow update kernel: assign in-batch, emit per-(subspace,
    cluster, local-dim) integer partial sums — at most k*dim rows per
    batch, so the downstream aggregate moves k*dim*partitions rows
    regardless of corpus size."""

    def go(batches):
        import pyarrow as pa

        m, k, sub = CB.shape
        for b in batches:
            if b.num_rows == 0:
                continue
            P = _points(b)
            codes, _ = _nearest(P, CB)
            out = []
            for j, S in enumerate(np.split(P, m, axis=1)):
                n = np.bincount(codes[:, j], minlength=k)
                sv = np.zeros((k, sub), dtype=np.int64)
                np.add.at(sv, codes[:, j], S)
                c = np.flatnonzero(n).astype(np.int32)
                out.append((
                    np.full(len(c) * sub, j, dtype=np.int32),
                    np.repeat(c, sub),
                    np.tile(np.arange(sub, dtype=np.int32), len(c)),
                    sv[c].reshape(-1),
                    np.repeat(n[c], sub),
                ))
            yield pa.record_batch(
                [pa.array(np.concatenate(x)) for x in zip(*out)],
                names=["m", "cluster", "d", "sv", "n"],
            )

    return go


def _lloyd(pts: DataFrame, k: int, iters: int, m: int, id_col: str):
    """Fixed-iteration integer Lloyd's over m subspaces at once.

    Returns the (m, k', dim/m) int64 codebook: init CB[j, c] = the
    c-th smallest-id point's j-th subvector (k' = min(k, rows)), then
    ``iters`` rounds of one corpus scan + the bounded partial-sum
    aggregate, each centroid its members' floor-mean and an empty
    cluster keeping its previous centroid. An empty table has no
    centroids (k' = 0), so every pass over it yields no rows.
    """
    _, init = _smallest(pts, k, id_col)
    n0, dim = init.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    CB = init.reshape(n0, m, dim // m).swapaxes(0, 1).copy()
    for _ in range(iters if n0 else 0):
        sums = (
            pts.mapInArrow(
                _partial_sums(CB), "m int, cluster int, d int, sv long, n long"
            )
            .groupBy("m", "cluster", "d")
            .agg(F.sum("sv").alias("sv"), F.sum("n").alias("n"))
            .collect()
        )
        for r in sums:
            CB[r["m"], r["cluster"], r["d"]] = r["sv"] // r["n"]
    return CB


def kmeans_q8(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration integer Lloyd's over shifted-q8 embeddings.

    Returns (id, cluster int, dist_q long): the assignment against
    the centroids after ``iters`` full update rounds, with the exact
    squared q8-space distance to the winning centroid. Deterministic
    end to end: smallest-k-ids init, first-min (lowest cluster id)
    tie-break, floor-mean updates, keep-previous empty-cluster rule.
    """
    pts = _shifted_points(emb, id_col, vec_col).localCheckpoint()
    C = _lloyd(pts, k, iters, 1, id_col)

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            codes, dists = _nearest(_points(b), C)
            yield pa.record_batch(
                [
                    b.column(id_col),
                    pa.array(codes[:, 0].astype(np.int32)),
                    pa.array(dists[:, 0]),
                ],
                names=[id_col, "cluster", "dist_q"],
            )

    return pts.mapInArrow(assign, f"{id_col} long, cluster int, dist_q long")


def emb_moments(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact second-moment (Gram) statistics of the q8 embedding
    space — the sufficient statistics of PCA / whitening (the
    covariance matrix is (s_prod - s_d1*s_d2/n)/n per pair): one
    corpus pass, dim*(dim+1)/2 output rows, never a vector collect.

    The standard preprocessing step before semantic indexing (OPQ/PCA
    rotation in FAISS-style ANN stacks, embedding whitening for
    near-dup thresholds): at 10^12 vectors the covariance accumulates
    exactly the same way the OLS moments do — per-batch int64 partial
    Gram matrices (P^T P, a dim x dim numpy matmul per Arrow batch),
    then a (d1, d2)-keyed aggregate with map-side partials: only
    dim*(dim+1)/2 * partitions partial rows ever shuffle. All inputs
    are int8-range ints, so every product and sum is exact int64
    (1e12 rows * 127^2 ~ 1.6e16 < 9.2e18) — order-independent,
    hash-exact vs the oracle's explode/self-join formulation.

    Output: (d1, d2, s_prod, s_d1, s_d2, n) for d1 <= d2 — each row
    carries the pair's first moments so any covariance/correlation
    entry is computable row-locally downstream.
    """
    q = quantize_embeddings(emb, vec_col=vec_col, id_col=id_col).select(
        F.transform("q8", lambda v: v.cast("long")).alias("p")
    )

    def partials(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            P = _points(b)
            dim = P.shape[1]
            gram = P.T @ P
            s1 = P.sum(axis=0)
            iu = np.triu_indices(dim)
            yield pa.record_batch(
                [
                    pa.array(iu[0].astype(np.int32)),
                    pa.array(iu[1].astype(np.int32)),
                    pa.array(gram[iu]),
                    pa.array(s1[iu[0]]),
                    pa.array(s1[iu[1]]),
                    pa.array(
                        np.full(len(iu[0]), P.shape[0], dtype=np.int64)
                    ),
                ],
                names=["d1", "d2", "sp", "sa", "sb", "nn"],
            )

    return (
        q.mapInArrow(
            partials, "d1 int, d2 int, sp long, sa long, sb long, nn long"
        )
        .groupBy("d1", "d2")
        .agg(
            F.sum("sp").alias("s_prod"),
            F.sum("sa").alias("s_d1"),
            F.sum("sb").alias("s_d2"),
            F.sum("nn").alias("n"),
        )
    )


def cluster_profile(assign: DataFrame) -> DataFrame:
    """Per-cluster size + exact distance moments (int64 sums) — the
    balance/compactness audit a cluster-capped sampler reads."""
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist_q").alias("sum_dist_q"),
        F.max("dist_q").alias("max_dist_q"),
    )
