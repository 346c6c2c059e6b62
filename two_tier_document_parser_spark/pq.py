"""Product quantization (PQ) over q8 embeddings — the compressed
ANN layout Jegou, Douze & Schmid 2011 ("Product Quantization for
Nearest Neighbor Search", IEEE TPAMI) introduced and FAISS made the
industry standard for web-scale vector search.

Role in this engine: ``knn_lsh``/``knn_ivf`` prune CANDIDATES;
``quantize_embeddings`` (similarity.py) shrinks payloads 4x but still
ships one byte per dimension. PQ is the missing third leg — the
vector itself is replaced by an m-byte CODE (here m=4 codes over
dim=64, a 64x payload reduction vs float32), and query-time distance
becomes m table lookups (ADC — asymmetric distance computation,
paper §III). At 10^12 vectors this is the difference between an
index that fits in cluster RAM and one that doesn't.

Spark shape (every stage's scale term is bounded or map-only):

- **Training** is clustering.py's integer Lloyd's (``_lloyd``) run
  with m subspaces: ALL m sub-codebooks train in ONE corpus pass per
  iteration. The mapInArrow update kernel emits per-(subspace,
  cluster, local-dim) integer partials — at most dim*k rows per batch
  — so the update aggregate moves dim*k*partitions rows no matter the
  corpus size, and driver state is the m*k*subdim codebook (bounded).
- **Encode + ADC score + top-k is a single map-only pass.** The
  codebooks AND the per-query lookup tables (n_queries * m * k ints,
  queries are a bounded driver-collected set) ride into the kernel
  as numpy constants; each partition streams its batches, gathers
  LUT entries by code, and keeps a per-query running top-k — then
  yields at most n_queries*topk rows per PARTITION. The global merge
  ranks partitions*n_queries*topk rows: exact by the monotone top-k
  merge property (the same argument ranking.py's block merge proves
  at volume). ZERO data-sized shuffles after the scan.
- **Exactness**: everything happens in the shifted-q8 space
  clustering.py defines ([0, 254] ints; see its docstring for the
  overflow budget — a subspace squared distance is <= 16*254^2 and
  an ADC sum <= dim*254^2, both tiny for int64). Training init,
  floor-mean updates, first-min (lowest-cluster-id) argmin and the
  (adist, vec_id) top-k tie-break are all deterministic, so the
  DuckDB oracle — which unrolls the whole training loop as chained
  CTEs exactly like the kmeans_q8 oracle, with a subspace column
  threaded through — is hash-exact, not approximate.

Reference parity: the reference repo has no vector index (it is an
extraction service); this module is part of the training-data
pipeline mandate (SURVEY §6 — similarity search at 100 TB: the
"IVF or LSH-bucketed variant as the scale path" family; PQ composes
with the existing knn_ivf coarse quantizer into IVF-PQ, and
pq_recall is the audit that says whether m/k are sized right).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .clustering import (
    _lloyd,
    _nearest,
    _points,
    _shifted_points,
    _smallest,
    _sqdist,
    _sub_dists,
)


def train_pq(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train m sub-codebooks of k centroids each with fixed-iteration
    integer Lloyd's over shifted-q8 subvectors.

    Returns (codebooks, pts): a numpy int64 array of shape
    (m, k, subdim) — fewer than k centroids per subspace on a smaller
    table, none on an empty one — and the cached shifted-point
    DataFrame (so callers encode the exact table that trained). This
    is clustering's ``_lloyd`` with m subspaces: one corpus scan per
    iteration, the dim*k-keyed partial aggregate as its only shuffle,
    the codebook itself as driver state. Raises ValueError when the
    packed code word (k**m values) would not fit a long.
    """
    if k**m > 2**63:
        raise ValueError(f"k**m = {k}**{m} codes do not fit a 64-bit code")
    pts = _shifted_points(emb, id_col, vec_col).localCheckpoint()
    return _lloyd(pts, k, iters, m, id_col), pts


def _pack(codes, k: int):
    """codes (n, m) int -> packed int64: sum_j codes[:, j] * k**j —
    the single-column code word the oracle reproduces with a tiny
    (m, k^m) power join."""
    pw = k ** np.arange(codes.shape[1], dtype=np.int64)
    return codes.astype(np.int64) @ pw


def pq_encode(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, pq_code) — each vector replaced by its packed m-code word.

    Train (bounded, see train_pq) then one map-only encode pass: the
    codebook rides into the kernel; argmin per subspace is clustering's
    exact int64 first-occurrence argmin (``_nearest``).
    """
    CB, pts = train_pq(emb, m, k, iters, id_col, vec_col)

    def encode(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            codes, _ = _nearest(_points(b), CB)
            yield pa.record_batch(
                [b.column(id_col), pa.array(_pack(codes, k))],
                names=[id_col, "pq_code"],
            )

    return pts.mapInArrow(encode, f"{id_col} long, pq_code long")


def _adc(CB, Q):
    """ADC distance (paper §III.B) from the query rows Q: lookup
    tables LUT_j[q, c] = ||Q_j[q] - CB[j, c]||^2 built once, then
    adist[q, row] = sum_j LUT_j[q, code_j(row)] per batch."""
    lut = _sub_dists(Q, CB)

    def dist(P):
        codes, _ = _nearest(P, CB)
        return sum(L[:, c] for L, c in zip(lut, codes.T))

    return dist


def _ranked_topk(
    pts: DataFrame, qids, dist, topk: int, id_col: str, name: str
) -> DataFrame:
    """(query_id, rank, id, <name>): per query, the topk rows of pts
    by (dist(P)[q, row], id), where dist maps a batch's (n, dim)
    points to (n_queries, n) int64 distances.

    One map-only kernel keeps a per-query running top-k per partition
    and yields at most n_queries*topk rows per PARTITION; the window
    rank then runs over that bounded union — exact by the monotone
    top-k merge property."""

    def go(batches):
        import pyarrow as pa

        best_d = [np.empty(0, dtype=np.int64)] * len(qids)
        best_i = list(best_d)
        for b in batches:
            if b.num_rows == 0:
                continue
            d = dist(_points(b))
            ids = b.column(id_col).to_numpy(zero_copy_only=False)
            for q in range(len(qids)):
                cd = np.concatenate([best_d[q], d[q]])
                ci = np.concatenate([best_i[q], ids])
                order = np.lexsort((ci, cd))[:topk]
                best_d[q], best_i[q] = cd[order], ci[order]
        empty = [np.empty(0, dtype=np.int64)]
        yield pa.record_batch(
            [
                pa.array(np.repeat(qids, [len(i) for i in best_i])),
                pa.array(np.concatenate(empty + best_i).astype(np.int64)),
                pa.array(np.concatenate(empty + best_d)),
            ],
            names=["query_id", id_col, name],
        )

    w = Window.partitionBy("query_id").orderBy(name, id_col)
    return (
        pts.mapInArrow(go, f"query_id long, {id_col} long, {name} long")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", id_col, name)
    )


def pq_topk(
    emb: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
    n_queries: int = 4, topk: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k (paper §III.B): (query_id, rank, vec_id, adist) —
    for each of the n_queries smallest-id vectors, the topk database
    vectors by asymmetric PQ distance, tie-broken (adist, vec_id).

    Encode, LUT-gather and per-partition partial top-k fuse into ONE
    map-only kernel (at most n_queries*topk rows emitted per
    partition); the final rank runs over that bounded union. The
    database side is the full table — a query's own row participates
    like any other (its ADC distance is its quantization residual,
    not an artificial 0, which is exactly the signal pq_recall
    audits).
    """
    CB, pts = train_pq(emb, m, k, iters, id_col, vec_col)
    qids, Q = _smallest(pts, n_queries, id_col)
    return _ranked_topk(pts, qids, _adc(CB, Q), topk, id_col, "adist")


def pq_recall(
    emb: DataFrame, m: int = 4, k: int = 16, iters: int = 2,
    n_queries: int = 4, topk: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Recall@topk audit: (query_id, hits, topk) — how many of each
    query's EXACT shifted-q8 top-k the ADC top-k recovered (paper
    §V's headline metric; the number that tells an operator whether
    m/k are sized right before committing a 10^12-vector index).

    The exact side is the same map-only partial-top-k kernel with the
    exact distance to the literal query vectors instead of LUTs (a
    labeled O(n_queries * n) audit scan — n_queries is bounded); both
    sides' bounded top-k unions then join per (query_id, vec_id).
    """
    CB, pts = train_pq(emb, m, k, iters, id_col, vec_col)
    qids, Q = _smallest(pts, n_queries, id_col)
    exact_top = _ranked_topk(
        pts, qids, lambda P: _sqdist(Q, P), topk, id_col, "dist"
    ).select("query_id", id_col)
    adc_top = _ranked_topk(
        pts, qids, _adc(CB, Q), topk, id_col, "adist"
    ).select("query_id", id_col)
    hits = exact_top.join(adc_top, ["query_id", id_col]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("hits"))
    # every query appears even at 0 hits
    qdf = exact_top.select("query_id").distinct()
    return qdf.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
        F.lit(int(topk)).cast("int").alias("topk"),
    )
