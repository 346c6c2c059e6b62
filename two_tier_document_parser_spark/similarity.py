"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exact baseline. Dot products via
  zip_with + aggregate in DOUBLE math (JVM-side, codegen). Ranking
  rounds similarity to 6 decimals and tie-breaks on vec_id so the
  ordering is reproducible bit-for-bit in the DuckDB oracle; only
  integer columns (query, candidate, rank) cross the invariant.
- LSH-bucketed ANN (sign random projection): deterministic
  pseudo-hyperplanes derived from xxhash64(plane, dim) — bucket join
  replaces the cross join. Spark-only (rows-only check) since the
  hyperplane hash is engine-specific.
- near-dup pairs: every operator (exact, LSH, q8, incremental,
  semantic dedup) decides its candidate pairs in the one `_verify`
  step, round(cosine, 6) >= threshold_x100 / 100 on float or int8
  payloads; every *_topk ranks in the one `_rank_topk` window.

Scale notes: brute force is O(Q*N) — fine for reranking, wrong as the
only path at 10^9 vectors. The LSH variant buckets both sides and
joins on the 16-bit signature, turning the cross join into a
hash-partitioned equi-join; recall is tunable via n_planes/n_tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 12


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with the norms `na`, `nb` hoisted out: the caller
    computes each vector's norm ONCE per row instead of once per pair
    side, so the per-pair HOF work drops from three array folds to
    one. Callers filter zero norms first (ANSI division by zero)."""
    return _dot(a, b) / (na * nb)


def _dot_q8(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8 vectors (long math —
    64 dims x 127^2 is far inside int64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _norm_q8(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine: (query, candidate, rank). Self-matches
    excluded. `queries` has columns (query:int64, qvec:array<float>)."""
    joined = queries.withColumn("qn", _norm(F.col("qvec"))).crossJoin(
        emb.select(
            F.col(id_col).alias("candidate"),
            F.col(vec_col).alias("cvec"),
            _norm(F.col(vec_col)).alias("cn"),
        )
    ).filter(F.col("query") != F.col("candidate"))
    return _rank_topk(joined, k)


def _rank_topk(joined: DataFrame, k: int) -> DataFrame:
    """The top-k rank every *_topk shares. `joined` holds (query, qvec,
    qn, candidate, cvec, cn), qn and cn the vectors' norms. Per query,
    the k candidates of highest round(cosine, 6), ties to the smaller
    candidate id -> (query, candidate, rank). A zero vector on either
    side has no cosine, so it never ranks."""
    qn, cn = F.col("qn"), F.col("cn")
    sim = _cosine_pre(F.col("qvec"), F.col("cvec"), qn, cn)
    w = Window.partitionBy("query").orderBy(
        F.desc("sim"), F.asc("candidate")
    )
    return (
        joined.filter((qn > 0.0) & (cn > 0.0))
        .select("query", "candidate", F.round(sim, 6).alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query", "candidate", "rank")
    )


def _splitmix64(x):
    """Deterministic 64-bit mix (splitmix64), vectorized uint64 numpy —
    the hyperplane seed function. No RNG state: h[t,p,d] depends only
    on the (table, plane, dim) indices, so every executor derives the
    identical model with zero broadcast."""
    import numpy as np

    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


import functools


@functools.lru_cache(maxsize=16)
def _hyperplanes(n_tables: int, n_planes: int, dim: int):
    """±1 hyperplane matrix of shape (n_tables*n_planes, dim).
    lru_cache: rebuilt once per (shape) per Python worker, not per
    Arrow batch."""
    import numpy as np

    t = np.arange(n_tables, dtype=np.uint64)[:, None, None]
    p = np.arange(n_planes, dtype=np.uint64)[None, :, None]
    d = np.arange(dim, dtype=np.uint64)[None, None, :]
    h = _splitmix64(t * np.uint64(1_000_003) + p * np.uint64(8191) + d)
    signs = ((h & np.uint64(1)).astype(np.float64) * 2.0 - 1.0)
    return signs.reshape(n_tables * n_planes, dim)


def srp_sig_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = N_PLANES,
    n_tables: int = 1,
) -> DataFrame:
    """(id, tbl, sig) rows: all tables' sign-random-projection
    signatures in ONE vectorized pandas-UDF pass (batch matrix multiply
    against the deterministic hyperplane matrix). Replaces the former
    JVM higher-order-function formulation, which nested
    tables x planes x dims lambda expressions and collapsed codegen
    (measured 46 s for 500x64 vectors vs ~1 s here — the same
    HOF-allocation hazard as PLANS.md lesson 1)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 0 < n_planes < 32:
        # the packed signature is an int32 bucket id; >=32 planes would
        # silently wrap and alias unrelated buckets together
        raise ValueError(f"n_planes must be in [1, 31], got {n_planes}")
    weights = np.power(2.0, np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    def _sigs_impl(vecs):
        if not len(vecs):
            return pd.Series([], dtype=object)
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        H = _hyperplanes(n_tables, n_planes, X.shape[1])
        bits = (X @ H.T > 0).astype(np.int64).reshape(
            len(vecs), n_tables, n_planes
        )
        s = (bits * weights).sum(axis=2).astype("int32")
        return pd.Series([row.tolist() for row in s])

    _sigs_impl.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    sigs = pandas_udf(_sigs_impl, "array<int>")

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(sigs(F.col(vec_col))).alias("tbl", "sig"),
    )


def _verify(
    cand: DataFrame | None,
    a: DataFrame,
    b: DataFrame,
    threshold_x100: int,
    vec_col: str,
    id_col: str,
    q8: bool,
) -> DataFrame:
    """The exact-cosine verify every near-dup operator shares -> (a, b).

    Each side is (id, payload, hoisted norm), built once per row from
    `a` and `b`; they join to the `cand` (a, b) pairs, or, with no
    candidates, cross-join under a < b. A pair stays when
    round(cosine, 6) >= threshold_x100 / 100. The payload is the float
    `vec_col` (the `_cosine_pre` fold), or with `q8` the sides'
    `q8` array<tinyint> (exact integer dot / float norms). Zero vectors
    are filtered out before the division, on either payload."""
    col, norm = ("q8", _norm_q8) if q8 else (vec_col, _norm)
    va, vb = (
        side.select(
            F.col(id_col).alias(k),
            F.col(col).alias(k + "v"),
            norm(F.col(col)).alias("n" + k),
        )
        for side, k in ((a, "a"), (b, "b"))
    )
    if cand is None:
        pairs = va.crossJoin(vb).filter(F.col("a") < F.col("b"))
    else:
        pairs = cand.join(va, "a").join(vb, "b")
    av, bv, na, nb = F.col("av"), F.col("bv"), F.col("na"), F.col("nb")
    pairs = pairs.filter((na > 0.0) & (nb > 0.0))
    if q8:
        sim = _dot_q8(av, bv).cast("double") / (na * nb)
    else:
        sim = _cosine_pre(av, bv, na, nb)
    return pairs.filter(
        F.round(sim, 6) >= F.lit(threshold_x100) / 100.0
    ).select("a", "b")


def near_dup_pairs(
    emb: DataFrame,
    threshold_x100: int = 44,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact: all (a < b) with
    round(cosine, 6) >= threshold. O(N^2) — the correctness baseline
    and the rerank kernel; at corpus scale generate candidates with
    `lsh_near_dup_pairs` instead. Only integer ids cross the oracle
    comparison; the rounded compare makes the threshold decision
    reproducible between Spark's left-to-right double fold and the
    oracle's unordered SUM."""
    return _verify(None, emb, emb, threshold_x100, vec_col, id_col, False)


def lsh_near_dup_pairs(
    emb: DataFrame,
    threshold_x100: int = 44,
    n_planes: int = 6,
    n_tables: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-dup pairs at scale: SRP-LSH candidate generation
    (multi-table OR-construction), exact cosine verify.

    Round-3 rewrite (round-2 verdict #1): candidates come from a
    groupBy(tbl, sig) + in-bucket pair expansion instead of a bucket
    SELF-JOIN. The self-join needed the signature pass on both sides,
    which forced either a persist (round-1 cache leak) or an eager
    localCheckpoint (round-2 wall-time regression) — Catalyst does not
    reuse the pandas-UDF exchange across the two join branches. The
    grouped form computes the signature UDF exactly ONCE, shuffles
    once on (tbl, sig), expands pairs JVM-side with indexed
    transform/slice, and pipelines straight into the verify join: no
    persist, no checkpoint, two exchanges total (group + distinct).

    `max_bucket` is the viral-bucket skew guard (same rationale as
    dedup.lsh_candidate_pairs): a degenerate signature that captures
    the whole corpus would expand O(n^2) pairs; buckets above the cap
    are dropped — at sane plane counts only near-constant vectors land
    there, and the multi-table OR-construction recovers the recall.
    The drop is NOT silent (round-3 advice / the repo's no-silent-caps
    convention): the returned DataFrame carries a `lsh_dropped`
    attribute — a LAZY one-row diagnostics DataFrame
    (dropped_buckets, dropped_ids) the caller can collect to alert
    when a capped bucket actually occurred (an Observation would be
    free, but Spark 4.1's Observation.get breaks when a distinct
    follows the observe node, so this recomputes the signature pass
    on demand instead). Pass max_bucket=None for the uncapped
    exact-recall behavior."""
    return _lsh_pairs(
        emb, threshold_x100, n_planes, n_tables, vec_col, id_col, max_bucket,
        None,
    )


def _lsh_pairs(
    emb: DataFrame,
    threshold_x100: int,
    n_planes: int,
    n_tables: int,
    vec_col: str,
    id_col: str,
    max_bucket: int | None,
    q8_table: DataFrame | None,
) -> DataFrame:
    """SRP-LSH near-dup pairs of `emb` (the grouped in-bucket expansion
    documented on lsh_near_dup_pairs): one signature pass, one
    (tbl, sig) shuffle, JVM-side pair expansion, distinct, then
    `_verify` on the float vectors, or on `q8_table`'s int8 payload
    when one is given. The result carries the lazy dropped-bucket
    diagnostics as `lsh_dropped`."""
    sigs = srp_sig_rows(emb, id_col, vec_col, n_planes, n_tables)
    grouped = (
        sigs.groupBy("tbl", "sig")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    dropped = None
    if max_bucket is not None:
        dropped = grouped.filter(F.size("ids") > max_bucket).agg(
            F.count(F.lit(1)).alias("dropped_buckets"),
            F.coalesce(F.sum(F.size("ids")), F.lit(0)).alias(
                "dropped_ids"
            ),
        )
        buckets = grouped.filter(F.size("ids") <= max_bucket)
    else:
        buckets = grouped
    cand = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.transform(
                            F.slice("ids", i + F.lit(2), F.size("ids")),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )
    side = emb if q8_table is None else q8_table
    out = _verify(
        cand, side, side, threshold_x100, vec_col, id_col, q8_table is not None
    )
    out.lsh_dropped = dropped
    return out


def semantic_dedup(
    emb: DataFrame,
    threshold_x100: int = 44,
    n_planes: int = 4,
    n_tables: int = 24,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = 2000,
    q8_table: DataFrame | None = None,
) -> DataFrame:
    """Semantic deduplication over an embedding column (SemDeDup,
    Abbas et al. 2023, arXiv:2303.09540): group semantically
    near-identical items and keep exactly ONE representative per
    group -> (id, rep_id, keep) where rep_id is the smallest id in
    the item's duplicate component and keep = 1 iff the item IS its
    component's representative (singletons keep themselves).

    The paper clusters with k-means and drops within-cluster pairs
    above a cosine threshold; here the cluster role is played by
    SRP-LSH buckets (multi-table OR-construction) so candidate
    generation is bucket-bounded — never all-pairs — and the verify
    step is the same exact-cosine rerank as `lsh_near_dup_pairs`.
    Pairs then collapse to duplicate GROUPS with large/small-star
    connected components (O(log^2 n) rounds), and the keep decision
    is a single left join back to the id set: three shuffle keys
    total ((tbl, sig), component ids, id), each data-sized, no
    driver-side state. At the default full-recall parameters
    (4 planes x 24 tables, measured 100% recall of >= 0.44 pairs on
    this corpus) the exact all-pairs SQL is a true oracle.

    `q8_table` (r04 verdict task #7, OFF by default): pass a
    pre-quantized (id, q8 array<tinyint>) table — the
    quantize_at_ingest "q8 at rest" layout — and the verify join
    ships int8 payloads instead of float arrays, attacking the
    measured single-box bandwidth wall directly. Same documented
    semantics shift as emb_near_dups_q8: the threshold decision
    happens in q8 cosine space (exact within quantization error of
    float), so the float default remains the oracle-exact path and
    the q8 variant is the explicitly-opted-in scale configuration
    (wall delta measured by jobs/soak_semantic.py --q8, recorded in
    BENCH/soak_semantic_q8.json).
    """
    from .dedup import connected_components_star

    pairs = _lsh_pairs(
        emb, threshold_x100, n_planes, n_tables, vec_col, id_col, max_bucket,
        q8_table,
    )
    comps = connected_components_star(pairs).withColumnRenamed(
        "doc_id", id_col
    )
    rep = F.coalesce(F.col("comp"), F.col(id_col))
    return (
        emb.select(id_col)
        .join(comps, id_col, "left")
        .select(
            F.col(id_col),
            rep.alias("rep_id"),
            (rep == F.col(id_col)).cast("int").alias("keep"),
        )
    )


TRAIN_SAMPLE_PER_CELL = 64
TRAIN_SAMPLE_MAX = 100_000


def _centroids(
    emb: DataFrame, n_cells: int, n_iter: int, vec_col: str, id_col: str
):
    """Deterministic IVF coarse quantizer, trained on a BOUNDED seeded
    sample — never a full-corpus pass (round-1 verdict fix: the
    previous version ran per-row Python RDD passes over the entire
    table once per Lloyd iteration, two full Python-rate scans at 10^9
    vectors to fit an n_cells x dim model).

    Sample = the min(64 * n_cells, 100k) vectors of smallest
    xxhash64(id): a deterministic pseudo-random sample with no RNG
    state (the same trick as the seed selection, and a TakeOrdered
    plan — no shuffle of vector payloads, only the top-K heap per
    partition crosses the wire). Lloyd then runs DRIVER-LOCAL on that
    numpy sample: standard production IVF practice (train on a
    sample, assign the corpus once with the broadcast model — the
    corpus-wide work stays in the vectorized cell-assign pandas UDF
    of `ivf_topk`)."""
    import numpy as np

    cap = min(TRAIN_SAMPLE_PER_CELL * n_cells, TRAIN_SAMPLE_MAX)
    sample_rows = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("h", F.xxhash64(F.col("id")))
        .orderBy("h", "id")
        .limit(cap)
        .collect()
    )
    # rows arrive hash-ordered: the first n_cells are exactly the old
    # seed set, keeping centroid init (and determinism) unchanged
    X = np.array([r["v"] for r in sample_rows], dtype=np.float64)
    cents = X[:n_cells].copy()
    for _ in range(n_iter):
        # (sample, cells) distance matrix: argmin assign + mean update
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            m = assign == c
            if m.any():
                cents[c] = X[m].mean(axis=0)
    return cents


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 3,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer (seeded init +
    fixed Lloyd iterations), candidates assigned to their nearest cell,
    queries probe the n_probe nearest cells, exact cosine rerank within
    the probed cells. The scale path when SRP buckets are too coarse:
    the expensive join is an equi-join on `cell` touching
    ~n_probe/n_cells of the data per query. Rows-only driver check
    (iterative centroid training has no ANSI-SQL form); recall vs
    brute force is pytest-gated."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = _centroids(emb, n_cells, n_iter, vec_col, id_col)
    bc = emb.sparkSession.sparkContext.broadcast(cents)

    def _cells_impl(vecs, n):
        import numpy as _np

        c = bc.value
        out = []
        for v in vecs:
            x = _np.asarray(v, dtype=_np.float64)
            d = ((c - x) ** 2).sum(axis=1)
            out.append(_np.argsort(d, kind="stable")[:n].astype("int32").tolist())
        return pd.Series(out)

    def _top1_impl(vecs):
        return _cells_impl(vecs, 1).map(lambda a: a[0])

    def _topp_impl(vecs):
        return _cells_impl(vecs, n_probe)

    _top1_impl.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    _topp_impl.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    top1 = pandas_udf(_top1_impl, "int")
    topp = pandas_udf(_topp_impl, "array<int>")

    cand = emb.select(
        F.col(id_col).alias("candidate"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"),
        top1(F.col(vec_col)).alias("cell"),
    )
    q = queries.select(
        "query", "qvec", _norm(F.col("qvec")).alias("qn"),
        F.explode(topp(F.col("qvec"))).alias("cell"),
    )
    joined = (
        q.join(cand, "cell")
        .filter(F.col("query") != F.col("candidate"))
        .dropDuplicates(["query", "candidate"])
    )
    return _rank_topk(joined, k)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: multi-table SRP-LSH (OR-construction — a candidate
    qualifies if it shares ANY table's bucket with the query), exact
    cosine rerank within the candidate set. At 10^9 vectors this
    replaces the O(Q*N) cross join with n_tables hash-partitioned
    equi-joins on (table, sig); recall tunes via n_planes/n_tables."""
    cand_sigs = srp_sig_rows(emb, id_col, vec_col, n_planes, n_tables)
    q_sigs = srp_sig_rows(queries, "query", "qvec", n_planes, n_tables)
    pair_ids = (
        q_sigs.select(F.col("id").alias("query"), "tbl", "sig")
        .join(
            cand_sigs.select(F.col("id").alias("candidate"), "tbl", "sig"),
            ["tbl", "sig"],
        )
        .filter(F.col("query") != F.col("candidate"))
        .select("query", "candidate")
        .distinct()
    )
    joined = pair_ids.join(
        queries.select("query", "qvec", _norm(F.col("qvec")).alias("qn")),
        "query",
    ).join(
        emb.select(
            F.col(id_col).alias("candidate"),
            F.col(vec_col).alias("cvec"),
            _norm(F.col(vec_col)).alias("cn"),
        ),
        "candidate",
    )
    return _rank_topk(joined, k)


def incremental_semantic_dedup(
    new: DataFrame,
    old: DataFrame,
    threshold_x100: int = 44,
    n_planes: int = 4,
    n_tables: int = 24,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 2000,
    old_q8_table: DataFrame | None = None,
) -> DataFrame:
    """Incremental cross-batch SEMANTIC dedup — the embedding-side
    twin of `dedup.dedup_incremental`: a new embedding batch is
    checked against the committed corpus WITHOUT ever re-pairing the
    committed corpus with itself (at 10^12 committed vectors that
    old x old join is the whole point of doing this incrementally).

    Both sides get SRP-LSH signatures (`srp_sig_rows`, one vectorized
    pass each); candidates come from the new x old signature
    equi-join ONLY, old-side viral buckets capped at `max_bucket`
    (near-constant embedding mass concentrates there; the multi-table
    OR-construction recovers the recall); the verify is the hoisted-
    norm exact cosine. Key spaces must be disjoint.

    Returns one row per NEW vector, mirroring dedup_incremental's
    contract: (id_col, status in {'dup','novel'}, matched_old =
    minimal matching old id or NULL).

    `old_q8_table` (r05): the committed corpus is exactly the side
    that should live "q8 at rest" (it is read by EVERY incremental
    batch — the quantize_at_ingest cost amortizes across all of
    them); when passed, the verify ships the old side's
    array<tinyint> payload from the table and quantizes only the
    (small) new batch inline, and the threshold decision moves to q8
    cosine space — the same documented semantics shift as
    emb_near_dups_q8. Float remains the oracle-exact default.
    """
    sig_new = srp_sig_rows(new, id_col, vec_col, n_planes, n_tables)
    sig_old = srp_sig_rows(old, id_col, vec_col, n_planes, n_tables)
    if max_bucket is not None:
        # bucket-size filter as ONE count-over-window, not a count
        # aggregate joined back: the join-back form runs the old-side
        # signature UDF twice (once per plan branch — Catalyst does
        # not reuse the pandas-UDF exchange), i.e. two Python passes
        # over the committed corpus; the window form is a single pass
        # whose (tbl, sig) exchange is the very partitioning the
        # candidate join needs next
        wb = Window.partitionBy("tbl", "sig")
        sig_old = (
            sig_old.withColumn("bn", F.count(F.lit(1)).over(wb))
            .filter(F.col("bn") <= max_bucket)
            .drop("bn")
        )
    cand = (
        sig_new.select("tbl", "sig", F.col("id").alias("a"))
        .join(
            sig_old.select("tbl", "sig", F.col("id").alias("b")),
            ["tbl", "sig"],
        )
        .select("a", "b")
        .distinct()
    )
    q8 = old_q8_table is not None
    a = quantize_embeddings(new, vec_col=vec_col, id_col=id_col) if q8 else new
    verified = _verify(
        cand, a, old_q8_table if q8 else old, threshold_x100, vec_col, id_col, q8
    )
    hits = verified.groupBy("a").agg(F.min("b").alias("matched_old"))
    return (
        new.select(F.col(id_col).alias("a"))
        .join(hits, "a", "left")
        .select(
            F.col("a").alias(id_col),
            F.when(F.col("matched_old").isNotNull(), "dup")
            .otherwise("novel")
            .alias("status"),
            F.col("matched_old"),
        )
    )


def semantic_rep_by_score(
    emb: DataFrame,
    score_col: str = "label",
    threshold_x100: int = 44,
    n_planes: int = 4,
    n_tables: int = 24,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = 2000,
    q8_table: DataFrame | None = None,
) -> DataFrame:
    """`semantic_dedup` with the production keep-policy: the
    representative of each duplicate component is its BEST-scoring
    member (max `score_col`, ties to the smallest id), not the
    smallest id. SemDeDup (Abbas et al. 2023 §3) keeps the item
    farthest from the cluster centroid; real pipelines keep the
    highest-quality member (longest, best classifier score, newest
    crawl) — the policy is one window over the component, so it
    swaps freely.

    Same candidate/verify/component machinery as semantic_dedup; the
    extra work is one row_number window partitioned by component —
    per-partition state bounded by the duplicate-cluster size, which
    `max_bucket` already bounds upstream. -> (id, rep_id, keep).

    `q8_table` (r05): same opt-in as semantic_dedup — a pre-quantized
    (id, q8 array<tinyint>) quantize_at_ingest table routes the
    verify join through int8 payloads (threshold decided in q8
    cosine space, same documented semantics shift as
    emb_near_dups_q8); float stays the oracle-exact default.
    """
    from .dedup import connected_components_star

    pairs = _lsh_pairs(
        emb, threshold_x100, n_planes, n_tables, vec_col, id_col, max_bucket,
        q8_table,
    )
    comps = connected_components_star(pairs).withColumnRenamed(
        "doc_id", id_col
    )
    labeled = (
        emb.select(id_col, score_col)
        .join(comps, id_col, "left")
        .withColumn("comp", F.coalesce(F.col("comp"), F.col(id_col)))
    )
    w = Window.partitionBy("comp").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    rep = (
        labeled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col(id_col).alias("rep_id"))
    )
    return labeled.join(rep, "comp").select(
        F.col(id_col),
        "rep_id",
        (F.col("rep_id") == F.col(id_col)).cast("int").alias("keep"),
    )


def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x_i|,
    q_i = round(127 * x_i / scale), stored as array<tinyint> —
    4x fewer payload bytes per vector than array<float> through
    every downstream shuffle and sort. All-zero vectors quantize to
    all-zero (guarded division).

    This is the standard scalar-quantization step ANN systems apply
    before distance evaluation (FAISS SQ8): cosine over q8 tracks
    float cosine within the quantization error, and the q8 dot
    product is EXACT integer arithmetic — order-independent, so the
    oracle comparison doesn't even need the rounded-compare crutch
    the float fold does.

    Motivated by the 4M-vector soak autopsy (PLANS.md "bandwidth
    wall"): the exact-cosine verify's sort/shuffle stages carry
    256-byte float vectors per row and saturate single-box memory
    bandwidth; quantizing the verify payload attacks exactly that
    term.
    """
    x = F.col(vec_col)
    scale = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    q8 = F.when(scale == 0.0, F.transform(x, lambda v: F.lit(0).cast("tinyint"))).otherwise(
        F.transform(
            x,
            lambda v: F.round(F.lit(127.0) * v.cast("double") / scale)
            .cast("tinyint"),
        )
    )
    return emb.select(F.col(id_col).alias(id_col), q8.alias("q8"))


def quantize_at_ingest(
    spark,
    emb: DataFrame,
    table_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Make "q8 at rest" a first-class table layout: quantize ONCE at
    ingest (the FAISS pattern — scalar-quantize at index build, not
    per query), snapshot-commit the (id, q8 array<tinyint>) table via
    the same staging-dir + manifest protocol as every other sink
    (table_io.ParquetManifestIO), and return the committed reader.

    This is the measured-fast configuration from BENCH/q8_verify.json:
    quantizing INLINE per query was a 1.8x loss (the per-row HOF
    passes outweigh the payload saving), while reading a pre-quantized
    table was 1.23x faster than the float path at 1M vectors — so the
    quantization cost must be paid zero times per query, i.e. here.
    Pass the returned table as lsh_near_dup_pairs_q8(q8_table=...).
    """
    from .table_io import ParquetManifestIO

    io = ParquetManifestIO(spark, table_path)
    io.replace(
        quantize_embeddings(emb, vec_col=vec_col, id_col=id_col),
        run_id="q8",
    )
    return io.read()


def near_dup_pairs_q8(
    emb: DataFrame,
    threshold_x100: int = 44,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """`near_dup_pairs` with the verify payload int8-quantized: all
    (a < b) with round(cosine_q8, 6) >= threshold, where cosine_q8
    is the cosine in quantized space (integer dot / float norms —
    the q8 threshold decision IS the operator's defined semantics,
    oracle-checked in the same q8 space; it tracks float cosine
    within quantization error but is not claimed equal). Zero
    vectors never pair (NaN-cosine guarded out explicitly on BOTH
    engines — DuckDB sorts NaN greater-than-everything, Spark's
    NaN >= x is false; the na > 0 filter keeps the engines off that
    divergence).

    Scale shape: identical join topology to near_dup_pairs, but each
    side ships 64 tinyints instead of 64 floats — the 4x payload
    reduction applies to the candidate join's shuffle whether
    candidates come from the cross join (here, the correctness
    baseline) or from lsh_near_dup_pairs buckets (the scale path).
    """
    q = quantize_embeddings(emb, vec_col=vec_col, id_col=id_col)
    return _verify(None, q, q, threshold_x100, vec_col, id_col, True)


def lsh_near_dup_pairs_q8(
    emb: DataFrame,
    threshold_x100: int = 44,
    n_planes: int = 6,
    n_tables: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int | None = 2000,
    q8_table: DataFrame | None = None,
) -> DataFrame:
    """`lsh_near_dup_pairs` with the VERIFY payload int8-quantized:
    candidates come from the identical SRP signature pass (signatures
    read the float vectors once, map-side — quantization cannot
    change which buckets collide), but the verify join ships
    array<tinyint> + one precomputed norm per side instead of
    array<float> — 4x fewer payload bytes through the join's two
    id-keyed exchanges and sorts, which is exactly the term the
    4M-vector soak autopsy blamed for the single-box bandwidth wall
    (PLANS.md). The threshold decision happens in q8 cosine space
    (exact integer dot / float norms), so pairs within quantization
    error of the threshold may differ from the float path —
    jobs/q8_verify_bench.py measures both the wall-clock delta and
    the planted-truth recall at 1M vectors.

    MEASURED LESSON (BENCH/q8_verify.json): quantizing INLINE per
    run is a net loss — at 1M vectors the extra per-row HOF passes
    (scale + transform + cast) cost ~2x more than the smaller
    payload saves, so pass `q8_table` (a pre-quantized
    (id, q8 array<tinyint>) table, written once at ingest the way
    FAISS quantizes at index build) to pay the quantization cost
    zero times per query instead of once per side per run."""
    if q8_table is None:
        q8_table = quantize_embeddings(emb, vec_col=vec_col, id_col=id_col)
    return _lsh_pairs(
        emb, threshold_x100, n_planes, n_tables, vec_col, id_col, max_bucket,
        q8_table,
    )
