"""Graph analytics over document-similarity graphs: fixed-iteration
PageRank and triangle counting.

The near-dup pair graph (dedup.jaccard_pairs over LSH candidates) is
the curation pipeline's natural graph: PageRank surfaces the most
central duplicates (keep-the-canonical policies), triangle density
measures cluster cohesion (a 3-clique of near-dups is a much stronger
dup signal than a lone edge). Both are classic iterative/multi-join
Spark shapes the reference engine has no analogue for — engine
breadth beyond the extraction cascade.

Integer-exact throughout (SURVEY §7.7.4): ranks are carried as
exact int64 micro-masses (initial mass RANK_SCALE per vertex) and
every redistribution is integer division, so the result is
bit-identical across engines — no float summation order anywhere.

Scale shape (10^12 edges): each PageRank iteration is ONE shuffle
(contributions aggregated on dst); the edge list is localCheckpoint'd
once so the LSH candidate derivation never re-runs per iteration
(same pattern as dedup.connected_components_star). Triangle counting
is the standard oriented-edge plan: orient a<b, self-join on the
middle vertex, then probe — each a shuffle-hash join on a pruned edge
list, never an all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "triangle_count",
    "label_propagation",
    "kcore",
    "hits",
    "RANK_SCALE",
]

RANK_SCALE = 10**12  # per-vertex initial integer mass


def _symmetric(edges: DataFrame) -> DataFrame:
    """Undirected (a, b) pairs -> distinct directed src->dst both ways,
    self-loops dropped."""
    e = edges.select(
        F.col("a").cast("long").alias("src"), F.col("b").cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    return (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


def pagerank(
    edges: DataFrame, iters: int = 3, damping_pct: int = 85
) -> DataFrame:
    """Fixed-iteration integer PageRank on the undirected graph given
    by (a, b) pairs.

    r_0(v) = RANK_SCALE;
    r_{i+1}(v) = ((100 - d) * RANK_SCALE) DIV 100
               + (d * sum_{u->v} (r_i(u) DIV deg(u))) DIV 100.

    Every vertex in the edge list has deg >= 1 (symmetrized), so there
    are no dangling vertices; isolated docs are out of scope (rank is
    only meaningful relative to the dup graph). Columns: doc_id,
    rank_e12 (micro-mass, RANK_SCALE-scaled).
    """
    sym = _symmetric(edges)
    # the edge list is reused `iters` times: pin it so the upstream
    # LSH/jaccard derivation runs exactly once
    sym = sym.localCheckpoint(eager=True)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select("src", F.lit(RANK_SCALE).cast("long").alias("rank"))
    base = (100 - damping_pct) * RANK_SCALE // 100

    for _ in range(iters):
        contrib = (
            sym.join(ranks.join(deg, "src"), "src")
            .select("dst", F.expr("rank DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))  # ONE shuffle per iteration
        )
        ranks = contrib.select(
            F.col("dst").alias("src"),
            (
                F.lit(base).cast("long")
                + F.expr(f"{damping_pct} * s DIV 100")
            ).alias("rank"),
        )

    return ranks.select(
        F.col("src").alias("doc_id"), F.col("rank").cast("long").alias("rank_e12")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts on the undirected (a, b) graph.

    Oriented-edge algorithm: keep each edge once as (lo, hi) with
    lo < hi, join oriented edges on the shared low vertex to form
    wedges (u < v, u < w, v < w enforced), then probe the oriented
    edge set for the closing (v, w) edge. Each triangle {u, v, w} is
    found exactly once; every corner is credited. Columns: doc_id,
    n_triangles.
    """
    sym = _symmetric(edges)
    lo = sym.filter(F.col("src") < F.col("dst"))  # each edge once
    wedges = (
        lo.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(lo.select(F.col("src").alias("u"), F.col("dst").alias("w")), "u")
        .filter(F.col("v") < F.col("w"))
    )
    tris = wedges.join(
        lo.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
    )
    corners = (
        tris.select(F.col("u").alias("doc_id"))
        .unionAll(tris.select(F.col("v").alias("doc_id")))
        .unionAll(tris.select(F.col("w").alias("doc_id")))
    )
    return corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) on the
    undirected (a, b) graph: every vertex starts labeled with its own
    id; each iteration it adopts the MOST FREQUENT label over its
    CLOSED neighborhood (its neighbors' labels plus one vote for its
    own current label), ties broken by the smallest label — fully
    deterministic, so the fixed-iteration result is oracle-exact
    (classic LPA randomizes tie-breaks; the deterministic variant
    trades some community quality for reproducibility, documented).
    The closed-neighborhood vote keeps pairs and stars stable: a lone
    edge {1, 2} converges to community 1 instead of oscillating
    1<->2 forever under the open-neighborhood rule (the r04 ADVICE
    finding — open voting split every connected pair into two
    singleton communities downstream).

    Communities differ from connected components: a long chain is one
    component but fragments under LPA; dense near-dup cliques
    converge to one label in one step — the denser-cluster signal a
    curation keep-policy wants.

    Scale shape: per iteration, one join (neighbor labels — vertex-
    sized state against the checkpointed edge list) and one
    (dst, label) aggregate whose partials collapse map-side, then the
    per-vertex argmax window (bounded by the vertex's distinct
    neighbor labels). Columns: doc_id, community.
    """
    from pyspark.sql import Window

    sym = _symmetric(edges).localCheckpoint(eager=True)
    labels = sym.select("src").distinct().select(
        "src", F.col("src").alias("label")
    )
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(iters):
        votes = (
            sym.join(labels, "src")
            .select("dst", "label")
            # closed neighborhood: the vertex's own current label gets
            # exactly one vote, so pairs/bipartite shapes stabilize
            .unionByName(labels.select(F.col("src").alias("dst"), "label"))
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("src"), "label")
        )
    return labels.select(
        F.col("src").alias("doc_id"), F.col("label").cast("long").alias("community")
    )


def kcore(edges: DataFrame, k: int = 2, iters: int = 4) -> DataFrame:
    """Fixed-iteration k-core peeling on the undirected (a, b) graph:
    each round drops every vertex whose CURRENT degree is below k and
    every edge touching one, the distributed form of the classic
    degeneracy peel (Seidman 1983; Batagelj-Zaversnik). On the
    near-dup graph the 2-core is the "clustered duplicates" set —
    vertices held by at least two surviving neighbors — a much
    stronger dup signal than lone LSH edges, and the standard spam /
    link-farm detector on web graphs.

    `iters` bounds the rounds for oracle parity (the DuckDB check
    unrolls the identical peel, bpe_train/pagerank style); peeling
    only ever REMOVES, so the fixed-round result is a superset of
    the true k-core that a fixpoint caller reaches by iterating a
    checkpointed loop until the survivor count stabilizes (each
    round is monotone, so no oscillation exists to guard against).

    Scale shape (10^12 edges): per round ONE degree aggregate with
    map-side partials plus two shuffle-hash LEFT SEMI joins of the
    shrinking edge list against the vertex-sized survivor set —
    never a product; the symmetric edge list is localCheckpoint'd
    once so the upstream LSH derivation never re-runs per round.
    Columns: doc_id, deg (the vertex's degree inside the surviving
    subgraph after `iters` rounds).
    """
    e = _symmetric(edges).localCheckpoint(eager=True)
    for _ in range(iters):
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        e = e.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )
    return (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select(F.col("src").alias("doc_id"), "deg")
    )


def hits(
    edges: DataFrame, iters: int = 2, as_bigint: bool = True
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) hub/authority scores on
    the DIRECTED graph given by (a, b) pairs (a -> b, self-loops
    dropped, duplicate edges collapsed). Over the near-dup graph the
    deterministic orientation is a -> b with a < b (how
    `dedup.lsh_candidate_pairs` emits pairs): authorities are
    later-crawled documents many earlier ones point at (re-crawls,
    mirrors of an original), hubs are early documents whose text
    re-appears across many later high-authority pages — both
    keep-policy signals PageRank's undirected centrality blurs
    together.

    Integer-exact, UNNORMALIZED power iteration (SURVEY §7.7.4): all
    hubs start at 1; auth_{t} = sum of in-neighbor hubs_{t-1},
    hub_{t} = sum of out-neighbor auth_{t}. Per-step normalization is
    the textbook presentation's cosmetic rescale — the RANKING is
    scale-invariant, and skipping it keeps every value an exact
    integer with no float summation order. Magnitudes grow like
    degree^(2*iters), so sums accumulate in DECIMAL(38,0) (the
    pmi_bigrams overflow lesson): max-degree 1e6 at iters=2 is 1e24,
    far inside DECIMAL range, far outside int64. The emitted columns
    cast back to BIGINT, exact while max_indegree^(2*iters) * n stays
    under 2^63 — always true for the bucket-capped near-dup graph
    this query family runs on (degree <= max_bucket = 50; 50^4 * n
    needs n > 1.4e12 vertices IN ONE DUP CLUSTER to overflow); pass
    as_bigint=False on unbounded-degree raw web graphs to keep the
    raw DECIMAL(38,0) (Spark 4 ANSI aborts loudly on a narrowing
    cast rather than corrupting).

    Scale shape: exactly 2*iters shuffles — each half-step is ONE
    key-hashed aggregate of (edge join current-score) on the opposite
    endpoint; the edge list is localCheckpoint'd once so the upstream
    LSH derivation never re-runs per iteration (pagerank's pattern).
    Vertices with no in-edges (pure hubs) keep auth = 0 via the
    left join back onto the vertex set; likewise pure authorities
    keep hub = 0.

    Columns: doc_id, hub, auth.
    """
    e = (
        edges.select(
            F.col("a").cast("long").alias("src"),
            F.col("b").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
    )
    hub = verts.select("v", F.lit(1).cast("decimal(38,0)").alias("s"))
    auth = None
    for _ in range(iters):
        auth = (
            e.join(hub.withColumnRenamed("v", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
            .withColumnRenamed("dst", "v")
        )
        hub = (
            e.join(auth.withColumnRenamed("v", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("s").cast("decimal(38,0)").alias("s"))
            .withColumnRenamed("src", "v")
        )
    zero = F.lit(0).cast("decimal(38,0)")
    out = (
        verts.join(hub.withColumnRenamed("s", "hub"), "v", "left")
        .join(auth.withColumnRenamed("s", "auth"), "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.coalesce(F.col("hub"), zero).alias("hub"),
            F.coalesce(F.col("auth"), zero).alias("auth"),
        )
    )
    if as_bigint:
        out = out.select(
            "doc_id",
            F.col("hub").cast("long").alias("hub"),
            F.col("auth").cast("long").alias("auth"),
        )
    return out
