"""Corpus curation: the end-to-end keep/drop decision a training-data
pipeline runs over its document table, composed from the engine's own
operators — exact dedup, MinHash-LSH near-dup clustering, quality
scoring, language filtering — with one auditable reason per dropped
document.

Decision chain (first matching reason wins, mirroring how production
curation pipelines report drop attribution):

    exact_dup    not the minimal doc_id of its content fingerprint
    near_dup     in a near-duplicate cluster (token-Jaccard >=
                 threshold over LSH candidates) and not the cluster
                 keeper (minimal doc_id = connected-component label)
    low_quality  fewer than `min_tokens` tokens, or stopword ratio
                 below `min_stop_permille`/1000 (jusText-style gate)
    lang_filter  guessed language outside `allowed_langs`
    ''           kept

Scale notes (100 TB): every stage is one of the already-bucketed
operators — fingerprint groupBy (one shuffle), LSH banded self-join
(signatures only, skew-capped buckets), min-label propagation with
per-round localCheckpoint, token aggregates that reuse one exploded
token stream. Nothing here introduces a new shuffle shape; integer
thresholds keep the whole decision float-free and oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    connected_components_star,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_bands,
)
from .spec import STOPWORDS
from .textstats import fingerprint, lang_guess

_STOP_ALL = sorted({w for ws in STOPWORDS.values() for w in ws})

DEFAULT_ALLOWED = ("de", "en", "es", "fr")


def curate(
    docs: DataFrame,
    near_threshold_x1000: int = 500,
    min_tokens: int = 10,
    min_stop_permille: int = 80,
    allowed_langs: tuple[str, ...] = DEFAULT_ALLOWED,
) -> DataFrame:
    """documents -> (doc_id, keep boolean, reason string)."""
    d = docs.select("doc_id", "text")

    # exact duplicates: every non-minimal doc_id per fingerprint
    w = Window.partitionBy("fp").orderBy("doc_id")
    exact = (
        d.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .select("doc_id", (F.col("rn") > 1).alias("is_exact_dup"))
    )

    # near-duplicate clusters over LSH candidates; keeper = component
    # label (minimal reachable doc_id)
    near_pairs = jaccard_pairs(d, lsh_candidate_pairs(minhash_bands(d))).filter(
        F.col("jaccard_x1000") >= near_threshold_x1000
    )
    # star contraction, not min-label propagation: the 5M-doc soak's
    # near-dup graph drove min-label through ~100 iterations (~20% of
    # the whole end-to-end wall); large/small-star converges in
    # O(log^2 n) rounds on any graph and the two are output-identical
    # (equivalence pytest-enforced on random + near-dup graphs)
    comp = connected_components_star(near_pairs.select("a", "b"))
    near = comp.filter(F.col("doc_id") != F.col("comp")).select(
        "doc_id", F.lit(True).alias("is_near_dup")
    )

    # quality + language over one exploded token stream
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("t"),
    ).filter(F.col("t") != "")
    stats = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("t").isin(_STOP_ALL), 1).otherwise(0)).alias(
            "n_stop"
        ),
    )
    guessed = lang_guess(F.col("text")).alias("guessed")

    joined = (
        d.select("doc_id", guessed)
        .join(exact, "doc_id")
        .join(near, "doc_id", "left")
        .join(stats, "doc_id", "left")
    )
    low_quality = (
        F.coalesce(F.col("n_tokens"), F.lit(0)) < min_tokens
    ) | (
        F.coalesce(F.col("n_stop"), F.lit(0)) * 1000
        < F.lit(min_stop_permille) * F.coalesce(F.col("n_tokens"), F.lit(0))
    )
    reason = (
        F.when(F.col("is_exact_dup"), "exact_dup")
        .when(F.coalesce(F.col("is_near_dup"), F.lit(False)), "near_dup")
        .when(low_quality, "low_quality")
        .when(~F.col("guessed").isin(list(allowed_langs)), "lang_filter")
        .otherwise("")
    )
    return joined.select(
        "doc_id", reason.alias("reason"), (reason == "").alias("keep")
    )


def chunk_documents(
    docs: DataFrame, size: int = 50, overlap: int = 10
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    of a training pipeline: each document's whitespace tokens split
    into chunks of `size` tokens with `overlap` tokens shared between
    consecutive chunks (stride = size - overlap).

    Token p belongs to chunks k in [ceil((p-size+1)/stride), p//stride]
    (clamped at 0), generated with `sequence` + explode — each token
    fans out to at most ceil(size/stride) chunks, a constant — then
    one groupBy(doc_id, chunk_id) with `sort_array` over (pos, token)
    structs rebuilds deterministic chunk text (collect_list order is
    not deterministic; the sort makes it so).

    Scale: one explode (bounded constant fan-out) + one shuffle on
    (doc_id, chunk_id) with map-side partial aggregation; no windows,
    no skew beyond document length, which the span caps bound
    (spec.T1_MAX_SPANS / T2_MAX_SPANS).

    Returns (doc_id, chunk_id, n_tokens, chunk_text).
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")
    lo = F.greatest(
        F.lit(0), F.ceil((F.col("pos") - F.lit(size - 1)) / F.lit(stride))
    )
    hi = F.floor(F.col("pos") / F.lit(stride))
    fanned = tok.select(
        "doc_id",
        "pos",
        "token",
        F.explode(F.sequence(lo.cast("int"), hi.cast("int"))).alias(
            "chunk_id"
        ),
    )
    return (
        fanned.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "token"))
                    ),
                    lambda s: s["token"],
                ),
            ).alias("chunk_text"),
        )
        .select("doc_id", "chunk_id", "n_tokens", "chunk_text")
    )


def pack_sequences(
    docs: DataFrame, budget: int = 256, shard_size: int = 100
) -> DataFrame:
    """Deterministic contiguous sequence packing — the token-budget
    binning step before training: documents in doc_id order are laid
    end-to-end and cut into bins of `budget` tokens; a document's bin
    is the bin its FIRST token lands in (documents are atomic).

    Scale: a single global running sum would send every row through
    one window partition — a driver-shaped bottleneck at 10^12 docs.
    Instead packing is SHARDED: contiguous doc_id ranges of
    `shard_size` documents pack independently (shard = doc_id //
    shard_size), so the cumsum window partitions by shard and
    parallelizes; bins never span shards, which is what a distributed
    packer does in practice (pack within a worker's slice).

    Returns (doc_id, n_tokens, shard, bin_id, offset_in_bin).
    """
    counted = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.col("text"), r"\s+"), lambda t: t != ""
            )
        )
        .cast("long")
        .alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(shard_size)).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start")
    return counted.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.floor(start / F.lit(budget)).alias("bin_id"),
        (start % F.lit(budget)).alias("offset_in_bin"),
    )


def ngram_boilerplate(
    docs: DataFrame, n: int = 5, min_docs: int = 2, max_frac_x100: int = 30
) -> DataFrame:
    """Corpus-level repeated-span detection (the C4/RefinedWeb
    "remove spans repeated across documents" rule, at token
    granularity since this corpus has no line structure): an n-gram
    shingle is boilerplate when it occurs in >= `min_docs` DISTINCT
    documents; a document is dropped when more than `max_frac_x100`%
    of its shingles are boilerplate.

    Shape at 100 TB: ONE pass over the corpus — shuffle on doc_id
    (the lead() window), partial-aggregated shuffle to (doc_id,
    shingle) pairs, a count window over shingle (each partition holds
    one row per DISTINCT document containing it — that count IS the
    document frequency, no self-join and no second scan; a first cut
    that joined the shingle stream against the repeated subset
    re-scanned and re-exploded the whole corpus, visible as a
    duplicated Scan+Generate+Window branch in `.explain`), then the
    per-doc rollup. Integer outputs keep the oracle exact."""
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("token")] + [
        F.lead("token", i).over(w) for i in range(1, n)
    ]
    sh = toks.select(
        "doc_id",
        "pos",
        F.concat_ws(" ", *parts).alias("sh"),
        F.lead("token", n - 1).over(w).alias("_last"),
    ).filter(F.col("_last").isNotNull())
    pairs = sh.groupBy("doc_id", "sh").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    wsh = Window.partitionBy("sh")
    per_doc = (
        pairs.withColumn("_df_docs", F.count(F.lit(1)).over(wsh))
        .groupBy("doc_id")
        .agg(
            F.sum("_cnt").alias("n_shingles"),
            F.sum(
                F.when(F.col("_df_docs") >= min_docs, F.col("_cnt")).otherwise(0)
            ).alias("n_repeated"),
        )
    )
    frac = F.floor(F.col("n_repeated") * 100 / F.col("n_shingles")).cast("long")
    return per_doc.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_repeated").cast("long").alias("n_repeated"),
        frac.alias("rep_frac_x100"),
        (frac <= max_frac_x100).alias("keep"),
    )


def _token_shingles(docs: DataFrame, n: int) -> DataFrame:
    """Whitespace-token n-gram shingles per document: (doc_id, pos,
    sh) where `sh` is the space-joined n-token run starting at `pos`.
    One lead() window per extra token — a single shuffle on doc_id,
    then map-only. Runs shorter than n tokens yield no rows."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("token")] + [F.lead("token", i).over(w) for i in range(1, n)]
    return (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *parts).alias("sh"),
            F.lead("token", n - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def decontaminate(
    docs: DataFrame, n: int = 5, eval_hex: str = "10", salt: str = ":eval:42"
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose token
    n-grams overlap a held-out evaluation set (the GPT-3 appendix-C /
    The-Pile 13-gram rule, with n scaled to this corpus's short
    documents). The eval set is a deterministic md5 hash-sample of the
    corpus (hex-prefix < `eval_hex`, ~6%), so membership is a pure
    row predicate — stable across retries and partitionings. Output:
    one row per training document that has >= 1 shingle, with its
    shingle count, eval-overlap count, and a `clean` verdict.

    Shape at 100 TB: the eval shingle set is tiny (hash-sampled
    corpus slice, DISTINCT'd) and BROADCASTS; the training corpus is
    shingled in ONE pass (lead window = the only data-sized shuffle,
    on doc_id) and probed map-side against the broadcast — never a
    corpus self-join. The final per-doc rollup reuses the window's
    doc_id partitioning, so no second data-sized exchange. Real eval
    suites are even smaller than 6% — the broadcast only shrinks."""
    is_eval = (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 2
        )
        < eval_hex
    )
    sh = _token_shingles(docs, n).withColumn("_is_eval", is_eval)
    eval_sh = (
        sh.filter(F.col("_is_eval"))
        .select("sh")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = sh.filter(~F.col("_is_eval"))
    return (
        train.join(F.broadcast(eval_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        .withColumn("clean", F.col("n_hits") == 0)
    )


def domain_cap(docs: DataFrame, cap: int = 20) -> DataFrame:
    """Per-domain frequency cap (the Common-Crawl-style curation rule
    "keep at most `cap` documents per domain"): within each `source`,
    keep the `cap` largest documents by (n_chars DESC, doc_id ASC) —
    a deterministic total order — and emit the kept rows with their
    rank. Dropped rows are simply absent (the keep-list IS the
    output, as a curation step consumes it).

    Shape at 100 TB: a naive rank window over a viral domain funnels
    that domain's every row through one partition — but Catalyst's
    rank-limit pushdown (Spark 3.5+) inserts a map-side
    `WindowGroupLimit(Partial)` BEFORE the exchange (verified in
    `.explain("formatted")`), so each map partition forwards at most
    `cap` rows per source and the reducer sees <= cap * n_map_tasks
    rows for even the hottest domain. A hand-salted two-phase top-K
    was measured to produce the identical bound with one extra
    exchange — the declarative form wins; don't hand-schedule it."""
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
    )


def source_mixture_weights(
    docs: DataFrame, temperature_x100: int = 50
) -> DataFrame:
    """Temperature-scaled sampling weights for a multi-source
    training mixture: p_i ∝ n_i^α with α = temperature_x100 / 100
    (the exponentiated-count reweighting used for multilingual /
    multi-corpus mixes, e.g. XLM-R eq. 1, arXiv:1911.02116; α < 1
    upsamples small sources, α = 1 is proportional). Emits one row
    per source: (source, n_docs, weight_micro, share_ppm) where
    weight_micro = round(n_docs^α * 1e6) and share_ppm is the
    normalized mixture share in parts-per-million.

    Determinism across engines: the only floating-point step is one
    correctly-rounded IEEE `pow` per source, immediately quantized
    to an integer micro-weight; normalization then divides two
    integers, so Spark and the SQL oracle agree bit-for-bit (the
    repo's integer-scaled-output convention). Shape at scale: the
    groupBy partially aggregates map-side and the output is
    O(#sources) — a handful of rows — so the 1-row total fold and
    broadcast join-back cost nothing regardless of corpus size."""
    alpha = temperature_x100 / 100.0
    w = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "weight_micro",
            F.round(F.pow(F.col("n_docs"), F.lit(alpha)) * 1e6).cast(
                "long"
            ),
        )
    )
    total = w.agg(F.sum("weight_micro").alias("_tot"))
    return w.crossJoin(F.broadcast(total)).select(
        "source",
        "n_docs",
        "weight_micro",
        F.round(F.lit(1e6) * F.col("weight_micro") / F.col("_tot"))
        .cast("long")
        .alias("share_ppm"),
    )


def range_rank(df: DataFrame, sort_cols: list, rank_name: str, partitions: int = 32) -> DataFrame:
    """Exact 1-based global rank by `sort_cols` WITHOUT a
    single-partition window — THE shared two-phase range-rank
    machinery (the classic TeraSort shape) behind shuffle_rank,
    regress.zipf_fit, and (in its per-group form) textstats.
    ccnet_bucket:

    1. `repartitionByRange` on the sort key (a sampling range
       exchange, the ONLY data-sized shuffle), sortWithinPartitions,
       localCheckpoint to pin partition contents across the passes.
    2. A P-row per-partition count aggregate (bounded driver
       collect) -> cumulative offsets; a narrow mapInArrow pass adds
       offset + running position. No window, no hash exchange on a
       partition id, no `Exchange SinglePartition` anywhere — the
       plan a naive row_number() OVER (ORDER BY ...) produces and
       the one thing that cannot survive 10^12 rows.

    Returns df's columns plus `rank_name` (long). Ties are broken by
    the sort key itself — pass a total order for determinism.
    """
    part = (
        df.repartitionByRange(partitions, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_rr_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_rr_pid"]: r["cnt"]
        for r in part.groupBy("_rr_pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_names = [c for c in part.columns if c != "_rr_pid"]
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in part.schema.fields
        if f.name != "_rr_pid"
    ) + f", `{rank_name}` long"

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        pos = None
        for b in batches:
            if b.num_rows == 0:
                continue
            if pos is None:
                pos = offsets.get(b.column("_rr_pid")[0].as_py(), 0)
            rank = pa.array(
                np.arange(pos + 1, pos + 1 + b.num_rows, dtype=np.int64)
            )
            pos += b.num_rows
            yield pa.record_batch(
                [b.column(n) for n in out_names] + [rank],
                names=out_names + [rank_name],
            )

    return part.mapInArrow(assign, schema)


def shuffle_rank(
    docs: DataFrame, seed: str = "42", partitions: int = 32
) -> DataFrame:
    """Deterministic global corpus shuffle with a total training-order
    rank — the "shuffle the corpus once, stream it in that order"
    step before training. Each document's shuffle key is
    md5(doc_id|seed); the output assigns train_order = the 1-based
    global rank by (shuffle_key, doc_id), identical to
    row_number() OVER (ORDER BY shuffle_key, doc_id) but computed
    WITHOUT a single-partition exchange.

    Two-phase distributed ranking (the classic TeraSort-style shape):

    1. `repartitionByRange` on (shuffle_key, doc_id) — a sampling
       range exchange, the ONLY data-sized shuffle — then
       sortWithinPartitions, then localCheckpoint to pin partition
       contents across the two passes.
    2. A P-row per-partition count aggregate (bounded driver
       collect: one row per partition) turns into cumulative
       offsets; a narrow mapInArrow pass adds offset + running
       position per partition. No window, no hash exchange on a
       partition id, no `Exchange SinglePartition` anywhere — the
       plan a naive `row_number() OVER (ORDER BY ...)` produces and
       the one thing that cannot survive 10^12 rows.

    Returns (doc_id, shuffle_key, train_order).
    """
    key = F.md5(
        F.concat_ws("|", F.col("doc_id").cast("string"), F.lit(seed))
    )
    return range_rank(
        docs.select(F.col("doc_id"), key.alias("shuffle_key")),
        ["shuffle_key", "doc_id"],
        "train_order",
        partitions,
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 50,
    weight_col: str = "n_chars",
    seed: str = "42",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis exponential race): each document draws
    u = hash-uniform(doc_id|seed) and a priority -ln(u)/w; the k
    smallest priorities win, so selection probability scales with
    weight — the "sample the corpus biased toward long/high-quality
    documents" curation step, but retry-stable and partitioning-
    independent because the randomness is md5, never rand(seed).

    Scale shape: the global row_number-≤-k rank is rank-limit-pushed
    (each map partition forwards at most k rows before the final
    bounded merge — never a data-sized single-partition sort). The
    uniform comes from the first 8 md5 hex digits (+0.5 to dodge
    ln(0)); division/comparison are IEEE-exact cross-engine, ln is
    libm-1ulp — far below the score gaps between distinct docs.

    Returns (doc_id, <weight_col>, score, rk), rk = 1..k by priority.
    """
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("doc_id").cast("string"), F.lit(seed)
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    scored = docs.select(
        "doc_id", weight_col, (-F.log(u) / w).alias("score")
    )
    rk = F.row_number().over(Window.orderBy("score", "doc_id"))
    return (
        scored.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= k)
        .select(
            "doc_id",
            weight_col,
            F.round("score", 6).alias("score"),
            "rk",
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Reconcile two corpus snapshots: one row per key with status
    added / removed / changed / unchanged — the audit a pipeline runs
    before recomputing anything downstream of a refreshed crawl (and
    the input to incremental recompute: only added+changed flow on).

    Content equality is md5 over the per-column digests: each column
    hashes on its own first (null -> a 32-dash marker, which no hex
    digest can equal), and the outer md5 runs over the concatenation
    of those FIXED-WIDTH pieces — injective by construction, so no
    separator/sentinel string occurring in real content can forge an
    'unchanged' verdict (naive concat-with-separator hashing has
    exactly that collision). The diff still moves ONE hash per row,
    never the document bodies. Plan: project-to-hash on each side,
    then a single full outer hash join on the key. At 100 TB both
    snapshots live bucketed on the key (table_io.write_bucketed),
    which makes this join exchange-free — the snapshot layout exists
    for exactly this recurring reconciliation.
    """
    def hashed(df: DataFrame, alias: str) -> DataFrame:
        parts = [
            F.coalesce(
                F.md5(F.col(c).cast("string")), F.lit("-" * 32)
            )
            for c in content_cols
        ]
        h = F.md5(F.concat(*parts)) if len(parts) > 1 else parts[0]
        return df.select(F.col(key_col), h.alias(alias))

    o = hashed(old, "old_hash")
    n = hashed(new, "new_hash")
    joined = o.join(n, key_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") == F.col("new_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        key_col, status.alias("status"), "old_hash", "new_hash"
    )


def group_stats(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Internal additive representation of a (group, count, sum)
    aggregate: (group, n_docs, n_vals, sum0) where n_vals counts
    NON-NULL values and sum0 is the null-coalesced integer sum. The
    triple is closed under addition/negation, which is what makes
    incremental maintenance exact — including SQL's sum-of-all-NULLs
    = NULL rule, reconstructed at finalize time from n_vals."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(value_col).cast("long").alias("n_vals"),
        F.coalesce(F.sum(value_col).cast("long"), F.lit(0)).alias(
            "sum0"
        ),
    )


def merge_group_stats(
    base: DataFrame, delta: DataFrame, group_col: str
) -> DataFrame:
    """Add two additive aggregates group-wise. The join is
    NULL-SAFE on the group key (eqNullSafe): a NULL group is one
    group, exactly as GROUP BY treats it — a plain column join would
    leave NULL-group rows unmatched and duplicate them."""
    b = base.select(
        F.col(group_col).alias("_bg"),
        F.col("n_docs").alias("_bn"),
        F.col("n_vals").alias("_bv"),
        F.col("sum0").alias("_bs"),
    )
    d = delta.select(
        F.col(group_col).alias("_dg"),
        F.col("n_docs").alias("_dn"),
        F.col("n_vals").alias("_dv"),
        F.col("sum0").alias("_ds"),
    )
    return b.join(
        d, F.col("_bg").eqNullSafe(F.col("_dg")), "full_outer"
    ).select(
        F.coalesce(F.col("_bg"), F.col("_dg")).alias(group_col),
        (
            F.coalesce(F.col("_bn"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_docs"),
        (
            F.coalesce(F.col("_bv"), F.lit(0))
            + F.coalesce(F.col("_dv"), F.lit(0))
        ).alias("n_vals"),
        (
            F.coalesce(F.col("_bs"), F.lit(0))
            + F.coalesce(F.col("_ds"), F.lit(0))
        ).alias("sum0"),
    )


def finalize_group_stats(df: DataFrame, group_col: str) -> DataFrame:
    """Additive representation -> public (group, n_docs, sum_value):
    empty groups drop, and a group whose surviving values are all
    NULL reports sum_value NULL (n_vals == 0), bit-matching a
    from-scratch GROUP BY recompute."""
    return df.filter(F.col("n_docs") > 0).select(
        group_col,
        "n_docs",
        F.when(F.col("n_vals") > 0, F.col("sum0"))
        .otherwise(F.lit(None).cast("long"))
        .alias("sum_value"),
    )


def negate_group_stats(df: DataFrame, group_col: str) -> DataFrame:
    return df.select(
        group_col,
        (-F.col("n_docs")).alias("n_docs"),
        (-F.col("n_vals")).alias("n_vals"),
        (-F.col("sum0")).alias("sum0"),
    )


def incremental_agg_update(
    old: DataFrame,
    new: DataFrame,
    group_col: str = "lang",
    key_col: str = "doc_id",
    value_col: str = "n_chars",
) -> DataFrame:
    """Incremental view maintenance: keep a materialized
    (group, n_docs, sum_value) aggregate correct across a snapshot
    transition WITHOUT rescanning the corpus — the pattern that turns
    a daily 100 TB recompute into work proportional to the diff.

    base (the stored aggregate of the old snapshot, group-cardinality-
    sized) is updated with two delta streams derived from
    snapshot_diff: subtract the old-side contribution of removed +
    changed keys, add the new-side contribution of added + changed
    keys. Both streams are LEFT-SEMI bounded by the diff's key set,
    so the only corpus-sized work is snapshot_diff's one-hash-per-row
    join; the additive (count, non-null count, coalesced sum) triple
    makes the maintained aggregate bit-equal to a full recompute —
    including NULL groups (null-safe merge join) and all-NULL-value
    groups (sum_value reconstructs SQL's NULL-sum rule) — pinned by
    the DuckDB oracle, which recomputes from scratch. Groups whose
    count reaches zero drop out. (Here `base` is computed from `old`
    to keep the operator self-contained; production reads it from the
    stored aggregate table.)
    """
    base = group_stats(old, group_col, value_col)
    diff = snapshot_diff(old, new, key_col, (group_col, value_col))
    rem_keys = diff.filter(
        F.col("status").isin("removed", "changed")
    ).select(key_col)
    add_keys = diff.filter(
        F.col("status").isin("added", "changed")
    ).select(key_col)
    neg = negate_group_stats(
        group_stats(
            old.join(rem_keys, key_col, "left_semi"), group_col, value_col
        ),
        group_col,
    )
    pos = group_stats(
        new.join(add_keys, key_col, "left_semi"), group_col, value_col
    )
    delta = (
        neg.unionByName(pos)
        .groupBy(group_col)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_vals").cast("long").alias("n_vals"),
            F.sum("sum0").cast("long").alias("sum0"),
        )
    )
    return finalize_group_stats(
        merge_group_stats(base, delta, group_col), group_col
    )


def dsir_weights(
    docs: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 4096,
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style hashed n-gram importance scores (Xie et al. 2023,
    arXiv:2302.03169 "Data Selection for Language Models via
    Importance Resampling"): score each document by how much more
    likely its hashed unigram+bigram bag is under a TARGET domain's
    feature distribution than under the RAW corpus's, then resample
    the raw pool by that score. Here the target is the slice
    `source = target_source` (a quality domain standing in for the
    paper's Wikipedia/books target), features hash into `n_buckets`
    buckets, and the log-ratio uses the repo's integer-exact floor
    log2 (`length(bin(n+1)) - 1` — add-one smoothing keeps the log
    finite for target-absent buckets, and no transcendental crosses
    the oracle comparison; ccnet_bucket sets the precedent).

        score(d) = sum_f  flog2(tfreq_f + 1) - flog2(rfreq_f + 1)

    summed over d's features WITH multiplicity. Docs with no tokens
    drop out (no features on either side of the comparison).

    Scale shape (100 TB): the exploded feature stream has three
    consumers — two bucket-count aggregates whose output is exactly
    `n_buckets` rows (map-side partials collapse each shuffle to
    ~4096 rows per partition), then ONE broadcast join of that tiny
    dictionary back onto the stream and a single groupBy(doc_id).
    Net: one doc_id-keyed shuffle plus two trivially small ones; no
    join ever carries the corpus on both sides. Catalyst does NOT
    share the explode across the three branches (three scans of the
    pruned (doc_id, text, source) columns here); at production scale
    checkpoint the hashed (doc_id, source, bucket) table once and
    feed all three consumers from it — one tokenize pass instead of
    three, same plan below the checkpoint.
    """
    from .textstats import tokens

    toks = tokens(F.col(text_col))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = docs.select(
        "doc_id",
        "source",
        F.explode(F.concat(toks, bigrams)).alias("feat"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("feat"), 1, 15), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    raw = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("rfreq")
    )
    tgt = (
        feats.where(F.col("source") == target_source)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("tfreq"))
    )
    flog2 = lambda c: F.length(F.bin(c)) - F.lit(1)  # noqa: E731
    dic = raw.join(tgt, "bucket", "left").select(
        "bucket",
        (flog2(F.coalesce(F.col("tfreq"), F.lit(0)) + F.lit(1))
         - flog2(F.col("rfreq") + F.lit(1))).alias("logratio"),
    )
    return (
        feats.join(F.broadcast(dic), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("logratio").cast("long").alias("dsir_score"),
        )
    )


def span_dedup(docs: DataFrame, block_size: int = 8) -> DataFrame:
    """C4's duplicate-span REMOVAL rule (Raffel et al. 2020 §2.2:
    "we discarded all but one of any three-sentence span occurring
    more than once in the data set"), re-expressed for this corpus's
    unit structure: the span unit is a non-overlapping `block_size`-
    token block (the corpus has no sentence boundaries — same reason
    ngram_boilerplate works at token granularity). Unlike
    ngram_boilerplate, which only SCORES documents, this REWRITES
    them: every full block whose exact text occurred earlier anywhere
    in the corpus (global order = (doc_id, block index), keep-first)
    is removed, and the document text is reconstructed from the
    surviving blocks in order. Partial trailing blocks (< block_size
    tokens) are never deduplicated — the C4 guard against nuking
    short common tails. Documents whose text has no tokens produce no
    output row (nothing to rewrite), identically on both engines.

    Scale shape (100 TB): three key-hashed exchanges, all with
    bounded per-key state — doc_id for token ranking (the groupBy
    into blocks reuses that partitioning: hash(doc_id) satisfies the
    (doc_id, bidx) clustering, no fourth exchange), block text for
    the global keep-first window (a viral block lands on one task but
    row_number is a linear scan, and every group collapses to
    rank-1-or-not — no join-back carrying the corpus on both sides),
    and doc_id again for reconstruction. Block texts, not documents,
    flow through the middle exchange: payload is ~block_size tokens
    per row regardless of document size.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    ranked = toks.withColumn("r", F.row_number().over(wd))
    bidx = F.floor((F.col("r") - F.lit(1)) / F.lit(block_size)).cast("long")
    blocks = (
        ranked.withColumn("bidx", bidx)
        .groupBy("doc_id", "bidx")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("r", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("block"),
            F.count(F.lit(1)).alias("n_toks"),
        )
    )
    wb = Window.partitionBy("block").orderBy("doc_id", "bidx")
    flagged = blocks.withColumn(
        "keep",
        (F.col("n_toks") < block_size) | (F.row_number().over(wb) == 1),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1))
        .cast("long")
        .alias("n_dropped"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("bidx", "block"))
                    )
                ),
                lambda x: x["block"],
            ),
        ).alias("text_deduped"),
    )


def bloom_decontaminate(
    docs: DataFrame,
    n: int = 5,
    eval_hex: str = "10",
    salt: str = ":eval:42",
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Bloom-filter decontamination — the SCALE path beside
    `decontaminate`. The exact variant broadcasts the eval shingle
    SET, which is fine for benchmark suites but caps out when the
    held-out side is itself corpus-sized (e.g. "drop anything
    overlapping last month's crawl"): the broadcast grows with the
    eval corpus. Here the eval shingles collapse into a FIXED
    `m_bits`-bit Bloom bitmap (128 KiB at the default) that
    broadcasts at the same cost no matter how large the eval set —
    the standard production trade (GPT-3 appendix C describes the
    same bloom-based overlap machinery). False positives are
    one-sided: a flagged shingle may be clean, a clean shingle is
    never flagged, so `clean=true` here is trustworthy and the
    flagged remainder is what the exact pass re-checks.

    DETERMINISTIC, hence oracle-exact: two bit positions per shingle
    from the same 60-bit md5 prefix the dedup stack uses (low 20 bits
    and bits 30..49), so the Spark plan and the DuckDB oracle compute
    the identical bitmap and the identical per-document flag counts —
    the false positives themselves are reproducible.

    Scale shape: ONE lead() shingle pass (doc_id shuffle) shared by
    both sides of the eval split; eval positions fold into
    PER-PARTITION numpy bitmaps inside mapInArrow (map-only), OR-ed
    on the driver (bounded collect: #tasks x m_bits/8 bytes) and
    rebroadcast as one 128 KiB array; the training stream probes the
    bitmap map-side in a vectorized Arrow kernel — no join at all on
    the data-sized side. Output matches `decontaminate`'s columns
    (doc_id, n_grams, n_hits, clean) so callers can swap paths.
    """
    import numpy as np
    import pyarrow as pa

    is_eval = (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 2
        )
        < eval_hex
    )
    h = F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long")
    sh = (
        _token_shingles(docs, n)
        .withColumn("_is_eval", is_eval)
        .withColumn("p1", h % F.lit(m_bits))
        .withColumn("p2", F.shiftright(h, 30) % F.lit(m_bits))
    )

    n_bytes = m_bits // 8

    def build_bitmaps(batches):
        # bool-array + fancy-index set (idempotent, vectorized), packed
        # LSB-first once at the end — not ufunc.at, which is unbuffered
        bits = np.zeros(m_bits, dtype=bool)
        seen = False
        for batch in batches:
            for col in ("p1", "p2"):
                pos = batch.column(col).to_numpy(zero_copy_only=False)
                bits[pos] = True
            seen = seen or batch.num_rows > 0
        if seen:
            bm = np.packbits(bits, bitorder="little")
            yield pa.RecordBatch.from_arrays(
                [pa.array([bm.tobytes()], type=pa.binary())], names=["bm"]
            )

    parts = (
        sh.filter(F.col("_is_eval"))
        .select("p1", "p2")
        .mapInArrow(build_bitmaps, "bm binary")
        .collect()
    )
    bitmap = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        bitmap |= np.frombuffer(row["bm"], dtype=np.uint8)
    bc = docs.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    def probe(batches):
        # unpack the 128 KiB bitmap to a 1 MiB bool table once per
        # task; per batch the membership test is two gathers + one AND
        bits = np.unpackbits(
            np.frombuffer(bc.value, dtype=np.uint8), bitorder="little"
        )
        for batch in batches:
            p1 = batch.column("p1").to_numpy(zero_copy_only=False)
            p2 = batch.column("p2").to_numpy(zero_copy_only=False)
            hit = (bits[p1] & bits[p2]).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(hit, type=pa.int64())],
                names=["doc_id", "hit"],
            )

    return (
        sh.filter(~F.col("_is_eval"))
        .select("doc_id", "p1", "p2")
        .mapInArrow(probe, "doc_id bigint, hit bigint")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("hit").cast("long").alias("n_hits"),
        )
        .withColumn("clean", F.col("n_hits") == 0)
    )
