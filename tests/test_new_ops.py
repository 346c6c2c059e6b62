"""Tests for the round-1 widening: event sessionization/rollups,
embedding near-dup pairs (exact + LSH), IVF ANN, connected-components
dedup, TF-IDF, rollup aggregates, and the Structured Streaming path.

DuckDB parity for the SQL-checked queries runs at sf0.001 here (the
driver re-runs everything at sf0.01; tests/parity_harness.py covers
the full set locally)."""

from __future__ import annotations

from pathlib import Path

import pytest

SF = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not Path(SF).exists(), reason="driver testdata not present"
)

NEW_SQL = [
    "sessionize",
    "event_hour_rollup",
    "rollup_lang_source",
    "tfidf_top_terms",
    "emb_near_dups",
    "dedup_components",
    "pricing_summary",
    "region_order_counts",
    "top_customers",
    "semi_customers",
    # round-2 oracle additions (knn_lsh excluded here: its 100%
    # top-10 coverage holds at the driver's sf0.01, not at this
    # file's sf0.001 — parity_harness covers it at sf0.01)
    "simhash",
    "media_features",
    "media_frames",
    "binary_ingest",
    "curate",
    "emb_near_dups_lsh",
    # round-2 relational widening: as-of / interval joins over events,
    # set ops, CUBE, and IVF ANN at full probe (= exact oracle)
    "asof_click_error",
    "interval_error_view",
    "lang_intersect",
    "lang_except",
    "cube_lang_source",
    "knn_ivf",
    "grouping_sets",
    "sample_docs",
    "length_quantiles",
    "pivot_source_lang",
    "html_ingest",
    "pdf_ingest",
    "chunk_documents",
    "pack_sequences",
    "winnow_fingerprints",
    # round-3 widening: sketch gates, PII scrub, Gopher quality gate,
    # deterministic dataset split
    "sketch_quantiles",
    "sketch_distinct_hll",
    "sketch_heavy_hitters",
    "redact_pii",
    "gopher_quality",
    "dataset_split",
    "ngram_boilerplate",
    "vocab_top_ids",
    "decontaminate",
    "domain_cap",
    "bucketed_join",
    "shuffle_rank",
    "encode_tokens",
    "profile_columns",
    "weighted_sample",
    "dedup_incremental",
    "model_score",
    "token_commonness",
    "snapshot_diff",
    "props_rollup",
    "min_cost_supplier",
    "incremental_agg",
    "funnel_counts",
    "repetition_stats",
    "substring_overlap",
    "stratified_sample",
]


@needs_testdata
@pytest.mark.parametrize("name", NEW_SQL)
def test_new_sql_parity(spark, name):
    import duckdb

    import __spark_entry__ as e
    from parity_harness import TABLES, compare_frames

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if Path(p).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')"
            )
    diff = compare_frames(
        e.queries()[name](spark, SF), con.sql(e.oracle_sql()[name])
    )
    assert diff is None, diff


def test_connected_components_hand_graph(spark):
    from two_tier_document_parser_spark.dedup import connected_components

    # two components {1,2,3,9} (chain) and {5,7}; singleton 8 has no edges
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (3, 9), (5, 7)], ["a", "b"]
    )
    got = {
        (r["doc_id"], r["comp"])
        for r in connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (9, 1), (5, 5), (7, 5)}


def test_connected_components_star_equivalence(spark):
    """Large-star/small-star (Kiveris et al. 2014) must label exactly
    like the min-label propagator: the hand graph, random Erdős–Rényi
    graphs (long chains, cycles, high-degree hubs), and a star hub —
    the skew shape the algorithm exists for (round-2 verdict #6)."""
    import random

    from two_tier_document_parser_spark.dedup import (
        connected_components,
        connected_components_star,
    )

    def labels(fn, edges):
        pairs = spark.createDataFrame(edges, ["a", "b"])
        return {(r["doc_id"], r["comp"]) for r in fn(pairs).collect()}

    cases = [
        [(2, 3), (1, 2), (3, 9), (5, 7)],
        [(i, i + 1) for i in range(1, 30)],          # long chain
        [(i, (i % 12) + 1) for i in range(1, 13)],   # cycle
        [(100, v) for v in range(1, 40)],            # high-degree hub
        [(1, 1), (2, 3)],                            # self-loop input
    ]
    rng = random.Random(99)
    for _ in range(4):
        n = rng.randint(5, 60)
        m = rng.randint(1, n * 2)
        cases.append(
            [(rng.randint(1, n), rng.randint(1, n)) for _ in range(m)]
        )
    for edges in cases:
        a = labels(connected_components, edges)
        b = labels(connected_components_star, edges)
        assert a == b, edges


@needs_testdata
def test_lsh_near_dups_subset_of_exact(spark):
    """LSH candidates are verified with the same exact predicate, so
    precision is 1.0 by construction; recall on this corpus must be
    reasonable for the default table count."""
    import __spark_entry__ as e

    exact = {
        (r["a"], r["b"]) for r in e.queries()["emb_near_dups"](spark, SF).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in e.queries()["emb_near_dups_lsh"](spark, SF).collect()
    }
    assert approx <= exact
    assert len(exact) > 0
    assert len(approx) >= 0.5 * len(exact)


@needs_testdata
def test_ivf_recall_and_determinism(spark):
    """The driver entry runs full-probe (exact, SQL-oracle-checked);
    the approximate regime (n_probe < n_cells) is exercised here."""
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from two_tier_document_parser_spark.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query"), F.col("embedding").alias("qvec")
    )
    brute = e.queries()["knn_bruteforce"](spark, SF).collect()
    ivf1 = ivf_topk(emb, queries, k=10, n_cells=8, n_probe=3).collect()
    ivf2 = ivf_topk(emb, queries, k=10, n_cells=8, n_probe=3).collect()
    key = lambda rows: {(r["query"], r["candidate"], r["rank"]) for r in rows}
    assert key(ivf1) == key(ivf2)  # deterministic end to end
    bt = {(r["query"], r["candidate"]) for r in brute}
    iv = {(r["query"], r["candidate"]) for r in ivf1}
    assert len(iv & bt) >= 0.5 * len(bt)  # recall@10 over probed cells


def test_asof_join_hand_events(spark):
    """Boundary semantics: inclusive at equal epoch, null when no
    prior right event, latest-not-first match."""
    import datetime as dt

    from two_tier_document_parser_spark.events import asof_join

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # user 1: clicks at 10 and 50; errors at 5 (no match), 50
        # (inclusive boundary -> click@50), 70 (latest click, not first)
        (1, 1, s(10), "click"),
        (2, 1, s(50), "click"),
        (3, 1, s(5), "error"),
        (4, 1, s(50), "error"),
        (5, 1, s(70), "error"),
        # user 2: error with no clicks at all
        (6, 2, s(30), "error"),
        # other types are ignored entirely
        (7, 1, s(60), "view"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    got = {
        r["event_id"]: (r["match_id"], r["match_epoch"])
        for r in asof_join(ev, "error", "click").collect()
    }
    base = int(t0.timestamp())
    assert got == {
        3: (None, None),
        4: (2, base + 50),
        5: (2, base + 50),
        6: (None, None),
    }


def test_interval_join_hand_events(spark):
    """Radius edges land inside (<=); cross-user pairs excluded; every
    pair appears exactly once despite the 3-bucket candidate fan-out."""
    import datetime as dt

    from two_tier_document_parser_spark.events import interval_join

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        (1, 1, s(1000), "error"),
        (2, 1, s(1000 - 300), "view"),   # exactly -radius: in
        (3, 1, s(1000 + 300), "view"),   # exactly +radius: in
        (4, 1, s(1000 + 301), "view"),   # just out
        (5, 1, s(1000 + 1), "view"),     # same bucket: in
        (6, 2, s(1000), "view"),         # other user: out
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    got = sorted(
        (r["a_id"], r["b_id"], r["delta_s"])
        for r in interval_join(ev, "error", "view", 300).collect()
    )
    assert got == [(1, 2, -300), (1, 3, 300), (1, 5, 1)]


def test_stream_extract_equals_batch(spark, tmp_path):
    """The fused cascade on readStream (AvailableNow) produces exactly
    the batch output — same rows, same span sequences."""
    from two_tier_document_parser_spark.pipeline import extract, ship_package
    from two_tier_document_parser_spark.streaming import run_stream_extract
    from two_tier_document_parser_spark.synth import synth_spark

    ship_package(spark)
    raw_dir = str(tmp_path / "raw")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synth_spark(spark, 300, partitions=4).write.parquet(raw_dir)

    run_stream_extract(spark, raw_dir, out_dir, ckpt)

    def canon(df):
        return {
            r["doc_id"]: (
                r["tier"],
                [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]],
            )
            for r in df.collect()
        }

    batch = canon(extract(spark, spark.read.parquet(raw_dir)))
    stream = canon(spark.read.parquet(out_dir))
    assert stream == batch


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    """The north-rule ship path: `spark-submit --py-files engine.zip
    jobs/run_extract.py` from a CWD outside the repo, end to end."""
    import json
    import os
    import subprocess
    import zipfile

    repo = Path(__file__).resolve().parents[1]
    pkg = repo / "two_tier_document_parser_spark"
    zpath = tmp_path / "engine.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for f in pkg.rglob("*.py"):
            zf.write(f, Path("two_tier_document_parser_spark") / f.relative_to(pkg))
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            str(zpath),
            str(repo / "jobs" / "run_extract.py"),
            "--synth",
            "500",
            "--output",
            str(out_dir),
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": ""},
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["docs"] == 500
    assert set(res["by_tier"]) <= {"fast", "deep", "error"}
    assert sum(res["by_tier"].values()) == 500


def test_png_dhash_and_frame_sample(spark):
    """Multimodal plumbing: a PNG payload hashes over its real pixels;
    frame sampling reassembles to the original payload."""
    from two_tier_document_parser_spark.multimodal import (
        FRAME_CHUNK,
        media_dhash,
        sample_frames,
    )

    rows = [
        ("d1", "page_0_img_0", "image", b"x" * 20),
        ("d1", "page_0_img_1", "image", b""),
        ("d2", "page_1_table_0", "table", b"abcdefgh" * 3),
    ]
    media = spark.createDataFrame(
        rows, "doc_id string, media_ref string, kind string, payload binary"
    )

    # real PNG payload: the dHash is over the decoded pixels — the
    # 9x8 nearest-neighbor sample of the source raster, one bit per
    # left-brighter-than-right neighbor pair, as a signed int64
    import numpy as np

    from two_tier_document_parser_spark.png import encode_png_gray, render_crop

    src = np.frombuffer(b"".join(render_crop("resize-me", 48, 24)),
                        np.uint8).reshape(24, 48)
    png_media = spark.createDataFrame(
        [("d9", "page_0_img_0", "image", encode_png_gray(src))],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    (r,) = media_dhash(png_media).collect()
    s = src[(np.arange(8) * 24) // 8][:, (np.arange(9) * 48) // 9]
    bits = (s[:, :8].astype(int) > s[:, 1:]).flatten()
    want = int("".join("1" if b else "0" for b in bits), 2)
    assert r["real_pixels"] is True
    assert r["dhash"] == (want - (1 << 64) if want >= 1 << 63 else want)

    frames = sample_frames(media).collect()
    by_ref = {}
    for r in sorted(frames, key=lambda r: (r["media_ref"], r["frame_idx"])):
        by_ref.setdefault(r["media_ref"], b"")
        by_ref[r["media_ref"]] += bytes(r["frame"])
    assert by_ref["page_0_img_0"] == b"x" * 20
    assert by_ref["page_0_img_1"] == b""
    assert by_ref["page_1_table_0"] == b"abcdefgh" * 3
    assert max(len(bytes(r["frame"])) for r in frames) <= FRAME_CHUNK


def test_parse_document_reference_shape():
    """Per-request facade: response dicts carry the reference's field
    names (fast/models.py:8-11, accurate/models.py:8-52) and agree
    with the per-doc cascade (artifact ids in first-seen order)."""
    from oracle import extract_doc, route_doc
    from two_tier_document_parser_spark.api import parse_document
    from two_tier_document_parser_spark.synth import synth_docs

    docs = synth_docs(0, 60, seed=7)
    saw_deep = saw_fast = False
    for d in docs:
        resp = parse_document(d)
        exp = extract_doc(d)
        assert resp["markdown"] == exp["markdown"]
        assert resp["metadata"]["pages"] == exp["pages"]
        assert set(resp["metadata"]) >= {
            "pages", "processing_time_ms", "parser", "version", "filename",
        }
        if route_doc(d) == "fast":
            saw_fast = True
            assert "images" not in resp
        else:
            saw_deep = True
            assert [i["image_id"] for i in resp["images"]] == [
                s["media_ref"] for s in exp["spans"] if s["kind"] == "image"
            ]
            assert [t["table_id"] for t in resp["tables"]] == [
                s["media_ref"] for s in exp["spans"] if s["kind"] == "table"
            ]
            assert [f["latex"] for f in resp["formulas"]] == [
                s["text"] for s in exp["spans"] if s["kind"] == "formula"
            ]
    assert saw_fast and saw_deep

    # forced tiers mirror calling each service directly
    deep_doc = next(d for d in docs if route_doc(d) == "deep")
    assert "images" in parse_document(deep_doc, tier="accurate")
    assert "images" not in parse_document(deep_doc, tier="fast")
    # poison-safe error dict, never an exception
    bad = {"doc_id": "x", "doc_class": "pdf", "n_pages": 1,
           "spans": [{"kind": "box", "text": "garbage", "media_ref": "", "offset": 0}]}
    assert "error" in parse_document(bad, tier="accurate")


def test_sessionize_gap_semantics(spark):
    """Hand-built timeline: gap strictly greater than 30 min starts a
    new session; a gap of exactly 30 min does not."""
    import datetime as dt

    from two_tier_document_parser_spark.events import sessionize

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, 100, base),
        (2, 100, base + dt.timedelta(minutes=30)),     # exactly gap -> same
        (3, 100, base + dt.timedelta(minutes=61)),     # 31 min -> new
        (4, 200, base),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    got = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in sessionize(ev).collect()
    }
    assert got == {(100, 0): 2, (100, 1): 1, (200, 0): 1}


def test_chunk_documents_window_math(spark):
    """12 tokens, size=5, overlap=2 (stride 3): chunks cover
    [0,5) [3,8) [6,11) [9,12) — overlap regions repeat, the tail
    chunk is short, and chunk text is in token order."""
    from two_tier_document_parser_spark.curation import chunk_documents

    d = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(12)))], ["doc_id", "text"]
    )
    got = {
        r["chunk_id"]: (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(d, size=5, overlap=2).collect()
    }
    assert got == {
        0: (5, "t0 t1 t2 t3 t4"),
        1: (5, "t3 t4 t5 t6 t7"),
        2: (5, "t6 t7 t8 t9 t10"),
        3: (3, "t9 t10 t11"),
    }


def test_pack_sequences_contiguous_bins(spark):
    """Docs are atomic; a doc's bin is where its FIRST token lands;
    shards pack independently."""
    from two_tier_document_parser_spark.curation import pack_sequences

    rows = [
        (0, "a b c"),        # shard 0: start 0  -> bin 0
        (1, "a b c d"),      # start 3 -> bin 0
        (2, "a b"),          # start 7 -> bin 0 (crosses 8? no: starts at 7)
        (3, "a b c"),        # start 9 -> bin 1
        (10, "a b c d e"),   # shard 1 restarts: start 0 -> bin 0
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["offset_in_bin"])
        for r in pack_sequences(d, budget=8, shard_size=10).collect()
    }
    assert got == {
        0: (0, 0, 0),
        1: (0, 0, 3),
        2: (0, 0, 7),
        3: (0, 1, 1),
        10: (1, 0, 0),
    }


def test_winnowing_guarantee_shared_run(spark):
    """The winnowing property: two documents sharing a token run of
    length >= k + window - 1 (here 4+5-1=8) share at least one
    fingerprint; disjoint-vocabulary documents share none."""
    from two_tier_document_parser_spark.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"intro words here {shared} trailing tail"),
        (2, f"{shared} completely different ending text"),
        (3, "unrelated vocabulary nothing overlaps at all here friend"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {}
    for r in winnow_fingerprints(d, k=4, window=5).collect():
        fps.setdefault(r["key"], set()).add(r["fp"])
    assert fps[1] & fps[2]          # shared run -> shared fingerprint
    assert not (fps[1] & fps[3])    # disjoint vocab -> no overlap
    assert not (fps[2] & fps[3])


def test_sketch_error_bounds(spark):
    """The 100 TB sketch swap-ins (VERDICT r2 task #8) hold their error
    bounds in the regime where they actually approximate: HLL++ within
    3-sigma (3*rsd) of a 20k-cardinality exact count, and the GK/KLL
    median within the exact p45..p55 rank band on 10k skewed values."""
    from pyspark.sql import functions as F

    n = 20_000
    d = spark.range(n).select(
        F.md5(F.col("id").cast("string")).alias("key"),
        (F.pow(F.col("id") % 100 + 1, 2.0)).alias("v"),
    )
    row = d.agg(
        F.approx_count_distinct("key", 0.05).alias("hll"),
        F.percentile_approx("v", 0.5, 1000).alias("ap50"),
        F.expr("percentile(v, 0.45)").alias("p45"),
        F.expr("percentile(v, 0.55)").alias("p55"),
    ).collect()[0]
    assert abs(row["hll"] - n) <= 0.15 * n, row["hll"]
    assert row["p45"] <= row["ap50"] <= row["p55"], row


def test_sketch_queries_tolerance_flags(spark):
    """Driver-facing sketch queries: every group's tolerance boolean is
    TRUE (the oracle asserts literal TRUE, so a sketch excursion fails
    the hash gate — this test catches it earlier and with a message)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    if not Path(sf).exists():
        pytest.skip("driver testdata not present")
    for name, flag in (
        ("sketch_quantiles", "p50_in_band"),
        ("sketch_distinct_hll", "hll_in_tol"),
    ):
        rows = e.queries()[name](spark, sf).collect()
        assert rows, name
        bad = [r for r in rows if not r[flag]]
        assert not bad, (name, bad)


def test_redact_pii_crafted(spark):
    """Category counts and placeholders on crafted PII; sequential
    semantics: an already-redacted email's chars can't re-match as a
    later category."""
    from two_tier_document_parser_spark.textstats import redact_pii

    d = spark.createDataFrame(
        [
            ("d1", "write bob.smith+x@corp.example.co from 192.168.0.1"),
            ("d2", "call +1 555-123-4567 or 555 987 6543 today"),
            ("d3", "clean text, nothing to scrub"),
            ("d4", ""),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(d).collect()}
    assert got["d1"]["n_email"] == 1 and got["d1"]["n_ipv4"] == 1
    assert "<EMAIL>" in got["d1"]["redacted"]
    assert "<IP>" in got["d1"]["redacted"]
    assert "@" not in got["d1"]["redacted"]
    assert got["d2"]["n_phone"] == 2
    assert got["d2"]["redacted"].count("<PHONE>") == 2
    assert got["d3"]["redacted"] == "clean text, nothing to scrub"
    assert (
        got["d3"]["n_email"] == got["d3"]["n_ipv4"] == got["d3"]["n_phone"] == 0
    )
    assert got["d4"]["redacted"] == ""


def test_gopher_quality_semantics(spark):
    """Each Gopher rule independently drops: too short, degenerate
    mean token length, and high duplicate-token repetition."""
    from two_tier_document_parser_spark.textstats import gopher_quality

    ok = " ".join(f"word{i}" for i in range(30))
    short = "only three words"
    longtoks = " ".join("x" * 40 for _ in range(30))
    repeaty = " ".join(["same"] * 30)
    d = spark.createDataFrame(
        [("ok", ok), ("short", short), ("long", longtoks), ("rep", repeaty)],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in gopher_quality(d).collect()}
    assert got["ok"]["keep"]
    assert not got["short"]["keep"]          # n_tokens < min
    assert not got["long"]["keep"]           # avg token length > max
    assert not got["rep"]["keep"]            # dup fraction > max
    assert got["rep"]["dup_tok_frac_x100"] >= 90


def test_dataset_split_proportions_and_stability(spark):
    """~90/5/5 over 10k keys, deterministic across invocations, and
    disjoint by construction (one row per key)."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.textstats import dataset_split

    d = spark.range(10_000).select(F.col("id").cast("string").alias("doc_id"))
    a = dataset_split(d).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 9000) < 300
    assert abs(counts["val"] - 500) < 150
    assert abs(counts["test"] - 500) < 150
    b = {
        r["doc_id"]: r["split"]
        for r in dataset_split(d).collect()
    }
    c = {
        r["doc_id"]: r["split"]
        for r in dataset_split(d).collect()
    }
    assert b == c


def test_ngram_boilerplate_semantics(spark):
    """A 5-gram shared by two documents marks those shingles repeated;
    a unique document keeps; a document that is mostly the shared run
    drops."""
    from two_tier_document_parser_spark.curation import ngram_boilerplate

    shared = "alpha beta gamma delta epsilon"
    d = spark.createDataFrame(
        [
            ("a", shared + " unique1 unique2 unique3 unique4 unique5 unique6"),
            ("b", shared),                       # 1 shingle, 100% repeated
            ("c", "zeta eta theta iota kappa lambda mu nu xi"),
            ("tiny", "one two"),                 # < n tokens: no shingles
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in ngram_boilerplate(d).collect()}
    assert "tiny" not in got                      # no complete shingle
    assert got["b"]["n_repeated"] == got["b"]["n_shingles"] == 1
    assert not got["b"]["keep"]                   # 100% > 30%
    assert got["c"]["n_repeated"] == 0 and got["c"]["keep"]
    assert got["a"]["n_repeated"] == 1            # only the shared run
    assert got["a"]["keep"]                       # 1/7 shingles = 14%


def test_vocab_top_ids_rank_determinism(spark):
    """Ids are assigned by (count desc, token asc); truncation at
    top_k; case-folded counting."""
    from two_tier_document_parser_spark.textstats import vocab_top_ids

    d = spark.createDataFrame(
        [("d1", "b b b A a c C d"), ("d2", "b a")],
        "doc_id string, text string",
    )
    rows = vocab_top_ids(d, top_k=3).collect()
    got = {r["token"]: (r["n"], r["token_id"]) for r in rows}
    assert got == {"b": (4, 1), "a": (3, 2), "c": (2, 3)}


def test_decontaminate_semantics(spark):
    """Eval docs never appear in the output; a training doc sharing a
    complete n-gram run with an eval doc is contaminated; disjoint
    training docs are clean; sub-n-token docs vanish."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.curation import decontaminate

    run = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            [run + " filler%d w x y z" % i for i in range(40)]
            + ["uniq%da uniq%db uniq%dc uniq%dd uniq%de" % ((i,) * 5)
               for i in range(40)]
            + ["too short"] * 3
        )],
        "doc_id long, text string",
    )
    out = decontaminate(docs, n=5)
    ev_pred = (
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":eval:42"))),
            1, 2,
        ) < "10"
    )
    eval_ids = {r["doc_id"] for r in docs.filter(ev_pred).collect()}
    got = {r["doc_id"]: r for r in out.collect()}
    assert eval_ids, "hash sample selected no eval docs — widen fixture"
    assert not (set(got) & eval_ids)
    # at least one eval doc carries the shared run iff its id < 40;
    # when so, every training doc with the run must be contaminated
    shared_eval = any(i < 40 for i in eval_ids)
    for i in range(40):
        if i in eval_ids:
            continue
        assert got[i]["clean"] == (not shared_eval)
    for i in range(40, 80):
        if i in eval_ids:
            continue
        assert got[i]["clean"] and got[i]["n_hits"] == 0
    for i in (80, 81, 82):
        assert i not in got  # < n tokens: no shingles


def test_domain_cap_semantics(spark):
    """Matches an independent driver-side computation: top-`cap` per
    source by (n_chars DESC, doc_id ASC), exact ties broken by doc_id,
    domains smaller than the cap kept whole, rank starting at 1."""
    from two_tier_document_parser_spark.curation import domain_cap

    rows = [(i, "big.example", (i * 7) % 13 + 100) for i in range(100)]
    rows += [(200 + i, "small.example", 50) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {
        (r["doc_id"], r["source"], r["n_chars"], r["rk"])
        for r in domain_cap(docs, cap=20).collect()
    }
    want = set()
    for src in ("big.example", "small.example"):
        ranked = sorted(
            (r for r in rows if r[1] == src), key=lambda r: (-r[2], r[0])
        )
        want |= {
            (d, s, n, rk + 1) for rk, (d, s, n) in enumerate(ranked[:20])
        }
    assert got == want
    assert len([1 for _, s, _, _ in got if s == "small.example"]) == 5


def test_encode_tokens_oov_and_broadcast(spark):
    """Token-id encode: top-k tokens get rank ids (count desc, token
    asc), everything else the OOV id; the vocab side of the join must
    be a broadcast (map-side encode, no data-sized shuffle)."""
    from two_tier_document_parser_spark.textstats import encode_tokens

    docs = spark.createDataFrame(
        [
            (1, "aa bb aa cc"),
            (2, "aa  bb rare"),
        ],
        "doc_id long, text string",
    )
    out = encode_tokens(docs, top_k=2, oov_id=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    got = {(r["doc_id"], r["pos"], r["token_id"]) for r in out.collect()}
    # counts: aa=3, bb=2, cc=1, rare=1 -> vocab {aa:1, bb:2}; cc/rare OOV
    # pos is the index in the split array; \s+ consumes the double
    # space as ONE separator (same in DuckDB regexp_split_to_array)
    want = {
        (1, 0, 1), (1, 1, 2), (1, 2, 1), (1, 3, 0),
        (2, 0, 1), (2, 1, 2), (2, 2, 0),
    }
    assert got == want


def test_profile_columns_single_scan(spark):
    """Profile = one row per column from ONE scan; null/distinct/min/
    max exact; approx mode swaps countDistinct for HLL and must stay
    within its rsd on this tiny input."""
    from two_tier_document_parser_spark.profiling import profile_columns

    docs = spark.createDataFrame(
        [(1, "en", 10), (2, None, 30), (3, "en", None), (4, "fr", 30)],
        "doc_id long, lang string, n long",
    )
    got = {
        r["col_name"]: (
            r["n_rows"], r["n_nulls"], r["n_distinct"],
            r["min_str"], r["max_str"],
        )
        for r in profile_columns(docs).collect()
    }
    assert got == {
        "doc_id": (4, 0, 4, "1", "4"),
        "lang": (4, 1, 2, "en", "fr"),
        "n": (4, 1, 2, "10", "30"),
    }
    plan = (
        profile_columns(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # one logical scan of the input — the aggregates share a pass
    assert plan.count("LogicalRDD") == 1, plan
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in profile_columns(docs, exact_distinct=False).collect()
    }
    assert approx["doc_id"] in (3, 4, 5)
    assert approx["lang"] in (1, 2, 3)


def test_profile_columns_special_names(spark):
    """A messy external drop has dotted/spaced column names; the
    profiler must treat them as literal names, not struct paths."""
    from two_tier_document_parser_spark.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None)], ["a.b", "has space"]
    )
    got = {
        r["col_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"])
        for r in profile_columns(df).collect()
    }
    assert got == {"a.b": (2, 0, 2), "has space": (2, 1, 1)}


def test_weighted_sample_bias_determinism_and_plan(spark):
    """Heavier docs must win far more often than light ones; the
    selection must be identical under re-partitioning (hash
    randomness, not rand(seed)); and the global top-k must be
    rank-limited, never a data-sized single-partition sort."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.curation import weighted_sample

    rows = [(i, 1000 if i < 500 else 10) for i in range(5000)]
    docs = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = weighted_sample(docs, k=200)
    sel = {r["doc_id"] for r in out.collect()}
    heavy = sum(1 for d in sel if d < 500)
    # 500 docs at weight 1000 vs 4500 at weight 10: the heavy tenth
    # should dominate the sample (expected share >> uniform's 10%)
    assert heavy >= 120, heavy
    sel2 = {
        r["doc_id"]
        for r in weighted_sample(docs.repartition(17), k=200).collect()
    }
    assert sel == sel2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("WindowGroupLimit" in plan) or (
        "TakeOrderedAndProject" in plan
    ), plan


def test_dedup_incremental_statuses(spark):
    """Hand corpus: exact dup matches minimal old key; near dup
    verified by token Jaccard; unrelated doc stays 'new'; old-side
    dups of each other never pair (no old-by-old work)."""
    from two_tier_document_parser_spark.dedup import dedup_incremental

    base = "alpha beta gamma delta epsilon zeta eta theta"
    old = spark.createDataFrame(
        [
            (2, base),
            (4, base),                      # old dup of old — irrelevant
            (6, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base),                       # exact dup -> min old = 2
            (3, base + " iota"),             # near dup of 2/4 (J=8/9)
            (5, "nothing shared with any committed document at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["status"], r["matched_old"])
        for r in dedup_incremental(new, old).collect()
    }
    assert got == {
        1: ("exact_dup", 2),
        3: ("near_dup", 2),
        5: ("new", None),
    }


def test_hashed_linear_score_matches_scalar(spark):
    """Broadcast-join inference: the plan must contain a
    BroadcastHashJoin (model travels to the data) and the score must
    equal an independent scalar computation of the same model."""
    import hashlib
    import math

    from two_tier_document_parser_spark.textstats import (
        demo_weights,
        hashed_linear_score,
    )

    texts = {1: "Alpha beta GAMMA alpha", 2: "one", 3: ""}
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = hashed_linear_score(docs, demo_weights(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    got = {
        r["doc_id"]: (r["n_tokens"], r["logit"], r["score"])
        for r in out.collect()
    }

    def w_milli(i):
        return (i * 2654435761) % 2001 - 1000

    for doc_id, text in texts.items():
        toks = text.lower().split()
        if not toks:
            assert doc_id not in got  # no tokens -> no row (groupBy)
            continue
        lm = sum(
            w_milli(
                int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 1024
            )
            for t in toks
        )
        logit = lm / 1000.0  # exact: integer milli sum, one division
        score = 1.0 / (1.0 + math.exp(-logit))
        assert got[doc_id][0] == len(toks)
        assert got[doc_id][1] == logit  # order-free integer sum
        assert abs(got[doc_id][2] - round(score, 6)) < 1e-9


def test_caption_align_hand_corpus(spark):
    """Exact alignment on a hand doc: nearest preceding/following
    CONTENT span (empty-text and non-content spans skipped), image at
    document start has no prev, consecutive images share neighbors."""
    from two_tier_document_parser_spark.multimodal import caption_align

    spans = [
        ("image", "", "img0", 0),          # no prev
        ("heading", "Intro", "", 1),
        ("page_break", "", "", 2),         # not content
        ("image", "", "img1", 3),
        ("image", "", "img2", 4),          # consecutive
        ("text", "Figure 1: a chart", "", 5),
        ("text", "", "", 6),               # empty text -> skipped
    ]
    doc = spark.createDataFrame(
        [("d1", [s for s in spans])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,order:int>>",
    )
    got = {
        r["media_ref"]: (
            r["prev_kind"], r["prev_text"], r["prev_dist"],
            r["next_kind"], r["next_text"], r["next_dist"],
            r["caption_hint"],
        )
        for r in caption_align(doc).collect()
    }
    assert got == {
        "img0": (None, None, None,
                 "heading", "Intro", 1, False),
        "img1": ("heading", "Intro", 2,
                 "text", "Figure 1: a chart", 2, True),
        "img2": ("heading", "Intro", 3,
                 "text", "Figure 1: a chart", 1, True),
    }
    # ONE data-sized exchange (hash on doc_id for the window); the
    # filter-to-images happens after the window, no second shuffle
    plan = caption_align(doc)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_token_commonness_hand_corpus(spark):
    """Integer corpus-frequency rollup: 'a' appears 3x globally,
    'b' 2x, 'c' 1x (hapax)."""
    from two_tier_document_parser_spark.textstats import token_commonness

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["sum_freq"], r["min_freq"], r["n_rare"]
        )
        for r in token_commonness(docs).collect()
    }
    # doc 1: tokens a,a,b -> freqs 3,3,2 ; doc 2: a,b,c -> 3,2,1
    assert got == {1: (3, 8, 2, 0), 2: (3, 6, 1, 1)}
    assert 3 not in got  # token-less doc -> no row (groupBy)


def test_snapshot_diff_statuses(spark):
    """All four statuses + null-content hashing (null != empty)."""
    from two_tier_document_parser_spark.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (5, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh"), (5, "")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
        5: "changed",  # null -> '' is a content change, not identity
    }


def test_caption_align_property_vs_reference(spark):
    """Differential check: random interleaved span sequences, the
    window-based distributed alignment must equal an O(n) single-pass
    Python reference."""
    import random

    rng = random.Random(7)
    kinds = ["text", "heading", "list_item", "table", "image",
             "page_break", "boilerplate", "formula"]
    docs = []
    for d in range(30):
        n = rng.randint(1, 25)
        spans = []
        for i in range(n):
            k = rng.choice(kinds)
            text = (
                "" if k in ("image", "page_break")
                else rng.choice(["", "word", "Figure 2: x", "Table 10."])
            )
            ref = f"m{d}_{i}" if k == "image" else ""
            spans.append((k, text, ref, i))
        docs.append((f"d{d}", spans))

    def reference(spans):
        content = [
            (o, k, t)
            for (k, t, _m, o) in spans
            if k in ("text", "heading", "list_item", "table") and t != ""
        ]
        out = {}
        for (k, t, m, o) in spans:
            if k != "image":
                continue
            prev = max((c for c in content if c[0] < o), default=None)
            nxt = min((c for c in content if c[0] > o), default=None)
            hint = bool(nxt) and bool(
                __import__("re").match(
                    r"^(figure|fig\.?|table)\s+\d+", nxt[2].lower()
                )
            )
            out[m] = (
                prev[1] if prev else None, prev[2] if prev else None,
                o - prev[0] if prev else None,
                nxt[1] if nxt else None, nxt[2] if nxt else None,
                nxt[0] - o if nxt else None, hint,
            )
        return out

    from two_tier_document_parser_spark.multimodal import caption_align

    df = spark.createDataFrame(
        docs,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,order:int>>",
    )
    got = {
        r["media_ref"]: (
            r["prev_kind"], r["prev_text"], r["prev_dist"],
            r["next_kind"], r["next_text"], r["next_dist"],
            r["caption_hint"],
        )
        for r in caption_align(df).collect()
    }
    want = {}
    for _d, spans in docs:
        want.update(reference(spans))
    assert got == want


def test_props_rollup_null_safety(spark):
    """from_json must null out malformed JSON, missing keys, and
    wrong-typed values without throwing; the n_events/n_with_k gap
    surfaces them."""
    from two_tier_document_parser_spark.events import props_rollup

    rows = [
        ("click", '{"k": 3}'),
        ("click", '{"k": 5, "extra": "x"}'),
        ("click", "not json at all"),
        ("click", '{"k": -4}'),             # negative int survives
        ("view", '{"other": 1}'),           # key missing
        ("view", '{"k": "str"}'),           # wrong type -> null
        ("view", '{"k": "7"}'),             # QUOTED numeric -> null
        ("view", '{"k": 3.5}'),             # float -> null (k INT)
        ("view", None),                      # null props
    ]
    ev = spark.createDataFrame(rows, "event_type string, props string")
    got = {
        r["event_type"]: (
            r["n_events"], r["n_with_k"], r["sum_k"], r["min_k"], r["max_k"]
        )
        for r in props_rollup(ev).collect()
    }
    want = {
        "click": (4, 3, 4, -4, 5),
        "view": (5, 0, None, None, None),
    }
    assert got == want
    # the DuckDB oracle must agree on the SAME adversarial rows (the
    # driver fixture is clean; this is where the null semantics bite)
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            "(%s, %s)"
            % (
                "'" + t + "'",
                "NULL" if p is None else "'" + p.replace("'", "''") + "'",
            )
            for t, p in rows
        )
        + ") AS t(event_type, props)"
    )
    oracle = {
        r[0]: tuple(r[1:])
        for r in con.sql(e.oracle_sql()["props_rollup"]).fetchall()
    }
    assert oracle == want


def test_snapshot_diff_hash_is_injective(spark):
    """Per-column-digest hashing: null vs a sentinel-looking string,
    and separator-straddling multi-column values, must all read as
    'changed' — the collisions naive concat-with-separator hashing
    admits."""
    from two_tier_document_parser_spark.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "x\x1f")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "\x01null"), (2, "x")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()
    }
    assert got == {1: "changed", 2: "changed"}

    # multi-column: content moving across the column boundary changes
    old2 = spark.createDataFrame(
        [(1, "x\x1f", "y")], "doc_id long, a string, b string"
    )
    new2 = spark.createDataFrame(
        [(1, "x", "\x1fy")], "doc_id long, a string, b string"
    )
    got2 = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(old2, new2, content_cols=("a", "b")).collect()
    }
    assert got2 == {1: "changed"}


def test_incremental_agg_update_matches_recompute(spark):
    """IVM correctness on a hand corpus covering every delta shape:
    a doc that changes VALUE, one that MOVES group (subtract from the
    old group, add to the new), a removed doc that empties its group
    (group must drop out), and an added doc creating a new group."""
    from two_tier_document_parser_spark.curation import (
        incremental_agg_update,
    )

    old = spark.createDataFrame(
        [
            (1, "en", 10),
            (2, "en", 20),   # value changes to 25
            (3, "fr", 30),   # moves to de
            (4, "it", 40),   # removed -> 'it' group empties
        ],
        "doc_id long, lang string, n_chars long",
    )
    new = spark.createDataFrame(
        [
            (1, "en", 10),
            (2, "en", 25),
            (3, "de", 30),
            (5, "es", 50),   # added, new group
        ],
        "doc_id long, lang string, n_chars long",
    )
    got = {
        r["lang"]: (r["n_docs"], r["sum_value"])
        for r in incremental_agg_update(old, new).collect()
    }
    # must equal a from-scratch recompute over `new`
    assert got == {"en": (2, 35), "de": (1, 30), "es": (1, 50)}
    assert "it" not in got and "fr" not in got


def test_incremental_agg_null_group_and_null_sum(spark):
    """SQL corner cases the merge must reproduce exactly: a NULL
    group is ONE group (null-safe merge join, like GROUP BY), and a
    group whose surviving values are all NULL reports sum NULL — not
    0 — matching a from-scratch recompute."""
    from two_tier_document_parser_spark.curation import (
        incremental_agg_update,
    )

    old = spark.createDataFrame(
        [
            (1, None, 10),    # NULL group, survives
            (2, None, 20),    # NULL group, removed
            (3, "en", 7),     # en's only non-null value — removed
            (4, "en", None),
        ],
        "doc_id long, lang string, n_chars long",
    )
    new = spark.createDataFrame(
        [
            (1, None, 10),
            (4, "en", None),
            (5, None, 5),     # added into the NULL group
        ],
        "doc_id long, lang string, n_chars long",
    )
    got = {
        r["lang"]: (r["n_docs"], r["sum_value"])
        for r in incremental_agg_update(old, new).collect()
    }
    # recompute over new: NULL-group = 2 docs sum 15 (ONE row);
    # en = 1 doc, all values NULL -> sum NULL
    assert got == {None: (2, 15), "en": (1, None)}


def test_funnel_counts_ordering_semantics(spark):
    """Funnel order is strict-by-anchor: a view BEFORE the user's
    first signup doesn't count; an equal timestamp does (inclusive);
    a user skipping a middle step can't complete later steps; an
    all-users-drop step still emits a zero row."""
    import datetime as dt

    from two_tier_document_parser_spark.events import funnel_counts

    t0 = dt.datetime(2024, 1, 1)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # user 1: full ordered funnel
        (1, 1, s(10), "signup"), (2, 1, s(20), "view"),
        (3, 1, s(30), "purchase"),
        # user 2: view BEFORE signup only -> completes step 1 only
        (4, 2, s(5), "view"), (5, 2, s(10), "signup"),
        # user 3: signup + view at the SAME second (inclusive) but
        # purchase BEFORE the view -> steps 1,2 only
        (6, 3, s(10), "signup"), (7, 3, s(10), "view"),
        (8, 3, s(5), "purchase"),
        # user 4: signup + purchase, no view -> step 1 only
        (9, 4, s(10), "signup"), (10, 4, s(50), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type"]
    )
    got = {
        r["step"]: (r["step_name"], r["n_users"])
        for r in funnel_counts(ev).collect()
    }
    assert got == {
        1: ("signup", 4),
        2: ("view", 2),      # users 1 and 3
        3: ("purchase", 1),  # user 1 only
    }
    # zero-survivor tail step still emits a row
    got2 = {
        r["step"]: r["n_users"]
        for r in funnel_counts(
            ev, steps=("signup", "view", "error")
        ).collect()
    }
    assert got2 == {1: 4, 2: 2, 3: 0}


def test_media_text_pairs_caption_policy(spark):
    """Export policy: explicit figure label wins; otherwise the
    NEARER context span (following when strictly closer, preceding on
    ties); context-free image exports with a null caption; a doc
    referencing the SAME asset twice still yields exactly one row per
    image span (order-disambiguated join, no fan-out); every image
    payload is a real PNG."""
    from two_tier_document_parser_spark.multimodal import media_text_pairs
    from two_tier_document_parser_spark.png import png_dims

    bb = [0, 0, 4, 4]
    docs = spark.createDataFrame(
        [
            ("d1", [
                ("text", "before", "", 0, bb),
                ("image", "", "img_a", 1, bb),     # tie prev/next -> prev
                ("text", "after", "", 2, bb),
                ("image", "", "img_b", 3, bb),     # next is labeled
                ("text", "Figure 1: chart", "", 4, bb),
            ]),
            ("d2", [
                ("image", "", "img_c", 0, bb),     # no context at all
                ("page_break", "", "", 1, bb),
            ]),
            ("d3", [
                ("text", "far", "", 0, bb),
                ("page_break", "", "", 1, bb),
                ("image", "", "img_d", 2, bb),     # next strictly nearer
                ("text", "near caption", "", 3, bb),
            ]),
            # SAME media_ref twice in one doc: must stay 1:1
            ("d4", [
                ("text", "left", "", 0, bb),
                ("image", "", "dup", 1, bb),
                ("text", "mid", "", 2, bb),
                ("image", "", "dup", 3, bb),
                ("text", "right", "", 4, bb),
            ]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,order:int,bbox:array<int>>>",
    )
    out = media_text_pairs(docs).collect()
    rows = {(r["doc_id"], r["media_ref"], r["order"]): r for r in out}
    assert len(out) == len(rows) == 6  # 1 row per image span, no fan-out
    get = lambda k: (rows[k]["caption"], rows[k]["caption_source"])
    assert get(("d1", "img_a", 1)) == ("before", "preceding")
    assert get(("d1", "img_b", 3)) == ("Figure 1: chart", "labeled_caption")
    assert get(("d2", "img_c", 0)) == (None, "none")
    assert get(("d3", "img_d", 2)) == ("near caption", "following")
    assert get(("d4", "dup", 1)) == ("left", "preceding")
    assert get(("d4", "dup", 3)) == ("mid", "preceding")
    for r in out:
        assert png_dims(bytes(r["payload"])) is not None  # real PNG


def test_jpeg_media_real_dims_and_dhash(spark):
    """Round-3 verdict task #4 closure at the Spark surface: a
    baseline-JPEG payload gets REAL dims from the SOF0 header in
    extract_media_features (not the hash stub), and media_dhash
    decodes real pixels (T.81 huffman+IDCT): its dHash equals the
    dHash of the JPEG decode re-encoded as PNG."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from test_jpeg import _test_image, encode_gray_jpeg

    from two_tier_document_parser_spark.jpeg import decode_jpeg_gray
    from two_tier_document_parser_spark.multimodal import (
        extract_media_features,
        media_dhash,
    )
    from two_tier_document_parser_spark.png import encode_png_gray

    img = _test_image(24, 48, seed=11)
    payload = encode_gray_jpeg(img)
    media = spark.createDataFrame(
        [("d1", "page_0_img_0", "image", payload)],
        "doc_id string, media_ref string, kind string, payload binary",
    )
    (f,) = extract_media_features(media).collect()
    assert (f["width"], f["height"]) == (48, 24)  # real SOF0 dims

    png = encode_png_gray(decode_jpeg_gray(payload))
    both = media.union(spark.createDataFrame(
        [("d2", "page_0_img_0", "image", png)], media.schema
    ))
    got = {r.doc_id: (r.dhash, r.real_pixels)
           for r in media_dhash(both).collect()}
    assert got["d1"] == got["d2"]
    assert got["d1"][1] is True


def test_lsh_near_dup_cap_is_observable(spark):
    """Round-3 advice: max_bucket must not drop candidate pairs
    silently. The returned DataFrame's lsh_dropped diagnostics report
    how many buckets/ids the skew guard dropped; max_bucket=None
    keeps the uncapped behavior."""
    from two_tier_document_parser_spark.similarity import (
        lsh_near_dup_pairs,
    )

    # 6 identical vectors: every table hashes them into ONE bucket of
    # size 6 > max_bucket=5 -> all pairs dropped, observation fires
    rows = [(i, [1.0, 0.0, 1.0, 0.5]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    capped = lsh_near_dup_pairs(
        emb, threshold_x100=90, n_planes=4, n_tables=3, max_bucket=5
    )
    assert capped.count() == 0
    (m,) = capped.lsh_dropped.collect()
    assert m["dropped_buckets"] >= 1
    assert m["dropped_ids"] >= 6
    # uncapped: all 15 pairs of identical vectors survive
    uncapped = lsh_near_dup_pairs(
        emb, threshold_x100=90, n_planes=4, n_tables=3, max_bucket=None
    )
    assert uncapped.count() == 15
    assert uncapped.lsh_dropped is None
    # a corpus with no viral bucket reports zero drops
    import numpy as np

    rng = np.random.default_rng(4)
    spread = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(20)],
        "vec_id int, embedding array<double>",
    )
    ok = lsh_near_dup_pairs(spread, threshold_x100=99, n_planes=4,
                            n_tables=2, max_bucket=2000)
    ok.count()
    (m2,) = ok.lsh_dropped.collect()
    assert m2["dropped_buckets"] == 0 and m2["dropped_ids"] == 0


def test_zero_embedding_never_pairs_or_ranks(spark):
    """An all-zero embedding (an empty document embeds to one) has no
    cosine: the float near-dup and top-k operators leave it out instead
    of failing the query with an ANSI division by zero, and the DuckDB
    oracles of the driver queries agree."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from two_tier_document_parser_spark.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_near_dup_pairs,
        lsh_topk,
        near_dup_pairs,
    )

    vecs = [[1.0, 0.5, 0.0, 0.25], [0.9, 0.6, 0.1, 0.2], [0.0] * 4]
    emb = spark.createDataFrame(list(enumerate(vecs)),
                                "vec_id long, embedding array<float>")
    queries = emb.select(F.col("vec_id").alias("query"),
                         F.col("embedding").alias("qvec"))
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)",
                    list(enumerate(vecs)))
    pairs = {(0, 1)}
    assert {tuple(r) for r in near_dup_pairs(emb).collect()} == pairs
    assert {tuple(r) for r in lsh_near_dup_pairs(emb).collect()} == pairs
    assert set(con.execute(e._emb_near_dups_sql()).fetchall()) == pairs
    ranked = {(0, 1, 1), (1, 0, 1)}
    for topk in (brute_force_topk(emb, queries),
                 ivf_topk(emb, queries, n_cells=2, n_probe=2),
                 lsh_topk(emb, queries)):
        assert {tuple(r) for r in topk.collect()} == ranked
    assert set(con.execute(e._knn_sql()).fetchall()) == ranked


def test_minhash_kernel_equals_relational(spark):
    """The map-only mapInPandas MinHash kernel must be bit-identical
    to the relational (oracle-shaped) form — same ASCII whitespace
    split, same lowercasing, same md5 hex lexicographic min — on both
    string and bigint keys, including short docs (< k tokens emit no
    signature) and Unicode whitespace (Java \\s is ASCII-only; a
    NBSP-joined pair must stay ONE token in both forms)."""
    from two_tier_document_parser_spark.dedup import (
        minhash_bands,
        minhash_bands_relational,
    )

    rows = [
        (1, "alpha beta gamma delta alpha beta gamma"),
        (2, "alpha beta"),  # < k tokens: no signature rows
        (3, "one two three four five"),  # NBSP is NOT a separator
        (4, "Tab\tand  newline\nsplit like spark does"),
        (5, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = minhash_bands(d)
    b = minhash_bands_relational(d)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.filter("key = 2").count() == 0
    s = spark.createDataFrame(
        [(str(k), t) for k, t in rows], "doc_id string, text string"
    )
    a2, b2 = minhash_bands(s), minhash_bands_relational(s)
    assert a2.exceptAll(b2).count() == 0 and b2.exceptAll(a2).count() == 0
    assert [f.dataType for f in a2.schema.fields] == [
        f.dataType for f in b2.schema.fields
    ]


def test_repetition_stats_hand_docs(spark):
    from two_tier_document_parser_spark.textstats import repetition_stats

    d = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # 5 2-grams: "a b" x3, "b a" x2
            (2, "x y z w"),       # 3 distinct 2-grams, no repetition
            (3, "solo"),          # < 2 tokens -> zeros
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(d).collect()}
    assert got[1]["n_2grams"] == 5
    assert got[1]["dup_2gram_x1000"] == 600   # (5-2)*1000 div 5
    assert got[1]["top_2gram_x1000"] == 600   # 3*1000 div 5
    assert got[1]["repetitive"] is True
    assert got[2]["n_2grams"] == 3
    assert got[2]["dup_2gram_x1000"] == 0
    assert got[2]["repetitive"] is False
    assert got[3]["n_2grams"] == 0 and got[3]["repetitive"] is False


def test_substring_overlap_hand_docs(spark):
    from two_tier_document_parser_spark.dedup import substring_overlap

    # docs 1/2 share the verbatim run "p q r s t" (two distinct
    # 4-shingles); doc 3 shares only ONE shingle with doc 1 (below
    # min_shared); doc 4 is disjoint
    d = spark.createDataFrame(
        [
            (1, "p q r s t u v"),
            (2, "z z p q r s t"),
            (3, "q r s t nine eight"),  # shares "q r s t" only
            (4, "completely different words here"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        (r["a"], r["b"]): r["n_shared"]
        for r in substring_overlap(d, k=4, min_shared=2).collect()
    }
    assert got == {(1, 2): 2}
    # min_shared=1 admits the single-shingle pairs too
    got1 = {
        (r["a"], r["b"])
        for r in substring_overlap(d, k=4, min_shared=1).collect()
    }
    assert got1 == {(1, 2), (1, 3), (2, 3)}


def test_stratified_sample_rates_and_determinism(spark):
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.textstats import stratified_sample

    d = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(4000)],
        "doc_id bigint, lang string",
    )
    kept = stratified_sample(
        d, rates_permille={"en": 100}, default_permille=500
    )
    counts = {r["lang"]: r["n"] for r in
              kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 2000 per stratum; en ~10% and fr ~50% within sampling noise
    assert 130 <= counts.get("en", 0) <= 270
    assert 900 <= counts.get("fr", 0) <= 1100
    # deterministic: re-evaluation yields the identical keep set
    ids1 = {r["doc_id"] for r in kept.collect()}
    ids2 = {r["doc_id"] for r in stratified_sample(
        d, rates_permille={"en": 100}, default_permille=500).collect()}
    assert ids1 == ids2


def test_lsh_candidate_pairs_drop_observability(spark):
    """dedup.lsh_candidate_pairs mirrors similarity's no-silent-caps
    contract: a capped bucket is countable via .lsh_dropped, and
    max_bucket=None restores exhaustive pairing with no counter."""
    from two_tier_document_parser_spark.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
    )

    # 12 identical docs -> every band bucket holds all 12 signatures
    d = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(12)],
        "doc_id bigint, text string",
    )
    sig = minhash_bands(d)
    capped = lsh_candidate_pairs(sig, max_bucket=10)
    assert capped.count() == 0
    (m,) = capped.lsh_dropped.collect()
    assert m["dropped_buckets"] == 4 and m["dropped_rows"] == 48
    uncapped = lsh_candidate_pairs(sig, max_bucket=None)
    assert uncapped.count() == 66  # C(12,2)
    assert uncapped.lsh_dropped is None


def test_components_free_superseded_checkpoints(spark):
    """Iterative component labeling must not accumulate one
    checkpoint per round (the 5M-doc soak filled the disk exactly
    that way): after convergence only the per-call constants — node
    set and final frame — may remain in the block manager."""
    from two_tier_document_parser_spark.dedup import (
        connected_components,
        connected_components_star,
    )

    sc = spark.sparkContext

    def stored() -> int:
        return len(sc._jsc.sc().getRDDStorageInfo())

    base = stored()
    # a 200-node path graph needs multiple star rounds (and ~100
    # min-label rounds) to converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["a", "b"]
    )
    out = connected_components_star(pairs)
    assert {r["comp"] for r in out.select("comp").distinct().collect()} == {0}
    grew_star = stored() - base
    assert grew_star <= 2, f"star leaked {grew_star} checkpoints"

    # min-label needs O(diameter) rounds — use a shorter path that
    # still takes ~40 of them
    pairs2 = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["a", "b"]
    )
    out2 = connected_components(pairs2)
    assert {r["comp"] for r in out2.select("comp").distinct().collect()} == {0}
    grew_both = stored() - base
    assert grew_both <= 4, f"min-label leaked {grew_both - grew_star}"


def test_semantic_dedup_hand_vectors(spark):
    """SemDeDup decisions on a hand graph: {1,2,3} are mutually/
    transitively near-identical (1~2, 2~3 but 1!~3 — the transitive
    case the pairwise near-dup queries can't express), {4} near-dups
    nothing. Keep = exactly the component minima."""
    from two_tier_document_parser_spark.similarity import semantic_dedup

    v = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.44, 0.0]),   # cos(1,2)=0.898 >= .85
        (3, [0.62, 0.78, 0.0]),  # cos(2,3)=0.899, cos(1,3)=0.619 < .85
        (4, [0.0, 0.0, 1.0]),    # orthogonal to all
    ]
    emb = spark.createDataFrame(v, "vec_id bigint, embedding array<float>")
    got = {
        r["vec_id"]: (r["rep_id"], r["keep"])
        for r in semantic_dedup(
            emb, threshold_x100=85, n_planes=2, n_tables=16
        ).collect()
    }
    assert got == {1: (1, 1), 2: (1, 0), 3: (1, 0), 4: (4, 1)}


def test_semantic_dedup_matches_exact_pipeline(spark):
    """Differential: the LSH-bucketed decisions equal the exact
    all-pairs pipeline (near_dup_pairs -> components -> keep-min) on
    the sf0.001 embeddings — the same argument the oracle makes."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.dedup import (
        connected_components_star,
    )
    from two_tier_document_parser_spark.similarity import (
        near_dup_pairs,
        semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["vec_id"]: (r["rep_id"], r["keep"])
        for r in semantic_dedup(
            emb, threshold_x100=44, n_planes=4, n_tables=48
        ).collect()
    }
    comps = connected_components_star(near_dup_pairs(emb, 44))
    lbl = {r["doc_id"]: r["comp"] for r in comps.collect()}
    want = {}
    for r in emb.select("vec_id").collect():
        rep = lbl.get(r["vec_id"], r["vec_id"])
        want[r["vec_id"]] = (rep, 1 if rep == r["vec_id"] else 0)
    assert got == want
    # exactly one keeper per duplicate group
    keeps = {k for k, (rep, kp) in got.items() if kp}
    assert keeps == {rep for rep, _ in got.values()}


def test_source_mixture_hand_counts(spark):
    """alpha=0.5 micro-weights and ppm shares, hand-computed:
    sources with 100/400 docs -> weights 10e6/20e6 -> shares
    333333/666667 ppm."""
    from two_tier_document_parser_spark.curation import (
        source_mixture_weights,
    )

    rows = [(i, "small" if i < 100 else "big") for i in range(500)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string")
    got = {
        r["source"]: (r["n_docs"], r["weight_micro"], r["share_ppm"])
        for r in source_mixture_weights(d, temperature_x100=50).collect()
    }
    assert got["small"] == (100, 10_000_000, 333333)
    assert got["big"] == (400, 20_000_000, 666667)
    # alpha=1 reproduces proportional shares
    got1 = {
        r["source"]: r["share_ppm"]
        for r in source_mixture_weights(d, temperature_x100=100).collect()
    }
    assert got1 == {"small": 200000, "big": 800000}


def test_incremental_semantic_dedup_hand_vectors(spark):
    """New-batch decisions on a hand case: new 10 duplicates old 1,
    new 20 is novel; old x old similarity (1~2) must NOT surface
    anywhere in the output."""
    from two_tier_document_parser_spark.similarity import (
        incremental_semantic_dedup,
    )

    old = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.44, 0.0]),  # near-dups old 1 — irrelevant
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    new = spark.createDataFrame(
        [
            (10, [0.95, 0.1, 0.0]),  # cos vs old1 = .994, old2 = .897
            (20, [0.0, 0.0, 1.0]),   # orthogonal to everything
        ],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["status"], r["matched_old"])
        for r in incremental_semantic_dedup(
            new, old, threshold_x100=85, n_planes=2, n_tables=16
        ).collect()
    }
    assert got == {10: ("dup", 1), 20: ("novel", None)}


def test_incremental_semantic_dedup_matches_exact(spark):
    """Differential on sf0.001: the LSH new x old decisions equal the
    exact cross-join formulation at full-recall parameters."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.similarity import (
        _cosine_pre,
        _norm,
        incremental_semantic_dedup,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    new = emb.filter(F.col("vec_id") % 8 == 0)
    old = emb.filter(F.col("vec_id") % 8 != 0)
    got = {
        r["vec_id"]: (r["status"], r["matched_old"])
        for r in incremental_semantic_dedup(
            new, old, threshold_x100=44, n_planes=4, n_tables=48
        ).collect()
    }
    a = new.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("avec"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = old.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").alias("bvec"),
        _norm(F.col("embedding")).alias("nb"),
    )
    exact_hits = {
        r["a"]: r["mo"]
        for r in a.crossJoin(b)
        .filter(
            F.round(
                _cosine_pre(
                    F.col("avec"), F.col("bvec"), F.col("na"), F.col("nb")
                ),
                6,
            )
            >= 0.44
        )
        .groupBy("a")
        .agg(F.min("b").alias("mo"))
        .collect()
    }
    want = {
        r["vec_id"]: (
            ("dup", exact_hits[r["vec_id"]])
            if r["vec_id"] in exact_hits
            else ("novel", None)
        )
        for r in new.select("vec_id").collect()
    }
    assert got == want


def test_semantic_rep_by_score_hand_vectors(spark):
    """Keep-policy window: the component {1,2,3} keeps its max-label
    member (2, label 9) — NOT the min id — and every member points at
    it; the singleton keeps itself. Tie on label resolves to the
    smaller id (4 vs 5 in a two-node component, both label 7)."""
    from two_tier_document_parser_spark.similarity import (
        semantic_rep_by_score,
    )

    v = [
        (1, [1.0, 0.0, 0.0], 5),
        (2, [0.9, 0.44, 0.0], 9),
        (3, [0.62, 0.78, 0.0], 1),
        (4, [0.0, 0.0, 1.0], 7),
        (5, [0.0, 0.1, 1.0], 7),  # cos(4,5)=0.995
        (6, [0.5, -0.8, 0.1], 3),  # singleton
    ]
    emb = spark.createDataFrame(
        v, "vec_id bigint, embedding array<float>, label int"
    )
    got = {
        r["vec_id"]: (r["rep_id"], r["keep"])
        for r in semantic_rep_by_score(
            emb, score_col="label", threshold_x100=85,
            n_planes=2, n_tables=16,
        ).collect()
    }
    assert got == {
        1: (2, 0), 2: (2, 1), 3: (2, 0),
        4: (4, 1), 5: (4, 0), 6: (6, 1),
    }


def test_ccnet_bucket_semantics(spark):
    """Bucketing invariants on sf0.001 documents: every (lang) group
    splits into near-equal tercile counts (ntile contract), bucket-1
    docs have avg log-commonness >= bucket-3 docs within the same
    lang, and the integer columns agree with a pandas recomputation
    of floor(log2(global count)) sums."""
    import math
    from collections import Counter, defaultdict

    from two_tier_document_parser_spark.textstats import ccnet_bucket

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = ccnet_bucket(docs).collect()
    # independent recomputation
    raw = docs.select("doc_id", "lang", "text").collect()
    gfreq = Counter(
        t for r in raw for t in r["text"].split() if t != ""
    )
    for r in rows:
        src = next(x for x in raw if x["doc_id"] == r["doc_id"])
        toks = [t for t in src["text"].split() if t != ""]
        assert r["n_tokens"] == len(toks)
        assert r["logfreq_sum"] == sum(
            int(math.floor(math.log2(gfreq[t]))) for t in toks
        )
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    for lang, grp in by_lang.items():
        counts = Counter(r["bucket"] for r in grp)
        assert set(counts) <= {1, 2, 3}
        assert max(counts.values()) - min(counts.values()) <= 1
        score = lambda r: r["logfreq_sum"] / r["n_tokens"]
        b1 = [score(r) for r in grp if r["bucket"] == 1]
        b3 = [score(r) for r in grp if r["bucket"] == 3]
        if b1 and b3:
            assert min(b1) >= max(b3)
