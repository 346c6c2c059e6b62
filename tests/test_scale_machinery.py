"""Scale machinery: checkpoint/resume, training-data operators
(dedup/similarity/multimodal)."""

from __future__ import annotations

import hashlib
import json

import pytest

from conftest import FIXTURES
from make_fixtures import SEED


def _assert_golden(rows, n_expected):
    golden = json.loads((FIXTURES / "golden_hashes.json").read_text())
    assert len(rows) == n_expected
    for row in rows:
        g = golden[row.doc_id]
        canon = json.dumps(
            [[s.kind, s.text, s.media_ref, s.order] for s in row.spans],
            ensure_ascii=False,
            separators=(",", ":"),
        )
        assert hashlib.sha256(canon.encode()).hexdigest() == g["spans_sha"], row.doc_id
        assert hashlib.sha256(row.markdown.encode()).hexdigest() == g["md_sha"], row.doc_id
        assert (row.tier, row.pages, list(row.skipped_pages)) == (
            g["tier"], g["pages"], g["skipped_pages"],
        ), row.doc_id


def test_checkpoint_kill_and_resume(spark, tmp_path):
    """SURVEY §5.2.5: resume-after-kill equals single-run output and
    re-running a completed job is a no-op."""
    from two_tier_document_parser_spark.checkpoint import CheckpointedExtract
    from two_tier_document_parser_spark.synth import synth_spark

    out_path = str(tmp_path / "out")
    ck = CheckpointedExtract(spark, out_path)

    # "crashed" first run: only half the corpus was committed
    half = synth_spark(spark, 100, SEED, partitions=4)
    run1 = ck.run(half)
    assert ck.result().count() == 100

    # resume over the full corpus: only the remainder is processed
    full = synth_spark(spark, 200, SEED, partitions=4)
    run2 = ck.run(full)
    res = ck.result()
    assert res.count() == 200
    assert res.select("doc_id").distinct().count() == 200
    _assert_golden(res.collect(), 200)

    # re-run is a no-op (no new docs)
    run3 = ck.run(full)
    assert ck.result().count() == 200

    # lineage metrics exist for every run
    lin = ck.metrics().collect()
    assert {r.run_id for r in lin} >= {run1, run2}
    assert sum(r.n_docs for r in lin if r.run_id in (run1, run2)) == 200


def test_resume_is_range_pruned(spark, tmp_path):
    """Resume prunes with the lineage (doc_id_min, doc_id_max) ranges:
    input outside every committed range bypasses the anti-join via a
    range predicate (visible in the optimized plan), only the boundary
    portion joins — and the pruned plan selects exactly the same
    pending set as the full anti-join."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.checkpoint import (
        CheckpointedExtract,
        merge_ranges,
    )
    from two_tier_document_parser_spark.synth import synth_spark

    assert merge_ranges([("d3", "d5"), ("d1", "d4"), ("d7", "d8")]) == [
        ("d1", "d5"), ("d7", "d8"),
    ]
    # term cap: coarsening bridges narrowest gaps, stays sorted and
    # covering (sound: only widens the anti-join side)
    many = [(f"d{i:04d}0", f"d{i:04d}5") for i in range(0, 500, 2)]
    capped = merge_ranges(many, max_terms=10)
    assert len(capped) == 10
    assert capped == sorted(capped)
    assert capped[0][0] == "d00000" and capped[-1][1] == "d04985"

    ck = CheckpointedExtract(spark, str(tmp_path / "out"))
    first = synth_spark(spark, 100, SEED, partitions=4)
    ck.run(first)
    ranges = ck.committed_ranges()
    assert ranges, "lineage must yield committed ranges"

    full = synth_spark(spark, 200, SEED, partitions=4)
    todo = ck.pending(full)
    plan = todo._jdf.queryExecution().optimizedPlan().toString()
    # the range predicate appears (pruned branch), not just the join
    assert "doc_id#" in plan and ">=" in plan and "<=" in plan
    assert "LeftAnti" in plan  # boundary portion still anti-joins
    # pruned plan == full anti-join, row for row
    expected = {
        r.doc_id
        for r in full.join(
            ck.committed_doc_ids(), "doc_id", "left_anti"
        ).select("doc_id").collect()
    }
    got = {r.doc_id for r in todo.select("doc_id").collect()}
    assert got == expected and len(got) == 100

    # docs fully outside the committed ranges never enter the join:
    # the anti-join side's filter keeps only the range predicate rows
    inside_count = full.filter(
        F.lit(False)
        | F.col("doc_id").between(ranges[0][0], ranges[-1][1])
    ).count()
    assert inside_count < 200  # pruning is actually non-trivial here


def test_simhash_matches_scalar(spark):
    """Vectorized SimHash vs independent scalar computation."""
    import hashlib as hl

    from two_tier_document_parser_spark.dedup import simhash64

    texts = ["the data engine", "table layout parser engine", "a", ""]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.key: r.simhash for r in simhash64(df).collect()}

    def scalar(t):
        toks = t.lower().split()
        if not toks:
            return 0
        acc = [0] * 64
        for tok in toks:
            h = int.from_bytes(hl.md5(tok.encode()).digest()[:8], "big")
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        sig = 0
        for b in range(64):
            if acc[b] > 0:
                sig |= 1 << b
        return sig - (1 << 64) if sig >= (1 << 63) else sig

    for i, t in enumerate(texts):
        assert got[i] == scalar(t), t


def test_lsh_ann_recall(spark):
    """Multi-table SRP-LSH must recover a decent fraction of the true
    top-10 (recall >= 0.3 on structureless random vectors is already meaningful —
    buckets see ~1/2^6 of candidates per table)."""
    from pyspark.sql import functions as F
    from two_tier_document_parser_spark.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query"), F.col("embedding").alias("qvec")
    )
    exact = {(r.query, r.candidate) for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {(r.query, r.candidate) for r in lsh_topk(emb, q, k=10).collect()}
    assert len(approx) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall


def test_media_features_stub(spark):
    from pyspark.sql import functions as F
    from two_tier_document_parser_spark.multimodal import (
        extract_media_features,
        media_side_table,
    )
    from two_tier_document_parser_spark.pipeline import extract
    from two_tier_document_parser_spark.synth import synth_spark

    out = extract(spark, synth_spark(spark, 100, SEED, partitions=4))
    media = media_side_table(out)
    feats = extract_media_features(media).collect()
    assert len(feats) > 0
    kinds = {f.kind for f in feats}
    assert kinds <= {"image", "table", "formula"}
    for f in feats[:40]:
        assert f.feat_ok and len(f.sha256) == 64
        if f.kind == "image":
            # PNG payload: REAL dims decoded from IHDR, bounded by the
            # crop cap
            assert 1 <= f.width <= 64 and 1 <= f.height <= 64
        else:
            assert 16 <= f.width < 80  # hash-stub dims for text media


def test_pixel_true_crop_from_page_raster(spark):
    """Round-2 verdict task #5: with a (doc_id, page, raster)
    capability table present, image artifact payloads are PIXEL-TRUE
    crops of the decoded page raster (bbox in page points, y-flipped),
    byte-equal to slicing the source array directly; docs without a
    raster keep the procedural crop."""
    import numpy as np

    from two_tier_document_parser_spark.multimodal import media_side_table
    from two_tier_document_parser_spark.pipeline import extract, ship_package
    from two_tier_document_parser_spark.png import (
        PAGE_H_PT,
        PAGE_W_PT,
        artifact_png,
        crop_from_raster,
        decode_png_gray,
        encode_png_gray,
        png_dims,
    )
    from two_tier_document_parser_spark.synth import synth_spark

    ship_package(spark)
    out = extract(spark, synth_spark(spark, 60, 42, partitions=2))

    # one deterministic gradient page raster per (doc, page 0)
    pw, ph = 306, 396  # half-scale page
    y, x = np.mgrid[0:ph, 0:pw]
    page = ((3 * x + 7 * y) % 256).astype(np.uint8)
    raster_png = encode_png_gray(page)
    # round-trip sanity of the decoder itself
    assert np.array_equal(decode_png_gray(raster_png), page)

    img_rows = [
        r
        for r in media_side_table(out).collect()
        if r["kind"] == "image" and r["media_ref"].startswith("page_0_")
    ]
    assert img_rows, "fixture corpus must contain page-0 images"
    some_doc = img_rows[0]["doc_id"]

    rasters = spark.createDataFrame(
        [(some_doc, 0, bytearray(raster_png))],
        "doc_id string, page int, raster binary",
    )
    media = {
        (r["doc_id"], r["media_ref"]): bytes(r["payload"])
        for r in media_side_table(out, rasters).collect()
        if r["kind"] == "image"
    }

    # find the bbox the span carried to verify the exact slice
    spans = {
        (some_doc, s["media_ref"]): list(s["bbox"])
        for r in out.filter(out.doc_id == some_doc).collect()
        for s in r["spans"]
        if s["kind"] == "image"
    }
    checked = 0
    for (doc, ref), bbox in spans.items():
        if not ref.startswith("page_0_") or not bbox:
            continue
        got = media[(doc, ref)]
        expect = crop_from_raster(raster_png, bbox)
        assert got == expect
        # and crop_from_raster really is the array slice:
        x0 = max(0, min(pw - 1, bbox[0] * pw // PAGE_W_PT))
        x1 = max(x0 + 1, min(pw, -(-bbox[2] * pw // PAGE_W_PT)))
        yt = max(0, min(ph - 1, (PAGE_H_PT - bbox[3]) * ph // PAGE_H_PT))
        yb = max(yt + 1, min(ph, -(-(PAGE_H_PT - bbox[1]) * ph // PAGE_H_PT)))
        assert got == encode_png_gray(np.ascontiguousarray(page[yt:yb, x0:x1]))
        assert png_dims(got) == (x1 - x0, yb - yt)
        checked += 1
    assert checked > 0

    # docs WITHOUT a raster row keep the procedural payload
    others = [
        (doc, ref)
        for (doc, ref) in media
        if doc != some_doc and ref.startswith("page_0_")
    ]
    if others:
        doc, ref = others[0]
        span_bbox = {
            (r["doc_id"], s["media_ref"]): (s["text"], list(s["bbox"]))
            for r in out.collect()
            for s in r["spans"]
            if s["kind"] == "image"
        }
        t, bb = span_bbox[(doc, ref)]
        assert media[(doc, ref)] == artifact_png(t or "", bb)


def _iceberg_jars() -> list:
    import glob
    import os

    import pyspark

    return glob.glob(
        os.path.join(
            os.path.dirname(pyspark.__file__), "jars", "iceberg-spark-runtime*"
        )
    )


def test_open_table_rejects_iceberg_without_runtime(spark):
    """Without the runtime jar, the iceberg: target fails fast with a
    clear message instead of a deep ClassNotFound later."""
    import pytest as _pytest

    from two_tier_document_parser_spark.table_io import (
        iceberg_available,
        open_table,
    )

    if _iceberg_jars() or iceberg_available(spark):
        _pytest.skip("iceberg runtime present; covered by the roundtrip test")
    try:
        open_table(spark, "iceberg:local.db.t")
        raise AssertionError("expected RuntimeError")
    except RuntimeError as e:
        assert "iceberg-spark-runtime" in str(e)


def test_iceberg_io_roundtrip(spark, tmp_path):
    """North-rule table format: IcebergIO append/read/snapshot-listing
    round-trip. Runs whenever iceberg-spark-runtime is on the
    classpath (conditionally skipped in jarless sandboxes, so the
    code path activates the moment a runtime jar appears)."""
    import pytest as _pytest

    from two_tier_document_parser_spark.table_io import (
        iceberg_available,
        open_table,
    )

    if not (_iceberg_jars() or iceberg_available(spark)):
        _pytest.skip("iceberg-spark-runtime jar not on the classpath")

    spark.conf.set(
        "spark.sql.catalog.ttdp_test", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.ttdp_test.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.ttdp_test.warehouse", str(tmp_path / "wh")
    )
    spark.sql(
        "CREATE TABLE ttdp_test.db.docs (doc_id string, n int) USING iceberg"
    )
    io = open_table(spark, "iceberg:ttdp_test.db.docs")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "doc_id string, n int")
    io.append(df, "r1")
    assert io.read().count() == 2
    io.append(spark.createDataFrame([("c", 3)], "doc_id string, n int"), "r2")
    assert io.read().count() == 3
    assert len(io.committed_runs()) >= 2  # one snapshot per append


def test_binary_ingestion_roundtrip_to_golden(spark):
    """O1 bytes-in contract: synth corpus serialized into the TTDP1
    binary container, decoded back inside the Arrow kernel, run
    through the full cascade — output must equal the goldens, i.e.
    `binary -> documents_raw -> documents_out` is lossless."""
    from test_engine_golden import _check_against_golden

    from two_tier_document_parser_spark.binary_io import (
        decode_table,
        encode_table,
    )
    from two_tier_document_parser_spark.pipeline import extract
    from two_tier_document_parser_spark.synth import synth_spark

    raw = synth_spark(spark, 200, 42, partitions=5)
    decoded = decode_table(encode_table(raw))
    _check_against_golden(extract(spark, decoded).collect(), expected_n=200)


def test_binary_decode_quarantines_malformed(spark):
    """Corrupt payloads become quarantine rows through the full
    pipeline (error channel O19) — never an exception."""
    from two_tier_document_parser_spark.binary_io import (
        decode_table,
        encode_doc,
    )
    from two_tier_document_parser_spark.pipeline import extract
    from two_tier_document_parser_spark.synth import synth_docs

    good = synth_docs(0, 1, 42)[0]
    rows = [
        (good["doc_id"], bytearray(encode_doc(good))),
        ("corrupt1", bytearray(b"NOTTTDP-garbage")),
        ("corrupt2", bytearray(encode_doc(good)[:25])),
    ]
    bin_df = spark.createDataFrame(rows, "doc_id string, payload binary")
    out = {r.doc_id: r for r in extract(spark, decode_table(bin_df)).collect()}
    assert out[good["doc_id"]].tier in ("fast", "deep")
    assert out["corrupt1"].tier == "error"
    assert out["corrupt2"].tier == "error"


def test_fused_kernel_size_cap_quarantine():
    """Oversize docs (reference 413 semantics) come out of the fused
    kernel as tier='error' rows with the cap reason — in-band, no
    exception, valid neighbours unaffected."""
    import pyarrow as pa

    from two_tier_document_parser_spark.pipeline import fused_batches
    from two_tier_document_parser_spark.spec import (
        T1_MAX_SPANS,
        too_large_reason,
    )

    span = {"kind": "text", "text": "the data of the engine", "media_ref": "",
            "offset": 0}
    batch = pa.RecordBatch.from_pylist(
        [
            {"doc_id": "ok", "doc_class": "html", "spans": [span] * 5},
            {"doc_id": "big", "doc_class": "html",
             "spans": [span] * (T1_MAX_SPANS + 1)},
        ]
    )
    rows = {
        r["doc_id"]: r
        for ob in fused_batches(iter([batch]))
        for r in ob.to_pylist()
    }
    assert rows["ok"]["tier"] == "fast" and rows["ok"]["error"] == ""
    assert rows["big"]["tier"] == "error"
    assert rows["big"]["error"] == too_large_reason("fast")
    assert rows["big"]["spans"] == []


def test_tier_kernels_handle_empty_docs():
    """A zero-span page-doc (empty giant page) must not crash either
    kernel and must produce an empty one-page output row."""
    import pyarrow as pa

    from two_tier_document_parser_spark.tier1 import tier1_batches
    from two_tier_document_parser_spark.tier2 import tier2_batches

    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": "e1", "spans": []}],
    ).cast(
        pa.schema(
            [
                pa.field("doc_id", pa.string()),
                pa.field(
                    "spans",
                    pa.list_(
                        pa.struct(
                            [
                                ("kind", pa.string()),
                                ("text", pa.string()),
                                ("media_ref", pa.string()),
                                ("offset", pa.int32()),
                            ]
                        )
                    ),
                ),
            ]
        )
    )
    for fn in (tier1_batches, tier2_batches):
        outs = list(fn(iter([batch])))
        assert len(outs) == 1
        row = outs[0].to_pylist()[0]
        assert row["spans"] == [] and row["markdown"] == ""
        assert row["pages"] in (0, 1)


def test_empty_text_doc_oracle_parity(spark, tmp_path):
    """Latent-corpus regression (review findings): documents whose
    text tokenizes to nothing must agree between engine and oracle for
    simhash (engine emits simhash=0 rows) and binary_ingest (the
    adapter lifts one empty text span)."""
    import duckdb

    import __spark_entry__ as e
    from parity_harness import compare_frames

    rows = [
        (0, "alpha beta gamma", "en", "src0", 16),
        (1, "", "en", "src0", 0),
        (2, "   ", "en", "src1", 3),
        (3, "delta", "fr", "src1", 5),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{tmp_path}/documents.parquet/*.parquet')"
    )
    for name in ("simhash", "binary_ingest"):
        diff = compare_frames(
            e.queries()[name](spark, str(tmp_path)),
            con.sql(e.oracle_sql()[name]),
        )
        assert diff is None, f"{name}: {diff}"


def test_entry_paths_agree_on_quarantine(spark):
    """Every entry path runs the one routing rule (routing.route):
    extract() and the facade's tier="auto" route the same documents to
    the same tier and quarantine the rest with the same reason (a null
    doc_id comes out as '')."""
    from two_tier_document_parser_spark.api import parse_document
    from two_tier_document_parser_spark.pipeline import extract, ship_package
    from two_tier_document_parser_spark.spec import (
        REASON_INVALID,
        T1_MAX_SPANS,
        too_large_reason,
    )

    def span(kind, text):
        return {"kind": kind, "text": text, "media_ref": "", "offset": 0}

    text = [span("text", "hello world of the engine")] * 3
    boxed = [span("box", "60,40,940,400,text"), span("text", "hello world")] * 2
    # (doc_id, doc_class, n_pages, spans) -> (tier, error)
    table = [
        (("fast", "html", 1, text), ("fast", "")),
        (("deep", "pdfish", 1, boxed), ("deep", "")),
        ((None, "html", 1, text), ("error", REASON_INVALID)),
        (("empty", "html", 1, []), ("error", REASON_INVALID)),
        (("null_spans", "html", 1, None), ("error", REASON_INVALID)),
        (("zero_pages", "html", 0, text), ("error", REASON_INVALID)),
        (("null_pages", "html", None, text), ("fast", "")),
        (
            ("oversize", "html", 1, text[:1] * (T1_MAX_SPANS + 1)),
            ("error", too_large_reason("fast")),
        ),
    ]
    expected = {(d[0] or ""): want for d, want in table}

    ship_package(spark)
    raw = spark.createDataFrame(
        [d for d, _ in table],
        "doc_id string, doc_class string, n_pages int, spans "
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )

    def batch_rows(df):
        return {r["doc_id"]: (r["tier"], r["error"]) for r in df.collect()}

    def facade_row(doc):
        out = parse_document(dict(zip(("doc_id", "doc_class", "n_pages",
                                       "spans"), doc)))
        if "error" in out:
            return ("error", out["error"])
        return ("deep" if "images" in out else "fast", "")

    assert batch_rows(extract(spark, raw)) == expected
    assert {(d[0] or ""): facade_row(d) for d, _ in table} == expected


def test_extract_has_one_mode():
    """"fused" is the only extract path; any other mode is refused
    before a plan is built."""
    from two_tier_document_parser_spark.pipeline import extract

    with pytest.raises(ValueError, match="fused"):
        extract(None, None, mode="split")


def test_checkpoint_range_pruning_survives_noop_rerun(spark, tmp_path):
    """Review finding: a complete re-run commits a zero-doc run with
    zero lineage ROWS; coverage must come from the lineage manifest so
    range pruning stays enabled."""
    from two_tier_document_parser_spark.checkpoint import CheckpointedExtract
    from two_tier_document_parser_spark.pipeline import ship_package
    from two_tier_document_parser_spark.synth import synth_spark

    ship_package(spark)
    raw = synth_spark(spark, 40, partitions=2)
    ck = CheckpointedExtract(spark, str(tmp_path / "out"))
    ck.run(raw)
    assert ck.committed_ranges()  # pruning active after first run
    ck.run(raw)  # no-op resume: commits zero docs, zero lineage rows
    assert ck.committed_ranges() is not None  # still active
    assert ck.result().count() == 40  # and nothing reprocessed


def test_binary_container_width_guards():
    """Review findings: oversize fields are loud encode errors, never
    silent wraps; wild n_pages quarantines on decode."""
    import pytest

    from two_tier_document_parser_spark.binary_io import (
        MAGIC,
        encode_doc,
    )
    from two_tier_document_parser_spark.ingest import sniff_decode_doc

    doc = {
        "doc_id": "x", "doc_class": "html", "n_pages": 1,
        "spans": [{"kind": "image", "text": "", "media_ref": "r" * 70_000,
                   "offset": 0}],
    }
    with pytest.raises(ValueError):
        encode_doc(doc)

    ok = encode_doc(
        {"doc_id": "x", "doc_class": "html", "n_pages": 1,
         "spans": [{"kind": "text", "text": "t", "media_ref": "",
                    "offset": 0}]}
    )
    # corrupt n_pages to 0xFFFFFFFF (bytes 6..10 little-endian)
    bad = ok[:6] + b"\xff\xff\xff\xff" + ok[10:]
    assert bad.startswith(MAGIC)
    assert sniff_decode_doc(bad) is None  # quarantine, not wrap/raise


def test_facade_none_n_pages_is_inband():
    """Review finding: n_pages=None must not raise; it mirrors the
    batch predicate (`n_pages < 1` is false on SQL null -> valid)."""
    from two_tier_document_parser_spark.api import parse_document

    doc = {
        "doc_id": "x", "doc_class": "html", "n_pages": None,
        "spans": [{"kind": "text", "text": "hello world", "media_ref": "",
                   "offset": 0}],
    }
    out = parse_document(doc)
    assert "markdown" in out  # parsed, no exception, no error dict


def test_bucketed_join_elides_exchange_and_sort(spark, tmp_path):
    """Two tables written bucketed+sorted on the same key must join
    with ZERO Exchange nodes (the co-located-join contract), and —
    because the pre-write repartition leaves one file per bucket —
    zero extra Sort nodes either. Values must match a plain join."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.table_io import write_bucketed

    a = spark.createDataFrame(
        [(i, f"lang{i % 3}") for i in range(200)], "doc_id long, lang string"
    )
    b = spark.createDataFrame(
        [(i, i * 10) for i in range(0, 200, 2)], "doc_id long, n long"
    )
    ta = write_bucketed(spark, a, "tb_a", str(tmp_path / "a"), 4, "doc_id")
    tb = write_bucketed(spark, b, "tb_b", str(tmp_path / "b"), 4, "doc_id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at test scale the planner would broadcast the small side and
        # never exercise the bucketed path; the primitive exists for
        # big-big joins, so pin the SMJ regime explicitly
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ta.join(tb, "doc_id")
        got = {(r["doc_id"], r["lang"], r["n"]) for r in joined.collect()}
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        want = {
            (r["doc_id"], r["lang"], r["n"])
            for r in a.join(b, "doc_id").collect()
        }
        assert got == want and len(got) == 100
        # Spark 3+ ignores the per-bucket sortBy order by default
        # (SPARK-28199); with the legacy flag and one file per bucket
        # (guaranteed by write_bucketed's pre-repartition) the on-disk
        # sort is trusted and the Sort nodes vanish too.
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        j2 = spark.table("tb_a").join(spark.table("tb_b"), "doc_id")
        j2.collect()
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan2, plan2
        assert "Sort " not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )
        spark.sql("DROP TABLE IF EXISTS tb_a")
        spark.sql("DROP TABLE IF EXISTS tb_b")


def test_shuffle_rank_is_global_rank_without_single_partition(spark):
    """shuffle_rank must equal row_number() OVER (ORDER BY key) yet
    its plan must contain NO Exchange SinglePartition — the range
    exchange plus per-partition offsets is the whole point."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.curation import shuffle_rank

    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    out = shuffle_rank(docs, seed="7", partitions=8)
    # the rank pass is narrow over the checkpointed range partitions:
    # no exchange at all, and in particular no SinglePartition
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Exchange" not in plan, plan
    key = F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.lit("7")))
    # the one data-sized shuffle in the whole job is the upstream
    # range exchange (never a single-partition sort)
    pre = docs.select("doc_id", key.alias("shuffle_key")).repartitionByRange(
        8, "shuffle_key", "doc_id"
    )
    pp = pre._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in pp.lower(), pp
    assert "SinglePartition" not in pp, pp
    ref = (
        docs.select("doc_id", key.alias("shuffle_key"))
        .withColumn(
            "train_order",
            F.row_number()
            .over(Window.orderBy("shuffle_key", "doc_id"))
            .cast("long"),
        )
    )
    assert (
        out.join(ref, ["doc_id", "shuffle_key", "train_order"]).count()
        == 1000
    )


def test_shuffle_rank_empty_and_skewed_partitions(spark):
    """Rank stays dense 1..N when range boundaries leave some
    partitions empty (more partitions than distinct keys)."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.curation import shuffle_rank

    docs = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    out = shuffle_rank(docs, partitions=16)
    got = sorted(r["train_order"] for r in out.collect())
    assert got == [1, 2, 3, 4, 5]


def test_ccnet_bucket_equals_window_without_single_partition(spark):
    """ccnet_bucket's two-phase rank (r05: the r04 verdict's flagged
    per-language ntile window replaced by the shuffle_rank range
    exchange) must be bit-identical to the window form AND its final
    pass must show no Exchange SinglePartition / no per-language
    single-task sort."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.textstats import (
        ccnet_bucket,
        tokens,
    )

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        # one dominant language (the "en" shape) plus small ones,
        # uneven sizes so every ntile remainder branch is exercised
        F.concat(
            F.lit("l"), (F.col("id") % 7 / 2).cast("int").cast("string")
        ).alias("lang"),
        F.concat_ws(
            " ",
            F.lit("alpha"),
            F.concat(F.lit("w"), (F.col("id") % 13).cast("string")),
            F.concat(F.lit("u"), F.col("id").cast("string")),
        ).alias("text"),
    )
    out = ccnet_bucket(docs, n_buckets=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "Exchange" not in plan, plan  # narrow over the checkpoint

    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("gfreq")
    )
    per_doc = (
        tok.join(counts, "token")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.length(F.bin("gfreq")) - F.lit(1))
            .cast("long")
            .alias("logfreq_sum"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc(F.col("logfreq_sum") / F.col("n_tokens")), F.asc("doc_id")
    )
    ref = per_doc.withColumn("bucket", F.ntile(3).over(w).cast("int"))
    cols = ["doc_id", "lang", "n_tokens", "logfreq_sum", "bucket"]
    assert out.join(ref, cols).count() == 400


def test_ccnet_bucket_across_arrow_batch_boundaries(spark):
    """Per-language running positions must survive Arrow batch splits
    and language runs that straddle batches."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.textstats import ccnet_bucket

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "23")
        docs = spark.range(0, 600).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 5 < 4, "en").otherwise("fr").alias("lang"),
            F.concat(F.lit("tok"), (F.col("id") % 9).cast("string")).alias(
                "text"
            ),
        )
        rows = ccnet_bucket(docs, n_buckets=3).collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r.lang, []).append(r.bucket)
        for lang, buckets in by_lang.items():
            n = len(buckets)
            from collections import Counter

            c = Counter(buckets)
            base, rem = n // 3, n % 3
            want = {
                b: base + (1 if b <= rem else 0)
                for b in range(1, 4)
                if base + (1 if b <= rem else 0) > 0
            }
            assert c == Counter(want), (lang, c, want)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )


def test_shuffle_rank_across_arrow_batch_boundaries(spark):
    """The per-partition running position must survive Arrow batch
    splits (at scale a partition is many batches): force tiny batches
    and require the same dense global rank."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.curation import shuffle_rank

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        docs = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
        out = shuffle_rank(docs, partitions=4).collect()
        orders = sorted(r["train_order"] for r in out)
        assert orders == list(range(1, 2001))
        # and the order is really the md5 order, not batch order
        by_rank = sorted(out, key=lambda r: r["train_order"])
        keys = [r["shuffle_key"] for r in by_rank]
        assert keys == sorted(keys)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev
        )


def test_aqe_splits_skewed_join_partition(spark):
    """The engine leans on AQE for runtime skew handling (SURVEY
    §4.3): a hot join key whose shuffle partition exceeds the skew
    threshold must be split (SortMergeJoin(skew=true) in the final
    adaptive plan) with values identical to the unskewed plan.
    Payload is sha2 (incompressible) — lz4 shuffle compression on a
    constant payload keeps blocks under any threshold and silently
    disables the optimization, which is itself worth pinning."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(40000).select(
            F.when(F.col("id") < 30000, 0)
            .otherwise(F.col("id") % 500)
            .alias("k"),
            F.sha2(
                F.concat(F.col("id").cast("string"), F.lit("salt")), 512
            ).alias("pay"),
        )
        right = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        # execute j itself (not a derived count) so ITS adaptive plan
        # finalizes — a parent action leaves isFinalPlan=false here
        assert len(j.collect()) == 40000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        # spot-check values against the broadcast plan (no skew path)
        agg = j.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
        )
        got = {(r["k"], r["n"], r["sv"]) for r in agg.collect()}
        ref = (
            left.join(F.broadcast(right), "k")
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )
        assert got == {(r["k"], r["n"], r["sv"]) for r in ref.collect()}
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_shuffle_join(spark, tmp_path):
    """Runtime-filter awareness: when a selective dim filter feeds a
    shuffle join, Catalyst injects a Bloom filter on the fact side
    (might_contain over a BloomFilter scalar subquery) so
    non-matching fact rows die at the
    scan instead of crossing the exchange — the 100 TB semi-join
    reduction. Thresholds are lowered to make the tiny fixture
    eligible; values must match the unfiltered reference."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    spark.range(200000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(fact_path)
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    ).write.mode("overwrite").parquet(dim_path)
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter(F.col("grp") == 3)
        j = fact.join(dim, "k")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan  # BloomFilterMightContain
        got = {(r["k"], r["v"]) for r in j.select("k", "v").collect()}
        want = {
            (k, v)
            for v in range(200000)
            for k in [v % 1000]
            if k % 7 == 3
        }
        assert got == want
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, tmp_path):
    """Runtime DPP: joining a Hive-partitioned fact to a FILTERED dim
    must inject dynamicpruning on the fact's partition column, so
    only matching partition directories are read — decided at
    runtime from the dim's rows, which static partition pruning
    cannot do. The 100 TB date/tenant-partitioned-fact ⋈ dim staple."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
        # let the filtered dim broadcast so DPP reuses its exchange
        "spark.sql.autoBroadcastJoinThreshold": "10MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    fact_path = str(tmp_path / "factp")
    spark.range(20000).select(
        (F.col("id") % 20).alias("part_key"), F.col("id").alias("v")
    ).write.partitionBy("part_key").mode("overwrite").parquet(fact_path)
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_path)
        dim = spark.range(20).select(
            F.col("id").alias("part_key"), (F.col("id") % 5).alias("grp")
        ).filter(F.col("grp") == 2)  # part_keys {2,7,12,17}
        j = fact.join(dim, "part_key")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan
        rows = j.select("part_key", "v", F.input_file_name().alias("f")).collect()
        touched = {r["f"] for r in rows}
        assert touched and all(
            any(f"part_key={k}/" in f for k in (2, 7, 12, 17))
            for f in touched
        ), touched
        assert {r["part_key"] for r in rows} == {2, 7, 12, 17}
        assert len(rows) == 4000  # 20000/20 per partition x 4
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_wholestage_codegen_covers_hot_aggregate(spark):
    """The TPC-H-Q1-shaped hot path (scan -> filter -> partial agg)
    must run inside WholeStageCodegen spans with zero Python
    evaluation nodes — the JVM-side guarantee the engine's relational
    surface is built on."""
    import __spark_entry__ as e

    df = e.queries()["pricing_summary"](spark, "/root/testdata/sf0.001")
    df.collect()  # finalize the adaptive plan (codegen ids appear then)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' prefixes are WholeStageCodegen span ids in toString form
    assert "*(1)" in plan, plan
    # every Filter/Project/HashAggregate OPERATOR in the final plan
    # carries a codegen span id (nothing runs interpreted); operator
    # position is '+- <op>' — scan-line attribute text like
    # 'DataFilters:' must not match
    import re as _re

    final = plan.split("== Initial Plan ==")[0]
    ops = _re.findall(
        r"\+- (\*\(\d+\) )?(Filter|Project|HashAggregate)\b", final
    )
    assert ops, final
    for star, node in ops:
        assert star, (node, final)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "PythonUDF"):
        assert bad not in plan, plan


def test_codec_roundtrip_plan_is_map_only(spark):
    """codec_roundtrip_stats (the PNG/GIF/VP8L oracle-backed proof)
    must stay a single map-only Arrow pass: no Exchange anywhere —
    at 10^12 docs the kernel parallelizes purely by input split."""
    from pyspark.sql import functions as F

    from two_tier_document_parser_spark.multimodal import (
        codec_roundtrip_stats,
    )

    docs = spark.range(0, 64).select(F.col("id").alias("doc_id"))
    out = codec_roundtrip_stats(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and the values it would report are the decoded-pixel stats
    rows = {r.doc_id: r for r in out.collect()}
    import numpy as np

    for d in (0, 1, 2, 17):
        w0, h0 = 8 + d % 9, 8 + (d // 9) % 9
        img = (d + np.add.outer(np.arange(h0), np.arange(w0))) % 256
        r = rows[d]
        assert (r.width, r.height) == (w0, h0)
        assert r.pix_sum == int(img.sum())
        assert r.codec == ("png", "gif", "webp")[d % 3]
