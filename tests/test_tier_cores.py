"""The per-document paths against the batch paths they share code with.

- The routing rule (`routing.route`) at every threshold, and the batch
  (`route_batch`) and per-document (`route_doc`) entries agreeing on it.
- TTDP1: `binary_io.decode_doc` (one payload) against `decode_batches`
  (a table of payloads) row by row, on well-formed and corrupt bytes.
- The tier cores: `api._run_kernel_one` on one document against the
  row the Arrow adapters emit for it inside a multi-document batch,
  also for documents at each tier's span cap.
- The facade never imports the oracle.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

from two_tier_document_parser_spark import binary_io
from two_tier_document_parser_spark.api import _run_kernel_one, parse_document
from two_tier_document_parser_spark.binary_io import (
    _HDR,
    decode_batches,
    decode_doc,
    encode_doc,
)
from two_tier_document_parser_spark.pipeline import fused_batches
from two_tier_document_parser_spark.routing import route, route_batch, route_doc
from two_tier_document_parser_spark.schemas import spans_arrow_type
from two_tier_document_parser_spark.spec import (
    MEDIA_KINDS,
    REASON_INVALID,
    T1_MAX_SPANS,
    T1_MIN_BLOCK_CHARS,
    T2_MAX_SPANS,
    too_large_reason,
)
from two_tier_document_parser_spark.synth import synth_docs
from two_tier_document_parser_spark.tier1 import tier1_batches
from two_tier_document_parser_spark.tier2 import tier2_batches

ROOT = Path(__file__).resolve().parents[1]
FAST_BIG = ("error", too_large_reason("fast"))
DEEP_BIG = ("error", too_large_reason("deep"))
INVALID = ("error", REASON_INVALID)

# (n_spans, n_box, n_media, doc_class, null_id, n_pages) -> (tier, reason)
ROUTING_TABLE = [
    # span counts: empty is invalid; each tier's cap is inclusive
    ((0, 0, 0, "html", False, 1), INVALID),
    ((1, 0, 0, "html", False, 1), ("fast", "")),
    ((T1_MAX_SPANS - 1, 0, 0, "html", False, 1), ("fast", "")),
    ((T1_MAX_SPANS, 0, 0, "html", False, 1), ("fast", "")),
    ((T1_MAX_SPANS + 1, 0, 0, "html", False, 1), FAST_BIG),
    ((T2_MAX_SPANS - 1, 0, 30, "html", False, 1), ("deep", "")),
    ((T2_MAX_SPANS, 0, 30, "html", False, 1), ("deep", "")),
    ((T2_MAX_SPANS + 1, 0, 30, "html", False, 1), DEEP_BIG),
    # box fraction must EXCEED the class threshold (html 0.05,
    # pdfish 0.02, default 0.03)
    ((100, 5, 0, "html", False, 1), ("fast", "")),
    ((100, 6, 0, "html", False, 1), ("deep", "")),
    ((100, 2, 0, "pdfish", False, 1), ("fast", "")),
    ((100, 3, 0, "pdfish", False, 1), ("deep", "")),
    # media count must REACH the class threshold (html 30, pdfish 8,
    # default 20)
    ((100, 0, 29, "html", False, 1), ("fast", "")),
    ((100, 0, 30, "html", False, 1), ("deep", "")),
    ((100, 0, 7, "pdfish", False, 1), ("fast", "")),
    ((100, 0, 8, "pdfish", False, 1), ("deep", "")),
    # doc_class None or unknown takes the default model
    ((100, 3, 0, None, False, 1), ("fast", "")),
    ((100, 4, 0, None, False, 1), ("deep", "")),
    ((100, 3, 19, "unknown", False, 1), ("fast", "")),
    ((100, 0, 20, "unknown", False, 1), ("deep", "")),
    # null id and n_pages: NULL pages is valid, 0 is not
    ((10, 0, 0, "html", True, 1), INVALID),
    ((10, 0, 0, "html", False, None), ("fast", "")),
    ((10, 0, 0, "html", False, 0), INVALID),
    ((10, 0, 0, "html", False, 1), ("fast", "")),
    # invalid wins over oversize
    ((T1_MAX_SPANS + 1, 0, 0, "html", True, 1), INVALID),
]


def _doc_from_counts(doc_id, n_spans, n_box, n_media, doc_class, n_pages):
    def span(kind, text="the data"):
        return {"kind": kind, "text": text, "media_ref": "", "offset": 0}

    spans = (
        [span("box", "0,0,10,10,text")] * n_box
        + [span("image")] * n_media
        + [span("text")] * (n_spans - n_box - n_media)
    )
    return {"doc_id": doc_id, "doc_class": doc_class, "n_pages": n_pages,
            "spans": spans}


@pytest.mark.parametrize("args,want", ROUTING_TABLE)
def test_routing_rule_boundaries(args, want):
    assert route(*args) == want


def test_routing_entries_agree_with_rule():
    """route_doc and route_batch give what `route` gives for the same
    counts (rows small enough to build as real span lists)."""
    rows = [(a, w) for a, w in ROUTING_TABLE if a[0] <= 1000]
    docs = [
        _doc_from_counts(None if a[4] else f"d{i}", a[0], a[1], a[2], a[3],
                         a[5])
        for i, (a, _) in enumerate(rows)
    ]
    assert [route_doc(d) for d in docs] == [w for _, w in rows]
    tier, reason = route_batch(pa.RecordBatch.from_pylist(docs))
    assert list(zip(tier.tolist(), reason.tolist())) == [w for _, w in rows]


# ---------------------------------------------------------------------------
# TTDP1: one parser, two decoders
# ---------------------------------------------------------------------------


def _assert_decoders_agree(payloads: list[bytes]) -> int:
    """decode_doc and decode_batches agree on every payload, or both
    quarantine it; returns how many quarantined."""
    batch = pa.RecordBatch.from_arrays(
        [pa.array([str(i) for i in range(len(payloads))]),
         pa.array(payloads, pa.binary())],
        names=["doc_id", "payload"],
    )
    rows = [r for ob in decode_batches(iter([batch])) for r in ob.to_pylist()]
    assert len(rows) == len(payloads)
    quarantined = 0
    for payload, row in zip(payloads, rows):
        got = decode_doc(payload)
        if row["doc_class"] == "":
            assert got is None, payload
            assert row["n_pages"] == 0 and row["spans"] == []
            quarantined += 1
        else:
            row.pop("doc_id")
            assert got == row, payload
    return quarantined


@pytest.mark.parametrize("seed", [7, 42, 2024])
def test_ttdp1_decoders_agree_on_synth(seed):
    payloads = [encode_doc(d) for d in synth_docs(0, 300, seed)]
    assert _assert_decoders_agree(payloads) == 0


def _small_payload() -> bytes:
    return encode_doc({
        "doc_id": "x", "doc_class": "pdfish", "n_pages": 2,
        "spans": [
            {"kind": "text", "text": "données", "media_ref": "", "offset": 0},
            {"kind": "image", "text": "", "media_ref": "asset/1",
             "offset": 9},
            {"kind": "page_break", "text": "", "media_ref": "", "offset": 10},
        ],
    })


def test_ttdp1_decoders_agree_on_every_prefix():
    full = _small_payload()
    prefixes = [full[:i] for i in range(len(full) + 1)]
    # only the whole payload decodes
    assert _assert_decoders_agree(prefixes) == len(full)


def test_ttdp1_decoders_quarantine_corrupt_fields():
    ok = _small_payload()
    n_kinds = len(binary_io.IN_KINDS)
    bad = [
        ok[:_HDR] + bytes([n_kinds]) + ok[_HDR + 1:],          # kind code
        ok[:_HDR] + b"\xff" + ok[_HDR + 1:],                    # kind code
        ok[:5] + bytes([len(binary_io.IN_DOC_CLASSES)]) + ok[6:],  # class
        ok[:6] + (0x80000000).to_bytes(4, "little") + ok[10:],  # n_pages
        ok[:6] + b"\xff\xff\xff\xff" + ok[10:],                 # n_pages
    ]
    assert _assert_decoders_agree([ok] + bad) == len(bad)
    # the largest n_pages the int32 column holds still decodes
    edge = ok[:6] + (0x7FFFFFFF).to_bytes(4, "little") + ok[10:]
    assert decode_doc(edge)["n_pages"] == 0x7FFFFFFF
    assert _assert_decoders_agree([edge]) == 0


def test_ttdp1_invalid_utf8_quarantines_without_raising():
    def doc(texts):
        return {"doc_id": "x", "doc_class": "html", "n_pages": 1,
                "spans": [{"kind": "text", "text": t, "media_ref": "",
                           "offset": 0} for t in texts]}

    ok = encode_doc(doc(["ab", "cd"]))
    t0 = _HDR + 2 + 8 + 8  # kinds, offsets, text lengths of two spans
    assert ok[t0:t0 + 4] == b"abcd"
    invalid = ok[:t0] + b"\xffbcd" + ok[t0 + 4:]
    # "é" is two bytes; lengths (1, 3) split it across two spans, so
    # the section is valid UTF-8 as a whole but neither field is
    split = encode_doc(doc(["é", "cd"]))
    assert split[t0 - 8:t0] == (2).to_bytes(4, "little") * 2
    split = (split[:t0 - 8] + (1).to_bytes(4, "little")
             + (3).to_bytes(4, "little") + split[t0:])
    bad_ref = encode_doc({
        "doc_id": "x", "doc_class": "html", "n_pages": 1,
        "spans": [{"kind": "image", "text": "", "media_ref": "r",
                   "offset": 0}],
    })
    bad_ref = bad_ref[:-1] + b"\x80"
    assert _assert_decoders_agree([ok, invalid, split, bad_ref]) == 3


# ---------------------------------------------------------------------------
# tier cores: one document alone == the same document inside a batch
# ---------------------------------------------------------------------------


def _batch_rows(kernel, docs):
    batch = pa.RecordBatch.from_pylist(
        [{"doc_id": d["doc_id"], "spans": d["spans"]} for d in docs],
        schema=pa.schema([("doc_id", pa.string()),
                          ("spans", spans_arrow_type())]))
    return {r["doc_id"]: r for ob in kernel(iter([batch]))
            for r in ob.to_pylist()}


def _without_time(row: dict) -> dict:
    return {k: v for k, v in row.items() if k != "processing_time_ms"}


def _outcome(fn):
    """(fn(), None), or (None, the exception's type) if fn raises."""
    try:
        return fn(), None
    except Exception as exc:
        return None, type(exc)


def test_run_kernel_one_matches_batch_rows_on_arbitrary_spans():
    """Hypothesis, with the span strategy of test_differential's
    adversarial fuzz (every producer kind, arbitrary unicode, valid and
    malformed box payloads): for BOTH tiers, whatever the router would
    say, api._run_kernel_one on a document equals the row the Arrow
    adapter emits for it among other documents, tier-2 error rows
    included. The only field left out is processing_time_ms."""
    from hypothesis import assume, given, settings
    from hypothesis import strategies as st

    kinds = st.sampled_from(
        [
            "text", "heading", "list_item", "table_cell", "table_row_end",
            "image", "formula", "link_text", "boilerplate", "page_break",
            "box",
        ]
    )
    free_text = st.text(max_size=24)
    box_text = st.one_of(
        st.tuples(
            st.integers(0, 90), st.integers(0, 90),
            st.integers(1, 20), st.integers(1, 20),
            st.sampled_from(["text", "table", "figure", "formula"]),
        ).map(lambda t: f"{t[0]},{t[1]},{t[0]+t[2]},{t[1]+t[3]},{t[4]}"),
        free_text,
    )
    span_spec = kinds.flatmap(
        lambda k: st.tuples(st.just(k), box_text if k == "box" else free_text)
    )
    span_lists = st.lists(st.lists(span_spec, max_size=30), min_size=1,
                          max_size=4)

    @settings(max_examples=150, deadline=None)
    @given(span_lists)
    def check(specs):
        docs = [
            {"doc_id": f"d{j}", "doc_class": "html", "n_pages": 1,
             "spans": [{"kind": k, "text": t, "media_ref": f"m{i}",
                        "offset": i} for i, (k, t) in enumerate(spec)]}
            for j, spec in enumerate(specs)
        ]
        for tier, kernel in (("fast", tier1_batches), ("deep", tier2_batches)):
            alone, alone_exc = _outcome(
                lambda: [_run_kernel_one(d, tier) for d in docs])
            batch, batch_exc = _outcome(lambda: _batch_rows(kernel, docs))
            # parity covers failing too: neither path may raise alone
            assert alone_exc == batch_exc
            assume(alone_exc is None)
            for d, row in zip(docs, alone):
                assert _without_time(row) == _without_time(batch[d["doc_id"]])

    check()


def test_fast_tier_whitespace_block_answers_in_band():
    """A whitespace-only block long enough to be classified must give a
    response, not an exception (parse errors are answered in-band)."""
    doc = {"doc_id": "ws", "doc_class": "html", "n_pages": 1,
           "spans": [{"kind": "text", "text": " " * T1_MIN_BLOCK_CHARS,
                      "media_ref": "", "offset": 0}]}
    resp = parse_document(doc, tier="fast")
    assert resp["markdown"].strip() == ""


def _tiled(doc_id, doc_class, spans, n):
    """A document of exactly n spans: `spans` repeated and cut."""
    tiled = (spans * (n // len(spans) + 1))[:n]
    pages = 1 + sum(s["kind"] == "page_break" for s in tiled)
    return {"doc_id": doc_id, "doc_class": doc_class, "n_pages": pages,
            "spans": tiled}


def test_fused_batches_extract_documents_at_the_span_caps():
    """The span caps bound the largest document extracted whole: one
    Arrow batch through pipeline.fused_batches holding a fast document
    of exactly T1_MAX_SPANS spans, a deep one of exactly T2_MAX_SPANS
    and a few ordinary ones gives one row per document, each equal to
    api._run_kernel_one for that document and tier."""
    synth = synth_docs(0, 500, 42)
    giant = max(synth, key=lambda d: len(d["spans"]))
    # fast: text-only spans of the fast-routed documents (no box, no
    # media, so no class threshold can make it deep)
    fast_spans = [s for d in synth if route_doc(d)[0] == "fast"
                  for s in d["spans"]
                  if s["kind"] != "box" and s["kind"] not in MEDIA_KINDS]
    docs = [
        _tiled("cap_fast", "html", fast_spans, T1_MAX_SPANS),
        _tiled("cap_deep", giant["doc_class"], giant["spans"], T2_MAX_SPANS),
    ] + synth_docs(0, 6, 7)
    want_tiers = ["fast", "deep"] + [route_doc(d)[0] for d in docs[2:]]
    assert [route_doc(d) for d in docs] == [(t, "") for t in want_tiers]
    assert {"fast", "deep"} <= set(want_tiers[2:])

    batch = pa.RecordBatch.from_pylist(docs, schema=pa.schema([
        ("doc_id", pa.string()), ("doc_class", pa.string()),
        ("n_pages", pa.int32()), ("spans", spans_arrow_type())]))
    out = list(fused_batches(iter([batch])))
    # compared as Arrow: converting the giants' rows to Python costs
    # seconds and hundreds of MB
    got = pa.Table.from_batches(out).sort_by("doc_id")
    want = pa.Table.from_pylist(
        [_run_kernel_one(d, t) for d, t in zip(docs, want_tiers)],
        schema=got.schema).sort_by("doc_id")
    assert got.column("doc_id").to_pylist() == sorted(d["doc_id"] for d in docs)
    for name in got.column_names:
        if name != "processing_time_ms":
            assert got.column(name).equals(want.column(name)), name


@pytest.mark.parametrize("tier,kernel", [("fast", tier1_batches),
                                         ("accurate", tier2_batches)])
def test_facade_forced_tier_bit_identical_to_batch_kernels(tier, kernel):
    """parse_document(doc, tier) with a forced tier equals the batch
    kernel of that tier run over every document, routed there or not."""
    docs = synth_docs(0, 60, 2024)
    batch_out = _batch_rows(kernel, docs)
    for d in docs:
        row = batch_out[d["doc_id"]]
        resp = parse_document(d, tier=tier)
        assert resp["markdown"] == row["markdown"], d["doc_id"]
        assert resp["metadata"]["pages"] == row["pages"]
        assert resp["metadata"].get("skipped_pages", []) == row["skipped_pages"]
        if tier == "fast":
            assert "images" not in resp
            continue
        assert [i["image_id"] for i in resp["images"]] == [
            s["media_ref"] for s in row["spans"] if s["kind"] == "image"]
        assert [t["markdown"] for t in resp["tables"]] == [
            s["text"] for s in row["spans"] if s["kind"] == "table"]
        assert [f["latex"] for f in resp["formulas"]] == [
            s["text"] for s in row["spans"] if s["kind"] == "formula"]
        for img, s in zip(resp["images"],
                          [s for s in row["spans"] if s["kind"] == "image"]):
            assert img["bbox"] == (list(s["bbox"]) or None)


def test_facade_does_not_import_oracle(tmp_path):
    """The oracle is the independent check of the engine: serving
    requests of every format and tier must not import it."""
    from two_tier_document_parser_spark import html_io, pdf_io

    docs = synth_docs(0, 6, 42)
    payloads = []
    for i, (render, ext) in enumerate([(pdf_io.render_pdf, ".pdf"),
                                       (html_io.render_html, ".html"),
                                       (encode_doc, ".ttdp")] * 2):
        path = tmp_path / f"d{i}{ext}"
        path.write_bytes(render(docs[i]))
        payloads.append(str(path))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from two_tier_document_parser_spark import api; "
        "[api.parse_bytes(open(p, 'rb').read(), p, tier=t) "
        " for p in sys.argv[2:] for t in ('auto', 'fast', 'accurate')]; "
        "print(sorted(m for m in sys.modules "
        "            if m == 'oracle' or m.startswith('oracle.')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(ROOT), *payloads],
        capture_output=True, text=True, cwd=tmp_path, check=True,
    )
    assert out.stdout.strip() == "[]"
