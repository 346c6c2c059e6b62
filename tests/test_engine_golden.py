"""The correctness gate (BASELINE.json): the vectorized Spark engine's
(kind, text, media_ref, order) span sequences, markdown, and metadata
must equal the oracle goldens for every document, at any input
partitioning (SURVEY §5.2.5: permutation of partitioning must not
change any output)."""

from __future__ import annotations

import hashlib
import json

import pytest

from conftest import FIXTURES
from make_fixtures import N_DOCS, SEED


def _check_against_golden(rows, expected_n=N_DOCS):
    golden = json.loads((FIXTURES / "golden_hashes.json").read_text())
    assert len(rows) == expected_n
    for row in rows:
        g = golden[row.doc_id]
        canon = json.dumps(
            [[s.kind, s.text, s.media_ref, s.order] for s in row.spans],
            ensure_ascii=False,
            separators=(",", ":"),
        )
        assert hashlib.sha256(canon.encode()).hexdigest() == g["spans_sha"], row.doc_id
        bbox_canon = json.dumps(
            [list(s.bbox) for s in row.spans], separators=(",", ":")
        )
        assert (
            hashlib.sha256(bbox_canon.encode()).hexdigest() == g["bbox_sha"]
        ), row.doc_id
        assert (
            hashlib.sha256(row.markdown.encode()).hexdigest() == g["md_sha"]
        ), row.doc_id
        assert row.tier == g["tier"], row.doc_id
        assert row.pages == g["pages"], row.doc_id
        assert list(row.skipped_pages) == g["skipped_pages"], row.doc_id
        assert (row.n_images, row.n_tables, row.n_formulas) == (
            g["n_images"], g["n_tables"], g["n_formulas"],
        ), row.doc_id
        assert row.error == ""


@pytest.mark.parametrize("partitions", [3, 16])
def test_engine_matches_golden(spark, partitions):
    from two_tier_document_parser_spark.pipeline import extract
    from two_tier_document_parser_spark.synth import synth_spark

    raw = synth_spark(spark, N_DOCS, SEED, partitions=partitions)
    _check_against_golden(extract(spark, raw).collect())


def test_engine_salted_repartition_same_output(spark):
    """Salting + repartition is physical only — bit-identical output
    (SURVEY §7.7.1)."""
    from two_tier_document_parser_spark.pipeline import extract
    from two_tier_document_parser_spark.synth import synth_spark

    raw = synth_spark(spark, 200, SEED, partitions=5)
    _check_against_golden(
        extract(spark, raw, salt=13, n_partitions=11).collect(), expected_n=200
    )


def test_routing_matches_expected():
    """The shared routing rule (routing.route_batch, which every
    extract path runs) reproduces the pinned per-document tiers."""
    import pyarrow as pa

    from two_tier_document_parser_spark.routing import route_batch
    from two_tier_document_parser_spark.synth import synth_docs

    expected = json.loads((FIXTURES / "routing_expected.json").read_text())
    batch = pa.RecordBatch.from_pylist(synth_docs(0, N_DOCS, SEED))
    tier, _ = route_batch(batch)
    assert dict(zip(batch.column("doc_id").to_pylist(), tier.tolist())) == expected


def test_quarantine_channel(spark):
    """Invalid rows become tier='error' rows, never exceptions
    (reference accurate/service.py:240-246 analogue)."""
    from two_tier_document_parser_spark.pipeline import extract

    rows = [
        ("ok1", "html", 1, [("text", "the data of the engine and the model", "", 0)]),
        ("bad_empty", "html", 1, []),
        (None, "html", 1, [("text", "x", "", 0)]),
    ]
    # nullable variant: real-world inputs may carry nulls; quarantine, don't crash
    raw = spark.createDataFrame(
        rows,
        "doc_id string, doc_class string, n_pages int, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = {r.doc_id: r for r in extract(spark, raw).collect()}
    assert out["ok1"].tier == "fast"
    assert out["bad_empty"].tier == "error"
    assert out["bad_empty"].error != ""
    assert out[""].tier == "error"  # null doc_id quarantined as ""
