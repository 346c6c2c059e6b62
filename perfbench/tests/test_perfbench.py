"""The benchmark's own tests: `python3 -m pytest perfbench/tests -q`."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import check, layers, procs, stats, trace  # noqa: E402


def test_percentile_refuses_p99_below_1000_samples():
    with pytest.raises(ValueError, match="at least 1000"):
        stats.percentile(list(range(999)), 99)
    assert stats.percentile(list(range(1, 1001)), 99) == 990
    assert stats.percentile(list(range(1, 1001)), 50) == 500
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)


def test_self_time_subtracts_children_once():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping: 5 s
    # covered) and [8, 12] (clipped to [8, 10]); grandchild [1, 2]
    spans = [
        ["root", 0.0, 10.0, -1, 0],
        ["a", 1.0, 4.0, 0, 0],
        ["b", 3.0, 6.0, 0, 0],
        ["c", 8.0, 12.0, 0, 0],
        ["g", 1.0, 2.0, 1, 0],
    ]
    st = trace.self_times(spans)
    assert st["root"] == pytest.approx([10.0, 10.0 - 5.0 - 2.0, 1])
    assert st["a"] == pytest.approx([3.0, 2.0, 1])
    assert st["b"] == pytest.approx([3.0, 3.0, 1])
    assert st["g"] == pytest.approx([1.0, 1.0, 1])


def test_recorder_nests_spans_and_restores_functions():
    from two_tier_document_parser_spark import api, ingest, pdf_io
    from two_tier_document_parser_spark.pdf_io import render_pdf
    from two_tier_document_parser_spark.synth import make_doc

    original = pdf_io.parse_pdf
    doc = make_doc(3, seed=5)
    rec = trace.Recorder()
    with rec.patched(trace.FACADE_LAYERS):
        root = rec.begin("api.parse_bytes", "r0")
        api.parse_bytes(render_pdf(doc), "x.pdf")
        rec.end(root)
    assert pdf_io.parse_pdf is original
    assert ingest.sniff_decode_doc.__module__ == ingest.__name__
    names = {s[0]: s for s in rec.spans}
    sniff = rec.spans.index(names["ingest.sniff_decode"])
    assert names["ingest.sniff_decode"][3] == root
    assert names["pdf_io.parse_pdf"][3] == sniff
    assert rec.counts["pdf_io.parse_pdf.calls"] == 1
    m = layers.span_metrics(rec.spans, rec.counts, requests=1)
    assert m["api.parse_bytes.self_ms"] > 0
    assert m["pdf_io.parse_pdf.ms_per_doc"] > 0
    assert sum(m["routing.docs." + t] for t in ("fast", "deep", "error")) == 1


def _engine_rows(docs):
    import pyarrow as pa

    from two_tier_document_parser_spark.pipeline import fused_batches

    batch = pa.RecordBatch.from_pylist(
        [{k: d[k] for k in ("doc_id", "doc_class", "n_pages", "spans")}
         for d in docs])
    return [r for b in fused_batches(iter([batch])) for r in b.to_pylist()]


def test_checker_flags_wrong_markdown_and_missing_row():
    import oracle
    from two_tier_document_parser_spark.synth import synth_docs

    docs = synth_docs(0, 12, seed=9)
    expected = {d["doc_id"]: check.row_digest(oracle.extract_doc(d))
                for d in docs}
    rows = _engine_rows(docs)

    ok = check.Checker(expected)
    for r in rows:
        ok.add(r["doc_id"], check.row_digest(r))
    assert ok.finish()[:2] == (12, 0)

    bad = check.Checker(expected)
    wrong, missing = rows[3]["doc_id"], rows[7]["doc_id"]
    for r in rows:
        if r["doc_id"] == missing:
            continue
        if r["doc_id"] == wrong:
            r = dict(r, markdown=r["markdown"] + "x")
        bad.add(r["doc_id"], check.row_digest(r))
    attempted, failed, failures = bad.finish()
    assert (attempted, failed) == (12, 2)
    assert failures == {wrong: "differs in markdown", missing: "missing row"}


def test_response_digest_matches_oracle_on_the_facade():
    import oracle
    from two_tier_document_parser_spark import api
    from two_tier_document_parser_spark.html_io import render_html
    from two_tier_document_parser_spark.synth import synth_docs

    for d in synth_docs(100, 20, seed=4):
        want = check.expected_response_digest(oracle.extract_doc(d))
        got = check.response_digest(api.parse_bytes(render_html(d), "a.html"))
        assert got == want, d["doc_id"]
    assert check.response_digest(api.parse_bytes(b"TTDP1\x00", "t.ttdp")) == \
        check.row_digest({"tier": "error", "pages": 0, "skipped_pages": [],
                          "markdown": "", "spans": []})


def test_response_digest_flags_bad_png_and_wrong_bbox():
    import base64

    import oracle
    from two_tier_document_parser_spark import api
    from two_tier_document_parser_spark.html_io import render_html
    from two_tier_document_parser_spark.synth import make_doc

    doc = make_doc(102, seed=4)  # deep, with image and table artifacts
    want = check.expected_response_digest(oracle.extract_doc(doc))
    resp = api.parse_bytes(render_html(doc), "a.html")
    assert resp["images"] and check.response_digest(resp) == want
    img = resp["images"][0]
    assert check.png_size(img["image_base64"]) == check.crop_size(img["bbox"])

    png = bytearray(base64.b64decode(img["image_base64"]))
    png[40] ^= 1  # inside IDAT: its CRC no longer matches
    assert check.png_size(base64.b64encode(png)).startswith("bad CRC")
    assert check.png_size(base64.b64encode(b"\x89PNG\r\n\x1a\n")) != [16, 16]
    tampered = [
        dict(resp, images=[dict(img, image_base64=base64.b64encode(png))]
             + resp["images"][1:]),
        dict(resp, images=[dict(img, image_base64="")] + resp["images"][1:]),
        dict(resp, images=[dict(img, bbox=[0, 0, 1, 1])] + resp["images"][1:]),
        dict(resp, tables=[dict(resp["tables"][0], bbox=None)]
             + resp["tables"][1:]),
    ]
    for bad in tampered:
        assert check.response_digest(bad)[4] != want[4]


def test_traced_plan_swaps_the_kernels_the_engine_plans_read(tmp_path):
    from two_tier_document_parser_spark import ingest, pipeline

    fused, sniff = pipeline.fused_batches, ingest.sniff_decode_batches
    with trace.traced_plan(str(tmp_path)):
        assert pipeline.fused_batches.func is trace.traced_fused
        assert ingest.sniff_decode_batches.func is trace.traced_sniff
    assert (pipeline.fused_batches, ingest.sniff_decode_batches) == (fused, sniff)


def test_sql_metric_strings_parse_to_totals():
    from perfbench.sparkrun import parse_sql_metric

    assert parse_sql_metric("30 ms") == 30
    assert parse_sql_metric("1,000") == 1000
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n3.3 s (1.4 s, 1.8 s, 1.8 s "
        "(stage 0.0: task 0))") == pytest.approx(3300)
    assert parse_sql_metric("total (min, med, max)\n2.0 MiB (1.0 MiB, ...)") \
        == 2 * 2**20


def test_benchmark_json_names_match_the_code():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    from perfbench.run import END_TO_END_UNITS, WORKLOADS

    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_result_line_needs_every_end_to_end_metric(capsys):
    from argparse import Namespace

    from perfbench.run import END_TO_END_UNITS, _report

    args = Namespace(workload="spans_batch", seed=1, trace=0)
    res = {"probe": {"py_loop_ms": [40.0], "membw_gbps": 10.0},
           "attempted": 1, "failed": 0, "failures": {},
           "metrics": {k: 1.5 for k in END_TO_END_UNITS}}
    _report(args, {}, res)
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {k: m["unit"] for k, m in last["metrics"].items()} == END_TO_END_UNITS
    del res["metrics"]["latency_p99_ms"]
    with pytest.raises(RuntimeError):
        _report(args, {}, res)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "facade_requests",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""


def test_peak_rss_finds_python_workers_of_a_local2_session(tmp_path):
    from perfbench import sparkrun

    spark = sparkrun.start_session(tmp_path)
    try:
        def ident(batches):
            yield from batches

        spark.range(0, 1000, numPartitions=2).mapInArrow(ident, "id long") \
            .collect()
        pids = procs.pyspark_worker_pids()
        assert len(pids) >= 2  # the daemon and at least one forked worker
        assert all("pyspark.daemon" in procs.cmdline(p) for p in pids)
        assert max(procs.vm_hwm_mb(p) for p in pids) > 20
    finally:
        sparkrun.stop_session(spark)
    assert procs.descendants() == []
