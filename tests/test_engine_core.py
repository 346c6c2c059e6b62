"""The per-request engine core stands apart from the Spark edge.

- No core module imports pyspark, pyarrow or pandas at module level,
  and no module a plain request reaches imports numpy there (a static
  check of each module's top-level statements).
- The facade answers requests in an interpreter where pyspark, pyarrow
  and numpy cannot be imported, with the same responses as here; a
  plain PDF request imports neither numpy nor the other decoders.
- The Spark schemas derived from the one Arrow declaration equal the
  hand-written StructTypes they replaced, pinned as JSON.
- One decompression-bomb pixel cap, `spec.MAX_PIXELS`.
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow as pa

from two_tier_document_parser_spark import api, binary_io, html_io, pdf_io
from two_tier_document_parser_spark.schemas import (
    spans_arrow_type,
    spark_schema,
)
from two_tier_document_parser_spark.synth import synth_docs

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "two_tier_document_parser_spark"
FIXTURES = Path(__file__).parent / "fixtures"

CORE = [
    "api", "routing", "spec", "schemas", "tier1", "tier2", "markdown_ser",
    "layout",
    "ingest", "pdf_io", "pdf_fonts", "pdfcrypt", "html_io", "binary_io",
    "png", "gif", "jpeg", "jpeg2000", "jbig2", "ccitt", "webp", "bitstream",
]
BATCH_ONLY = ("pyspark", "pyarrow", "pandas")
# what a plain PDF, HTML or TTDP1 request reaches (bitstream: a PDF with
# LZWDecode streams); the image codecs and pdfcrypt (encrypted PDFs
# only) keep numpy
REQUEST_PATH = [
    "api", "routing", "spec", "schemas", "tier1", "tier2", "markdown_ser",
    "layout", "ingest", "pdf_io", "pdf_fonts", "html_io", "binary_io", "png",
    "bitstream",
]
NUMPY = ("numpy",)


def batch_only_imports(src: str, packages=BATCH_ONLY) -> list[str]:
    """`module:line` of each import of one of `packages` among the
    module's top-level statements, including those under a top-level
    `if` or `try`."""
    out = []
    stack = list(ast.parse(src).body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] if not node.level else []
        else:
            if isinstance(node, ast.If):
                stack += node.body + node.orelse
            elif isinstance(node, ast.Try):
                stack += node.body + node.orelse + node.finalbody
                stack += [n for h in node.handlers for n in h.body]
            continue
        out += [f"{n}:{node.lineno}" for n in names
                if n.split(".")[0] in packages]
    return out


def test_core_modules_import_no_batch_packages():
    found = {m: hits for m in CORE
             if (hits := batch_only_imports((PKG / f"{m}.py").read_text()))}
    assert found == {}


def test_request_path_modules_import_no_numpy():
    found = {m: hits for m in REQUEST_PATH
             if (hits := batch_only_imports((PKG / f"{m}.py").read_text(),
                                            NUMPY))}
    assert found == {}


def _payloads(tmp_path: Path) -> list[str]:
    """PDF, HTML and TTDP1 renders of synth documents, each whole and
    truncated to half its bytes, written to files."""
    docs = synth_docs(0, 6, 7)
    paths = []
    for i, (render, ext) in enumerate([(pdf_io.render_pdf, ".pdf"),
                                       (html_io.render_html, ".html"),
                                       (binary_io.encode_doc, ".ttdp")] * 2):
        data = render(docs[i])
        for cut, part in (("", data), ("_cut", data[: len(data) // 2])):
            path = tmp_path / f"d{i}{cut}{ext}"
            path.write_bytes(part)
            paths.append(str(path))
    return paths


def _responses(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        for tier in ("auto", "fast", "accurate"):
            r = api.parse_bytes(Path(p).read_bytes(), p, tier=tier)
            r.get("metadata", {}).pop("processing_time_ms", None)
            out.append(r)
    return out


def test_facade_runs_without_pyspark_or_pyarrow(tmp_path):
    """A fresh interpreter in which importing pyspark, pyarrow or numpy
    fails answers every format and tier, truncated payloads included,
    with the responses this process computes."""
    paths = _payloads(tmp_path)
    code = (
        "import sys, json; sys.modules['pyspark'] = None; "
        "sys.modules['pyarrow'] = None; sys.modules['numpy'] = None; "
        "sys.path.insert(0, sys.argv[1]); "
        "from two_tier_document_parser_spark import api; "
        "from pathlib import Path; out = []\n"
        "for p in sys.argv[2:]:\n"
        "    for t in ('auto', 'fast', 'accurate'):\n"
        "        r = api.parse_bytes(Path(p).read_bytes(), p, tier=t)\n"
        "        r.get('metadata', {}).pop('processing_time_ms', None)\n"
        "        out.append(r)\n"
        "print(json.dumps(out))"
    )
    run = subprocess.run([sys.executable, "-c", code, str(ROOT), *paths],
                         capture_output=True, text=True, cwd=tmp_path)
    assert run.returncode == 0, run.stderr
    child = json.loads(run.stdout)
    assert child == json.loads(json.dumps(_responses(paths)))
    # deep responses with PNG artifacts and in-band errors are covered
    assert any(r.get("images") for r in child)
    assert any("error" in r for r in child)


def test_pdf_request_loads_only_its_decoder(tmp_path):
    """A fresh interpreter that answers one plain PDF request (routed
    deep, with images) has not imported numpy, html_io or binary_io."""
    doc = next(d for d in synth_docs(0, 40, 7)
               if any(s["kind"] == "image" for s in d["spans"]))
    path = tmp_path / "deep.pdf"
    path.write_bytes(pdf_io.render_pdf(doc))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from two_tier_document_parser_spark import api; "
        "r = api.parse_bytes(open(sys.argv[2], 'rb').read(), 'deep.pdf'); "
        "assert r.get('images'), r; "
        "print(sorted(m for m in ('numpy', "
        "'two_tier_document_parser_spark.html_io', "
        "'two_tier_document_parser_spark.binary_io') if m in sys.modules))"
    )
    run = subprocess.run([sys.executable, "-c", code, str(ROOT), str(path)],
                         capture_output=True, text=True, cwd=tmp_path)
    assert run.returncode == 0, run.stderr
    assert run.stdout.strip() == "[]"


def test_rc4_request_loads_no_numpy(tmp_path):
    """A fresh interpreter answering an RC4-encrypted PDF request has
    not imported numpy (RC4 is pure Python); an AES-encrypted one,
    whose block decrypt is numpy, loads it. Both give the responses
    this process computes."""
    pdf = pdf_io.render_pdf(synth_docs(0, 1, 7)[0])
    paths = []
    for cipher in ("rc4", "aes"):
        path = tmp_path / f"{cipher}.pdf"
        path.write_bytes(pdf_io.encrypt_pdf(pdf, cipher))
        paths.append(str(path))
    code = (
        "import sys, json; sys.path.insert(0, sys.argv[1]); "
        "from two_tier_document_parser_spark import api; "
        "from pathlib import Path; out = []\n"
        "for p in sys.argv[2:]:\n"
        "    r = api.parse_bytes(Path(p).read_bytes(), p)\n"
        "    r.get('metadata', {}).pop('processing_time_ms', None)\n"
        "    out.append([r, 'numpy' in sys.modules])\n"
        "print(json.dumps(out))"
    )
    run = subprocess.run([sys.executable, "-c", code, str(ROOT), *paths],
                         capture_output=True, text=True, cwd=tmp_path)
    assert run.returncode == 0, run.stderr
    child = json.loads(run.stdout)
    assert [loaded for _r, loaded in child] == [False, True]
    here = []
    for p in paths:
        r = api.parse_bytes(Path(p).read_bytes(), p)
        r.get("metadata", {}).pop("processing_time_ms", None)
        here.append(r)
    assert [r for r, _loaded in child] == json.loads(json.dumps(here))
    assert all("error" not in r and r["markdown"] for r in here)


def test_spark_schemas_match_pinned_json():
    pinned = json.loads((FIXTURES / "spark_schemas.json").read_text())
    raw, out = spark_schema("documents_raw"), spark_schema("documents_out")
    assert {
        "documents_raw": raw.json(),
        "documents_out": out.json(),
        "documents_raw.spans": raw["spans"].dataType.elementType.json(),
        "documents_out.spans": out["spans"].dataType.elementType.json(),
    } == pinned


def test_spans_arrow_type_is_nullable():
    assert spans_arrow_type() == pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ]))


def test_one_pixel_cap():
    """The image decoders share spec.MAX_PIXELS: neither pixel-cap
    literal they used to spell out appears anywhere else."""
    literal = re.compile(r"1\s*<<\s*26\b|\b64_?000_?000\b")
    hits = [f"{f.name}:{n}" for f in sorted(PKG.glob("*.py"))
            for n, line in enumerate(f.read_text().splitlines(), 1)
            if literal.search(line) and f.name != "spec.py"]
    assert hits == []
