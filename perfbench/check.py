"""Output correctness against the in-repo oracle (`oracle.extract_doc`).

Expected outputs are reduced to small per-document digests when the
inputs are generated, so a run only digests what the engine returned
and compares. Two shapes exist:

- a *row* digest for documents_out rows (batch workloads): tier, pages,
  skipped_pages, markdown and the span tuples (kind, text, media_ref,
  order);
- a *response* digest for `api.parse_bytes` responses: tier, pages,
  skipped_pages, markdown and the artifact lists the response carries
  (the facade returns no span list; its images/tables/formulas are the
  spans with a `page_{p}_{kind}_{i}` media_ref), each with its bbox.
  Each image's PNG is decoded here, without the engine's codec: the
  signature, every chunk CRC, IHDR first and IEND last, and IDAT must
  inflate to exactly the scanlines IHDR announces. Its IHDR size must
  be the crop size of the oracle span's bbox: each extent clamped to
  [1, 64], or 16 x 16 when the span has no geometry.

A quarantined document (tier 'error') digests to the empty output, so a
truncated payload that comes back as one error row passes.
"""

from __future__ import annotations

import base64
import binascii
import hashlib
import json
import re
import struct
import zlib

FIELDS = ("tier", "pages", "skipped_pages", "markdown", "content")

_ARTIFACT_RE = re.compile(r"page_(\d+)_(img|table|formula)_(\d+)")
_ARTIFACT_KINDS = ("image", "table", "formula")
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colour type -> samples per pixel
MAX_CROP_SIDE = 64
NO_BBOX_CROP = [16, 16]


def _h(obj) -> str:
    data = obj if isinstance(obj, str) else json.dumps(obj, ensure_ascii=False)
    return hashlib.blake2b(data.encode("utf-8"), digest_size=12).hexdigest()


def _digest(tier, pages, skipped, markdown, content) -> list:
    if tier == "error":
        return ["error", 0, [], _h(""), _h([])]
    return [tier, int(pages), [int(p) for p in skipped], _h(markdown), _h(content)]


def row_digest(row: dict) -> list:
    """documents_out row (engine or oracle) -> digest."""
    spans = [[s["kind"], s["text"], s["media_ref"], int(s["order"])]
             for s in row["spans"]]
    return _digest(row["tier"], row["pages"], row["skipped_pages"],
                   row["markdown"], spans)


def crop_size(bbox: list | None) -> list[int]:
    """[width, height] of the PNG crop for an artifact bbox."""
    if not bbox:
        return NO_BBOX_CROP
    x0, y0, x1, y1 = (int(v) for v in bbox)
    return [max(1, min(x1 - x0, MAX_CROP_SIDE)),
            max(1, min(y1 - y0, MAX_CROP_SIDE))]


def png_size(b64: str) -> list[int] | str:
    """Base64 PNG -> [width, height] after checking its structure, or a
    string saying what is wrong with it."""
    try:
        data = base64.b64decode(b64, validate=True)
    except (binascii.Error, ValueError):
        return "not base64"
    if not data.startswith(_PNG_SIG):
        return "no PNG signature"
    chunks, pos = [], len(_PNG_SIG)
    while pos < len(data):
        if pos + 12 > len(data):
            return "truncated chunk"
        (n,) = struct.unpack(">I", data[pos:pos + 4])
        tag, body = data[pos + 4:pos + 8], data[pos + 8:pos + 8 + n]
        crc = data[pos + 8 + n:pos + 12 + n]
        if len(body) != n or len(crc) != 4:
            return "truncated chunk"
        if zlib.crc32(tag + body) != struct.unpack(">I", crc)[0]:
            return f"bad CRC in {tag!r}"
        chunks.append((tag, body))
        pos += 12 + n
    if not chunks or chunks[0][0] != b"IHDR" or len(chunks[0][1]) != 13 \
            or chunks[-1] != (b"IEND", b""):
        return "IHDR not first or IEND not last"
    w, h, depth, colour, _, _, interlace = struct.unpack(">IIBBBBB",
                                                         chunks[0][1])
    if depth != 8 or colour not in _PNG_CHANNELS or interlace:
        return f"unexpected IHDR depth={depth} colour={colour}"
    try:
        raw = zlib.decompress(b"".join(b for t, b in chunks if t == b"IDAT"))
    except zlib.error:
        return "IDAT does not inflate"
    if len(raw) != h * (1 + w * _PNG_CHANNELS[colour]):
        return "IDAT size does not match IHDR"
    return [w, h]


def expected_response_digest(row: dict) -> list:
    """Oracle documents_out row -> digest of the facade response it
    implies (artifacts only on the deep tier, in span order per kind)."""
    arts = {k: [] for k in _ARTIFACT_KINDS}
    if row["tier"] == "deep":
        for s in row["spans"]:
            m = _ARTIFACT_RE.fullmatch(s["media_ref"] or "")
            if m and s["kind"] in arts:
                bbox = list(s["bbox"]) if s.get("bbox") else None
                last = crop_size(bbox) if s["kind"] == "image" else s["text"]
                arts[s["kind"]].append(
                    [s["media_ref"], int(m.group(1)), bbox, last])
    return _digest(row["tier"], row["pages"], row["skipped_pages"],
                   row["markdown"], [arts[k] for k in _ARTIFACT_KINDS])


def response_digest(resp: dict) -> list:
    """`api.parse_bytes` response -> digest."""
    if "error" in resp:
        return _digest("error", 0, [], "", [])
    meta = resp["metadata"]
    deep = "accuracy_tier" in meta
    arts = [
        [[a["image_id"], a["page"], a["bbox"], png_size(a["image_base64"])]
         for a in resp.get("images", [])],
        [[a["table_id"], a["page"], a["bbox"], a["markdown"]]
         for a in resp.get("tables", [])],
        [[a["formula_id"], a["page"], a["bbox"], a["latex"]]
         for a in resp.get("formulas", [])],
    ]
    return _digest("deep" if deep else "fast", meta["pages"],
                   meta.get("skipped_pages", []), resp["markdown"], arts)


def digest_batches(batches):
    """mapInArrow body: documents_out batches -> (doc_id, digest JSON)."""
    import pyarrow as pa

    for batch in batches:
        rows = batch.to_pylist()
        yield pa.RecordBatch.from_pydict({
            "doc_id": [r["doc_id"] for r in rows],
            "digest": [json.dumps(row_digest(r)) for r in rows],
        })


class Checker:
    """Compares (doc_id, digest) pairs with the expected digests.

    Every expected document must appear exactly once with an equal
    digest; anything else is a failed operation."""

    def __init__(self, expected: dict[str, list]):
        self.expected = expected
        self.seen: set[str] = set()
        self.failures: dict[str, str] = {}

    def add(self, doc_id: str, digest: list) -> None:
        want = self.expected.get(doc_id)
        if want is None:
            self.failures[doc_id] = "unexpected doc_id"
        elif doc_id in self.seen:
            self.failures[doc_id] = "duplicate row"
        else:
            bad = [f for f, a, b in zip(FIELDS, digest, want) if a != b]
            if bad:
                self.failures[doc_id] = "differs in " + ",".join(bad)
        self.seen.add(doc_id)

    def fail(self, doc_id: str, why: str) -> None:
        """Mark a document failed unless it has failed already."""
        self.failures.setdefault(doc_id, why)

    def add_error(self, doc_id: str, exc: BaseException) -> None:
        self.seen.add(doc_id)
        self.failures[doc_id] = f"raised {type(exc).__name__}: {exc}"

    def finish(self) -> tuple[int, int, dict[str, str]]:
        """-> (attempted, failed, failures by doc_id)."""
        for doc_id in self.expected.keys() - self.seen:
            self.failures[doc_id] = "missing row"
        return len(self.expected), len(self.failures), self.failures
