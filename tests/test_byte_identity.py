"""Byte-identity pins for the per-request codecs.

`tests/fixtures/byte_identity.json` holds outputs of the numpy-based
PNG artifact path and TTDP1 codec that the stdlib request path
replaced: sha256 digests of `png.artifact_png` over a grid of seeds
and bboxes, of `binary_io.encode_doc` over synth and non-ASCII
documents, and the `binary_io.decode_doc` rows (or None) for valid,
non-ASCII and malformed TTDP1 payloads. The code must reproduce them
byte for byte.

Regenerate (only when a format change is intended) with
`python tests/test_byte_identity.py`, which writes the fixture from
whichever package is first on the import path.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys
from pathlib import Path

FIXTURE = Path(__file__).parent / "fixtures" / "byte_identity.json"

SEEDS = ["", "a", "asset_9", "page_3_img_12", "ünïcödé ✓", "x" * 300]
BBOXES = [None, [0, 0, 1, 1], [0, 0, 5, 3], [10, 20, 74, 84],
          [0, 0, 900, 900], [50, 0, 10, 8], [5, 5, 5], []]

NON_ASCII = [
    {"doc_class": "html", "n_pages": 1, "spans": [
        {"kind": "heading", "text": "Ünïcödé tïtlé", "media_ref": "",
         "offset": 0},
        {"kind": "text", "text": "日本語のテキスト, ελληνικά, emoji 🧾",
         "media_ref": "", "offset": 14},
        {"kind": "image", "text": "", "media_ref": "fïgure_ß", "offset": 60},
        {"kind": "text", "text": "", "media_ref": "", "offset": -1},
    ]},
    {"doc_class": "pdfish", "n_pages": 3, "spans": [
        {"kind": "box", "text": "1,2,3,4,figure", "media_ref": "",
         "offset": 2 ** 31 - 1},
        {"kind": "text", "text": "é" * 40, "media_ref": "", "offset": -2 ** 31},
    ]},
]


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _with(buf: bytes, pos: int, new: bytes) -> bytes:
    return buf[:pos] + new + buf[pos + len(new):]


def _malformed() -> dict[str, bytes]:
    """Named TTDP1 payloads that `decode_doc` must reject."""
    from two_tier_document_parser_spark.binary_io import encode_doc
    from two_tier_document_parser_spark.spec import IN_KINDS

    doc = {"doc_class": "html", "n_pages": 1, "spans": [
        {"kind": "text", "text": "é", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "x", "media_ref": "ü", "offset": 1}]}
    good = encode_doc(doc)
    n = 2
    tlen = 14 + n + 4 * n  # text-length section
    text = tlen + 4 * n
    rlen = text + 3
    return {
        # text lengths (1, 2): the second field starts inside "é"
        "split_char": _with(good, tlen, (1).to_bytes(4, "little")
                            + (2).to_bytes(4, "little")),
        # the media_ref "ü" cut to its first byte, the rest shifted out
        "short_ref_char": _with(good, rlen + 2, (1).to_bytes(2, "little")),
        "kind_out_of_range": _with(good, 14, bytes([len(IN_KINDS)])),
        "kind_255": _with(good, 15, b"\xff"),
        "class_out_of_range": _with(good, 5, b"\x02"),
        "n_pages_over_int32": _with(good, 6, (2 ** 31).to_bytes(4, "little")),
        "n_spans_far_past": _with(good, 10, (2 ** 32 - 1).to_bytes(4, "little")),
        "n_spans_one_past": _with(good, 10, (n + 1).to_bytes(4, "little")),
        "text_len_past_end": _with(good, tlen, (2 ** 32 - 1).to_bytes(4, "little")),
        "cut_in_header": good[:12],
        "cut_in_kinds": good[:15],
        "cut_in_offsets": good[:19],
        "cut_in_text": good[:text + 1],
        "cut_in_refs": good[:-1],
        "bad_magic": b"TTDP2" + good[5:],
        "invalid_utf8": _with(good, text, b"\xff\xfe"),
        "empty": b"",
    }


def compute() -> dict:
    from two_tier_document_parser_spark.binary_io import decode_doc, encode_doc
    from two_tier_document_parser_spark.png import artifact_png
    from two_tier_document_parser_spark.synth import synth_docs

    rng = random.Random(14)
    grid = hashlib.sha256()
    for i in range(400):
        x0, y0 = rng.randint(-50, 700), rng.randint(-50, 800)
        bbox = [x0, y0, x0 + rng.randint(-20, 120), y0 + rng.randint(-20, 120)]
        grid.update(artifact_png(f"page_{rng.randint(0, 99)}_img_{i}", bbox))
    docs = synth_docs(0, 40, 7) + NON_ASCII
    return {
        "artifact_png": {
            f"{s!r} {b!r}": _sha(artifact_png(s, b))
            for s in SEEDS for b in BBOXES
        },
        "artifact_png_random_grid": grid.hexdigest(),
        "encode_doc": [_sha(encode_doc(d)) for d in docs],
        "decode_doc": [decode_doc(encode_doc(d)) for d in NON_ASCII],
        "decode_doc_malformed": {k: decode_doc(v)
                                 for k, v in _malformed().items()},
    }


def test_outputs_match_pinned_bytes():
    pinned = json.loads(FIXTURE.read_text())
    got = json.loads(json.dumps(compute()))
    for key in pinned:
        assert got[key] == pinned[key], key
    assert set(got) == set(pinned)
    # the non-ASCII documents round-trip through the container
    assert pinned["decode_doc"] == NON_ASCII


if __name__ == "__main__":
    sys.path.append(str(Path(__file__).resolve().parents[1]))
    FIXTURE.write_text(json.dumps(compute(), indent=1, ensure_ascii=False)
                       + "\n")
    print(f"wrote {FIXTURE}")
