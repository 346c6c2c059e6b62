"""Byte-level document ingestion: a from-scratch binary container
decoded inside the Arrow kernel.

The reference's O1 accepts opaque document BYTES per request
(fast/app.py:49-66, accurate/app.py:100-123); round 1 only consumed
pre-tokenized span tables. This module closes that gap with a simple
COLUMNAR container ("TTDP1") so `binary -> documents_raw` runs at
vector speed:

    magic   5s   b"TTDP1"
    header  u8   doc_class code (index into spec.IN_DOC_CLASSES)
            u32  n_pages        (little-endian throughout)
            u32  n_spans
    columns n_spans * u8   kind codes (index into spec.IN_KINDS)
            n_spans * i32  offsets
            n_spans * u32  text byte lengths, then the concatenated
                           utf-8 text bytes
            n_spans * u16  media_ref byte lengths, then the
                           concatenated utf-8 ref bytes

One parser (`_parse`) reads and validates the header and sections of
a payload, with the fixed-width sections as `memoryview.cast` views;
two decoders share it. `decode_doc` (one payload, the per-request and
sniffing path) builds the row dict in plain Python: no numpy, no
Arrow. `decode_batches` (a table of payloads) is not a per-span loop:
it wraps each section view with `np.frombuffer` and assembles string
columns zero-copy via `pa.Array.from_buffers` from (cumsum(lens),
concatenated bytes). A malformed payload quarantines the document
(error channel O19), it never throws. The views are read in native
byte order, so the module refuses to import on a big-endian host
rather than decode byte-swapped counts. The encoders and
`decode_batches` import numpy inside.

Scale notes: the decode stage is map-only (no shuffle); payload bytes
stream through Arrow buffers without per-row Python objects; the
container is self-describing per document, so a 100 TB table of
(doc_id, payload) splits on row-group boundaries like any parquet.
"""

from __future__ import annotations

import sys
from itertools import accumulate

from .spec import IN_KINDS, TTDP1_MAGIC as MAGIC

if sys.byteorder != "little":
    raise ImportError("binary_io reads TTDP1's little-endian sections in "
                      "native byte order; big-endian hosts are unsupported")

IN_DOC_CLASSES = ("html", "pdfish")

_HDR = len(MAGIC) + 1 + 4 + 4  # magic + class + n_pages + n_spans
_WIDTH = {"B": 1, "i": 4, "I": 4, "H": 2}  # u8, i32, u32, u16
_KIND_INDEX = {k: i for i, k in enumerate(IN_KINDS)}
_CLASS_INDEX = {c: i for i, c in enumerate(IN_DOC_CLASSES)}


def encode_doc(doc: dict) -> bytes:
    """Scalar encoder (oracle/test harness side): one documents_raw
    row -> container bytes."""
    import numpy as np

    spans = doc["spans"]
    n = len(spans)
    kinds = np.fromiter(
        (_KIND_INDEX[s["kind"]] for s in spans), dtype=np.uint8, count=n
    )
    offsets = np.fromiter(
        (s["offset"] for s in spans), dtype=np.int32, count=n
    )
    texts = [s["text"].encode("utf-8") for s in spans]
    refs = [(s["media_ref"] or "").encode("utf-8") for s in spans]
    if any(len(r) > 0xFFFF for r in refs) or any(
        len(t) > 0xFFFFFFFF for t in texts
    ):
        raise ValueError("span field exceeds TTDP1 length-field width")
    tlen = np.fromiter((len(t) for t in texts), dtype=np.uint32, count=n)
    rlen = np.fromiter((len(r) for r in refs), dtype=np.uint16, count=n)
    head = (
        MAGIC
        + bytes([_CLASS_INDEX[doc["doc_class"]]])
        + int(doc["n_pages"]).to_bytes(4, "little")
        + n.to_bytes(4, "little")
    )
    return b"".join(
        (
            head,
            kinds.tobytes(),
            offsets.astype("<i4").tobytes(),
            tlen.astype("<u4").tobytes(),
            b"".join(texts),
            rlen.astype("<u2").tobytes(),
            b"".join(refs),
        )
    )


def _utf8_array(lens: np.ndarray, data: bytes):
    """Zero-copy-ish utf-8 column from (byte lengths, concatenated
    bytes): one cumsum for the offsets, no per-value Python strings.

    The int32 offsets cannot overflow in practice: the decoded text
    is a subset of the input batch's `binary` payload column, whose
    own Arrow int32 offsets already cap one batch below 2 GiB — but
    guard explicitly so a violated assumption fails loudly instead of
    producing wrapped offsets."""
    import numpy as np
    import pyarrow as pa

    offs64 = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs64[1:])
    if offs64[-1] > 0x7FFFFFFF:
        raise ValueError(
            "decoded batch exceeds 2 GiB of string data — input batch "
            "violated Arrow's own binary-column size invariant"
        )
    offs = offs64.astype(np.int32)
    return pa.Array.from_buffers(
        pa.utf8(),
        len(lens),
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)],
    )


def _section(view: memoryview, pos: int, n: int, fmt: str) -> memoryview:
    """`n` items of struct format `fmt` at byte `pos` of the payload,
    as a cast view; ValueError when the payload ends first."""
    size = n * _WIDTH[fmt]
    part = view[pos : pos + size]
    if len(part) != size:
        raise ValueError("truncated container")
    return part.cast(fmt)


def _parse(buf: bytes):
    """The one TTDP1 header/section parser and validator: payload ->
    (class code, n_pages, kinds, offsets, text lengths, text bytes, ref
    lengths, ref bytes), the fixed-width sections as memoryviews
    (formats B, i, I, H). Raises ValueError on a malformed payload: bad
    magic, truncated sections, a kind or class code out of range, an
    n_pages that does not fit the int32 output column, or a
    text/media_ref field that is not valid UTF-8."""
    if buf[: len(MAGIC)] != MAGIC or len(buf) < _HDR:
        raise ValueError("bad magic")
    cls = buf[len(MAGIC)]
    np_d = int.from_bytes(buf[6:10], "little")
    n = int.from_bytes(buf[10:14], "little")
    view = memoryview(buf)
    kinds = _section(view, _HDR, n, "B")
    pos = _HDR + n
    offs = _section(view, pos, n, "i")
    pos += 4 * n
    tlen = _section(view, pos, n, "I")
    pos += 4 * n
    t_total = sum(tlen)
    text_data = buf[pos : pos + t_total]
    pos += t_total
    rlen = _section(view, pos, n, "H")
    pos += 2 * n
    r_total = sum(rlen)
    ref_data = buf[pos : pos + r_total]
    if (
        len(text_data) != t_total
        or len(ref_data) != r_total
        or n and max(kinds) >= len(IN_KINDS)
        or cls >= len(IN_DOC_CLASSES)
        or not 0 <= np_d <= 0x7FFFFFFF
    ):
        raise ValueError("truncated or corrupt container")
    _check_utf8(tlen, text_data)
    _check_utf8(rlen, ref_data)
    return cls, np_d, kinds, offs, tlen, text_data, rlen, ref_data


def _check_utf8(lens: memoryview, data: bytes) -> None:
    """Every field slice of `data` must be valid UTF-8: the whole
    section decodes (UnicodeDecodeError is a ValueError) and no field
    starts inside a multi-byte character."""
    data.decode("utf-8")
    if not data.isascii():
        for start in accumulate(lens[:-1]):
            if start < len(data) and (data[start] & 0xC0) == 0x80:
                raise ValueError("field splits a UTF-8 character")


def decode_doc(buf: bytes) -> dict | None:
    """One TTDP1 payload -> documents_raw row dict (without doc_id), or
    None when `_parse` rejects it. Plain Python per span; the row
    equals the one `decode_batches` emits for the same payload."""
    try:
        cls, np_d, kinds, offs, tlen, text, rlen, refs = _parse(buf)
    except ValueError:
        return None
    spans = []
    t = r = 0
    for k, o, tl, rl in zip(kinds.tolist(), offs.tolist(), tlen.tolist(),
                            rlen.tolist()):
        spans.append({"kind": IN_KINDS[k], "text": text[t : t + tl].decode(),
                      "media_ref": refs[r : r + rl].decode(), "offset": o})
        t += tl
        r += rl
    return {"doc_class": IN_DOC_CLASSES[cls], "n_pages": np_d, "spans": spans}


def decode_batches(batches):
    """(doc_id, payload binary) -> documents_raw rows. Malformed
    payloads produce a quarantine-shaped row (doc_class='', n_pages=0,
    no spans) instead of raising — the router (routing.route, run by
    fused_batches) then sends them to the error channel."""
    import numpy as np
    import pyarrow as pa

    kind_dict = pa.array(IN_KINDS, type=pa.string())
    for batch in batches:
        n_docs = batch.num_rows
        if n_docs == 0:
            continue
        doc_classes: list[str] = []
        n_pages = np.zeros(n_docs, dtype=np.int32)
        span_counts = np.zeros(n_docs, dtype=np.int64)
        kind_parts: list[np.ndarray] = []
        off_parts: list[np.ndarray] = []
        tlen_parts: list[np.ndarray] = []
        text_parts: list[bytes] = []
        rlen_parts: list[np.ndarray] = []
        ref_parts: list[bytes] = []

        for d, buf in enumerate(batch.column("payload").to_pylist()):
            try:
                cls, np_d, kinds, offs, tlen, text_data, rlen, ref_data = (
                    _parse(buf or b"")
                )
            except ValueError:
                # O19: malformed bytes -> quarantine-shaped row
                doc_classes.append("")
                continue
            doc_classes.append(IN_DOC_CLASSES[cls])
            n_pages[d] = np_d
            span_counts[d] = len(kinds)
            kind_parts.append(np.frombuffer(kinds, np.uint8))
            off_parts.append(np.frombuffer(offs, np.int32))
            tlen_parts.append(np.frombuffer(tlen, np.uint32).astype(np.int64))
            text_parts.append(text_data)
            rlen_parts.append(np.frombuffer(rlen, np.uint16).astype(np.int64))
            ref_parts.append(ref_data)

        total = int(span_counts.sum())
        kind_codes = (
            np.concatenate(kind_parts) if kind_parts else np.empty(0, np.uint8)
        )
        kind_col = pa.DictionaryArray.from_arrays(
            pa.array(kind_codes.astype(np.int32), type=pa.int32()), kind_dict
        ).cast(pa.string())
        text_col = _utf8_array(
            np.concatenate(tlen_parts) if tlen_parts else np.empty(0, np.int64),
            b"".join(text_parts),
        )
        ref_col = _utf8_array(
            np.concatenate(rlen_parts) if rlen_parts else np.empty(0, np.int64),
            b"".join(ref_parts),
        )
        off_col = pa.array(
            np.concatenate(off_parts) if off_parts else np.empty(0, np.int32),
            type=pa.int32(),
        )
        span_struct = pa.StructArray.from_arrays(
            [kind_col, text_col, ref_col, off_col],
            names=["kind", "text", "media_ref", "offset"],
        )
        list_offsets = np.zeros(n_docs + 1, dtype=np.int32)
        np.cumsum(span_counts, out=list_offsets[1:])
        assert list_offsets[-1] == total
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                pa.array(doc_classes, type=pa.string()),
                pa.array(n_pages, type=pa.int32()),
                pa.ListArray.from_arrays(
                    pa.array(list_offsets, type=pa.int32()), span_struct
                ),
            ],
            names=["doc_id", "doc_class", "n_pages", "spans"],
        )


def encode_batches(batches):
    """documents_raw rows -> (doc_id, payload binary). The Spark-side
    writer: per-span work is numpy over the flattened Arrow child
    arrays; Python touches only per-document section boundaries."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        n_docs = batch.num_rows
        if n_docs == 0:
            continue
        lst = batch.column("spans")
        if isinstance(lst, pa.ChunkedArray):
            lst = lst.combine_chunks()
        counts = (
            pc.list_value_length(lst)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        flat = lst.flatten()
        kind_codes = (
            pc.index_in(flat.field("kind"), value_set=pa.array(IN_KINDS))
            .to_numpy(zero_copy_only=False)
            .astype(np.uint8)
        )
        offs32 = flat.field("offset").to_numpy(zero_copy_only=False).astype("<i4")
        t_arr = pc.cast(flat.field("text"), pa.large_utf8())
        r_arr = pc.cast(
            pc.fill_null(flat.field("media_ref"), ""), pa.large_utf8()
        )
        t_offs = np.frombuffer(t_arr.buffers()[1], dtype=np.int64)[
            t_arr.offset : t_arr.offset + len(t_arr) + 1
        ]
        r_offs = np.frombuffer(r_arr.buffers()[1], dtype=np.int64)[
            r_arr.offset : r_arr.offset + len(r_arr) + 1
        ]
        # one memoryview per batch; per-doc slices below are zero-copy
        t_data = memoryview(t_arr.buffers()[2] or b"")
        r_data = memoryview(r_arr.buffers()[2] or b"")
        tlens64 = np.diff(t_offs)
        rlens64 = np.diff(r_offs)
        # the container's width fields are u4 (text) / u2 (media_ref):
        # out-of-range lengths must be a loud encode error, never a
        # silent wrap that decodes to mis-sliced spans
        if rlens64.size and int(rlens64.max()) > 0xFFFF:
            raise ValueError(
                "media_ref longer than 65535 bytes cannot be encoded "
                "in a TTDP1 container (u16 length field)"
            )
        if tlens64.size and int(tlens64.max()) > 0xFFFFFFFF:
            raise ValueError(
                "span text longer than 2^32-1 bytes cannot be encoded "
                "in a TTDP1 container (u32 length field)"
            )
        tlens = tlens64.astype("<u4")
        rlens = rlens64.astype("<u2")
        classes = batch.column("doc_class").to_pylist()
        pages = batch.column("n_pages").to_pylist()
        ends = np.cumsum(counts)
        starts = ends - counts
        payloads: list[bytes] = []
        for d in range(n_docs):
            lo, hi = int(starts[d]), int(ends[d])
            head = (
                MAGIC
                + bytes([_CLASS_INDEX[classes[d]]])
                + int(pages[d]).to_bytes(4, "little")
                + int(hi - lo).to_bytes(4, "little")
            )
            payloads.append(
                b"".join(
                    (
                        head,
                        kind_codes[lo:hi].tobytes(),
                        offs32[lo:hi].tobytes(),
                        tlens[lo:hi].tobytes(),
                        t_data[t_offs[lo] : t_offs[hi]],
                        rlens[lo:hi].tobytes(),
                        r_data[r_offs[lo] : r_offs[hi]],
                    )
                )
            )
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), pa.array(payloads, type=pa.binary())],
            names=["doc_id", "payload"],
        )


def encode_table(raw):
    """documents_raw DataFrame -> (doc_id, payload binary)."""
    return raw.select("doc_id", "doc_class", "n_pages", "spans").mapInArrow(
        encode_batches, "doc_id string, payload binary"
    )


def decode_table(bin_df):
    """(doc_id, payload binary) DataFrame -> documents_raw rows."""
    from .schemas import spark_schema

    return bin_df.select("doc_id", "payload").mapInArrow(
        decode_batches, spark_schema("documents_raw")
    )
