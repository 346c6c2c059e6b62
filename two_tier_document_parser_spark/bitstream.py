"""The bit-level primitives the image codecs share: one LZW decoder,
one reader and one writer per bit order, and one prefix-code read.

- `lzw_decode`: the LZW of PDF LZWDecode (§7.4.4.2), TIFF
  Compression=5 and GIF. The three differ only in format constants
  their callers pass: the root-code width (8 for PDF and TIFF, the
  stream's own 2..8 for GIF), the bit order (MSB-first for PDF and
  TIFF, LSB-first for GIF) and how early the code width grows (PDF's
  EarlyChange, 1 in TIFF, 0 in GIF).
- `MSBReader` (CCITT T.4/T.6, JBIG2 MMR through `ccitt.decode_g4`,
  JPEG entropy segments) and `LSBReader` (WebP VP8L): a bit position
  over the bytes. `bit` and `get` raise EOFError past the end; the
  MSB reader's `peek` pads with zero bits, which is what JPEG's
  16-bit huffman peek and CCITT's EOL look-ahead both expect.
- `MSBWriter` and `LSBWriter`: the encoders' bit packers, zero-padded
  to a byte at the end.
- `PrefixCode`: a prefix code decoded one bit at a time against a
  dict (CCITT run lengths and 2-D modes, WebP canonical codes). JPEG
  keeps its 16-bit-peek table in `jpeg._Huff`, a different algorithm
  over the same MSB reader.

Two readers stay in their codecs, because they do not read a plain
bit stream: `jpeg2000._HdrBits` (packet headers skip a stuffed bit
after 0xFF, T.800 B.10.1) and `jbig2._MQDecoder` (an arithmetic
coder, which JPEG 2000 shares). `ccitt._packbits` and
`pdf_io._runlength_decode` also stay apart: byte 128 is a no-op in
TIFF PackBits but end-of-data in PDF RunLengthDecode, and a TIFF strip
is cut at its expected size.

Standard library only: a PDF request with LZW streams imports it and
still never loads numpy.
"""

from __future__ import annotations

import struct

# every multi-bit read looks at the 4 bytes from the one holding its
# first bit; the readers pad their data so the window never runs out
_PAD = bytes(4)
_BIG32 = struct.Struct(">I").unpack_from
_LITTLE32 = struct.Struct("<I").unpack_from


def lzw_decode(
    data: bytes,
    min_code: int = 8,
    lsb: bool = False,
    early: int = 1,
    limit: int | None = None,
) -> bytes:
    """Variable-width LZW: roots 0 .. 2**min_code - 1, then Clear and
    EOI; codes start min_code + 1 bits wide and widen (up to 12 bits)
    once the table size plus `early` reaches the next power of two;
    the table holds 4096 entries at most. Stops at EOI, at the end of
    the data, or once `limit` bytes are out (the output may run past
    `limit` by the rest of the last entry). A first code after Clear
    that is not a root, or a code past the table, raises ValueError."""
    clear = 1 << min_code
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = roots[:]
    width = min_code + 1
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = 0
    for byte in data:
        if lsb:
            acc |= byte << nbits
        else:
            acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            if lsb:
                code = acc & ((1 << width) - 1)
                acc >>= width
            else:
                code = acc >> nbits
                acc &= (1 << nbits) - 1
            if code == clear:
                table = roots[:]
                width, prev = min_code + 1, None
                continue
            if code == clear + 1:
                return bytes(out)
            if prev is None:
                if code >= clear:
                    raise ValueError(f"LZW code {code} after Clear")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} out of range")
            out += entry
            if limit is not None and len(out) >= limit:
                return bytes(out)
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


class _Reader:
    """A bit position `pos` over the `n` bits of `data`; callers may
    move `pos` themselves (byte alignment, skipping a matched
    marker)."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes) -> None:
        self.data = bytes(data) + _PAD
        self.pos = 0
        self.n = 8 * len(data)


class MSBReader(_Reader):
    """Bits of `data`, most significant bit of each byte first."""

    __slots__ = ()

    def bit(self) -> int:
        p = self.pos
        if p >= self.n:
            raise EOFError
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def peek(self, k: int) -> int:
        """The next `k` <= 25 bits without consuming them, zero bits
        past the end."""
        p = self.pos
        window = _BIG32(self.data, p >> 3)[0]
        return (window >> (32 - (p & 7) - k)) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        if self.pos + k > self.n:
            raise EOFError
        self.pos += k

    def get(self, k: int) -> int:
        """The next `k` <= 25 bits as an integer, first bit highest."""
        p = self.pos
        if p + k > self.n:
            raise EOFError
        self.pos = p + k
        window = _BIG32(self.data, p >> 3)[0]
        return (window >> (32 - (p & 7) - k)) & ((1 << k) - 1)


class LSBReader(_Reader):
    """Bits of `data`, least significant bit of each byte first (WebP
    VP8L); `get(k)` packs the first bit read into bit 0."""

    __slots__ = ()

    def bit(self) -> int:
        p = self.pos
        if p >= self.n:
            raise EOFError
        self.pos = p + 1
        return (self.data[p >> 3] >> (p & 7)) & 1

    def get(self, k: int) -> int:
        """The next `k` <= 25 bits as an integer."""
        p = self.pos
        if p + k > self.n:
            raise EOFError
        self.pos = p + k
        window = _LITTLE32(self.data, p >> 3)[0]
        return (window >> (p & 7)) & ((1 << k) - 1)


class PrefixCode:
    """A prefix code read one bit at a time, the code's first bit
    first. `codes` maps each symbol to its (code, length); the decode
    dict keys a code by `(1 << length) | code`, the (length, code)
    pair in one integer. A zero-length code reads no bits (a
    one-symbol code). `max_len` is the format's longest code: reading
    fails with ValueError once more bits than that have been read."""

    __slots__ = ("table", "limit")

    def __init__(self, codes: dict[int, tuple[int, int]], max_len: int) -> None:
        self.table = {(1 << ln) | c: sym for sym, (c, ln) in codes.items()}
        # the key after max_len + 1 bits; 1 for a one-symbol code
        self.limit = 1 if 1 in self.table else 2 << max_len

    def read(self, br: MSBReader | LSBReader) -> int:
        table = self.table
        limit = self.limit
        bit = br.bit
        key = 1
        while key < limit:
            key = (key << 1) | bit()
            sym = table.get(key)
            if sym is not None:
                return sym
        if key == 1:  # a one-symbol code reads no bits
            return table[1]
        raise ValueError("bad prefix code")


class _Writer:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def align(self) -> None:
        """Zero bits up to the next byte boundary."""
        self.write(0, -self.nbits % 8)

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.buf)


class MSBWriter(_Writer):
    """Packs codes most significant bit first (CCITT)."""

    __slots__ = ()

    def write(self, value: int, length: int) -> None:
        acc = (self.acc << length) | value
        n = self.nbits + length
        while n >= 8:
            n -= 8
            self.buf.append((acc >> n) & 0xFF)
        self.acc = acc & ((1 << n) - 1)
        self.nbits = n


class LSBWriter(_Writer):
    """Packs fields least significant bit first (GIF, WebP)."""

    __slots__ = ()

    def write(self, value: int, length: int) -> None:
        acc = self.acc | (value << self.nbits)
        n = self.nbits + length
        while n >= 8:
            self.buf.append(acc & 0xFF)
            acc >>= 8
            n -= 8
        self.acc = acc
        self.nbits = n
