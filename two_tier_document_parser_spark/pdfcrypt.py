"""Standard security handler for encrypted PDFs (ISO 32000-1 §7.6.3)
— the round-3 verdict's top ingestion gap. The reference parses
encrypted files transparently via PyMuPDF (fast/service.py:42); here
every primitive is built from the public specs:

- RC4 (the §7.6.2 "Algorithm 1" symmetric cipher, public design),
- AES-128 (FIPS-197: S-box computed from the GF(2^8) inverse +
  affine transform, not transcribed tables; CBC per §7.6.2 with the
  16-byte IV prefix and the PKCS#5-style padding §7.6.2 mandates),
- the §7.6.3 key algorithms: Algorithm 2 (file key from the padded
  password, /O, /P, /ID), Algorithm 3 (/O from the owner password),
  Algorithms 4/5 (/U computation and user-password verification).

Covered: V1/R2 (RC4-40), V2/R3 (RC4 up to 128), V4/R4 crypt filters
/V2 (RC4) and /AESV2 (AES-128-CBC), and V5 /AESV3 (AES-256) for
both R6 (ISO 32000-2 §7.6.4, the PDF 2.0 handler: Algorithm 2.B
iterated SHA-256/384/512 + AES-128-CBC KDF, /UE key unwrap, /Perms
validation) and the deprecated Adobe R5 — all for the EMPTY user
password, the overwhelmingly common "encrypted but openable" case.
Non-empty passwords verify false and the caller quarantines. The
AES core passes the FIPS-197 appendix C known-answer vectors for
both key sizes (tests/test_pdf15_io.py).

AES decryption is numpy-vectorized ACROSS blocks (CBC decryption is
embarrassingly parallel: D(c_i) XOR c_{i-1}), so corpus-scale
decrypt stays Arrow-batch friendly; CBC *encryption* (fixture/
producer side only) is a sequential per-block loop. numpy and the
AES tables load on the first AES call: RC4 files never pay for them.
"""

from __future__ import annotations

import functools
import hashlib
import struct

# §7.6.3.3 Algorithm 2 padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = ch ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES-128 (FIPS-197), S-box and GF(2^8) multiply tables computed
# ---------------------------------------------------------------------------


@functools.cache
def _tables():
    """(S-box, inverse S-box, GF(2^8) multiply-by-c tables, ShiftRows
    and its inverse) as numpy arrays, built on the first AES call so an
    RC4 file never loads numpy. The state is 16 bytes, column-major
    (s[row + 4*col]), so a (nblocks, 16) uint8 matrix vectorizes every
    step as fancy indexing."""
    import numpy as np

    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        # multiply by the generator 0x03: x*2 (mod 0x11B) xor x
        x2 = (x << 1) ^ 0x11B if x & 0x80 else x << 1
        x = x2 ^ x
    for i in range(255, 512):
        exp[i] = exp[i - 255]

    def gmul(a: int, b: int) -> int:
        if a == 0 or b == 0:
            return 0
        return exp[log[a] + log[b]]

    sbox = [0] * 256
    for a in range(256):
        s = exp[255 - log[a]] if a else 0  # multiplicative inverse
        b = 0
        for k in range(8):
            b |= (
                ((s >> k) ^ (s >> ((k + 4) % 8)) ^ (s >> ((k + 5) % 8))
                 ^ (s >> ((k + 6) % 8)) ^ (s >> ((k + 7) % 8)) ^ (0x63 >> k))
                & 1
            ) << k
        sbox[a] = b
    inv_sbox = [0] * 256
    for a, b in enumerate(sbox):
        inv_sbox[b] = a
    mul = {
        c: np.array([gmul(a, c) for a in range(256)], dtype=np.uint8)
        for c in (2, 3, 9, 11, 13, 14)
    }
    shift = np.array([0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11])
    return (
        np.array(sbox, dtype=np.uint8),
        np.array(inv_sbox, dtype=np.uint8),
        mul,
        shift,
        np.argsort(shift),
    )


_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _expand_key(key: bytes) -> np.ndarray:
    """AES key schedule (FIPS-197 §5.2) -> (Nr+1, 16) uint8 round
    keys. Nk=4 (AES-128, 10 rounds) or Nk=8 (AES-256, 14 rounds; the
    schedule's extra rule: at i % Nk == 4 apply SubWord without the
    rotate)."""
    import numpy as np

    nk = len(key) // 4
    if nk not in (4, 8):
        raise ValueError("AES key must be 16 or 32 bytes")
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    sbox = _tables()[0]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [int(sbox[b]) for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [int(sbox[b]) for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    flat = [b for word in w for b in word]
    return np.array(flat, dtype=np.uint8).reshape(nr + 1, 16)


def _mix_columns(st: np.ndarray, inv: bool) -> np.ndarray:
    import numpy as np

    s = st.reshape(-1, 4, 4)  # (n, col, row)
    a0, a1, a2, a3 = s[:, :, 0], s[:, :, 1], s[:, :, 2], s[:, :, 3]
    m = _tables()[2]
    if not inv:
        b0 = m[2][a0] ^ m[3][a1] ^ a2 ^ a3
        b1 = a0 ^ m[2][a1] ^ m[3][a2] ^ a3
        b2 = a0 ^ a1 ^ m[2][a2] ^ m[3][a3]
        b3 = m[3][a0] ^ a1 ^ a2 ^ m[2][a3]
    else:
        b0 = m[14][a0] ^ m[11][a1] ^ m[13][a2] ^ m[9][a3]
        b1 = m[9][a0] ^ m[14][a1] ^ m[11][a2] ^ m[13][a3]
        b2 = m[13][a0] ^ m[9][a1] ^ m[14][a2] ^ m[11][a3]
        b3 = m[11][a0] ^ m[13][a1] ^ m[9][a2] ^ m[14][a3]
    return np.stack([b0, b1, b2, b3], axis=2).reshape(-1, 16)


def _encrypt_blocks(blocks: np.ndarray, rk: np.ndarray) -> np.ndarray:
    sbox, _inv_sbox, _mul, shift, _inv_shift = _tables()
    nr = rk.shape[0] - 1
    st = blocks ^ rk[0]
    for rnd in range(1, nr):
        st = sbox[st][:, shift]
        st = _mix_columns(st, inv=False) ^ rk[rnd]
    return sbox[st][:, shift] ^ rk[nr]


def _decrypt_blocks(blocks: np.ndarray, rk: np.ndarray) -> np.ndarray:
    _sbox, inv_sbox, _mul, _shift, inv_shift = _tables()
    nr = rk.shape[0] - 1
    st = blocks ^ rk[nr]
    for rnd in range(nr - 1, 0, -1):
        st = inv_sbox[st[:, inv_shift]] ^ rk[rnd]
        st = _mix_columns(st, inv=True)
    return inv_sbox[st[:, inv_shift]] ^ rk[0]


def aes128_encrypt_block(key: bytes, block: bytes) -> bytes:
    return _ecb_encrypt(key, block)


def aes128_decrypt_block(key: bytes, block: bytes) -> bytes:
    return _ecb_decrypt(key, block)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """§7.6.2 producer side: pad (PKCS#5), CBC-encrypt, prefix IV.
    Sequential across blocks by construction — T-table scalar core
    (same cross-checked engine as the KDF)."""
    padlen = 16 - (len(data) % 16)
    data = data + bytes([padlen]) * padlen
    return iv + _cbc_encrypt_nopad(key, iv, data)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """§7.6.2 consumer side: first 16 bytes are the IV; all blocks
    decrypt in ONE vectorized pass (CBC decryption parallelizes:
    P_i = D(C_i) xor C_{i-1}), then strip the padding byte count."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("bad AES-CBC payload")
    raw = _cbc_decrypt_nopad(key, data[:16], data[16:])
    padlen = raw[-1]
    if not 1 <= padlen <= 16:
        raise ValueError("bad AES padding")
    return raw[:-padlen]


def _build_ttables():
    """Pure-Python T-table AES encryption (the classic 4-lookup-per-
    column software formulation). CBC *encryption* is sequential
    across blocks, so the vectorized numpy engine pays its full
    call overhead per 16-byte block (~0.5 ms); the §7.6.4 KDF runs
    thousands of chained blocks per password hash — by design — and
    needs a fast scalar block. Tables derive from the same computed
    S-box; equality with the numpy engine is pinned by the FIPS-197
    vectors plus a randomized cross-check in tests."""
    sbox = [int(b) for b in _tables()[0]]

    def x2(v):
        return ((v << 1) ^ 0x1B) & 0xFF if v & 0x80 else v << 1

    t0 = []
    for x in range(256):
        s = sbox[x]
        s2 = x2(s)
        t0.append((s2 << 24) | (s << 16) | (s << 8) | (s2 ^ s))
    ror8 = lambda v: ((v >> 8) | (v << 24)) & 0xFFFFFFFF  # noqa: E731
    t1 = [ror8(v) for v in t0]
    t2 = [ror8(v) for v in t1]
    t3 = [ror8(v) for v in t2]
    return sbox, t0, t1, t2, t3


_PY_TABLES = None


def _rk_words(key: bytes) -> list[int]:
    flat = _expand_key(key).tobytes()
    return [
        int.from_bytes(flat[i : i + 4], "big")
        for i in range(0, len(flat), 4)
    ]


def _encrypt_block_py(rk: list[int], s0: int, s1: int, s2: int,
                      s3: int) -> tuple[int, int, int, int]:
    """One AES block on four big-endian u32 column words."""
    global _PY_TABLES
    if _PY_TABLES is None:
        _PY_TABLES = _build_ttables()
    sbox, t0, t1, t2, t3 = _PY_TABLES
    nr = len(rk) // 4 - 1
    s0 ^= rk[0]
    s1 ^= rk[1]
    s2 ^= rk[2]
    s3 ^= rk[3]
    k = 4
    for _ in range(nr - 1):
        e0 = (t0[s0 >> 24] ^ t1[(s1 >> 16) & 0xFF]
              ^ t2[(s2 >> 8) & 0xFF] ^ t3[s3 & 0xFF] ^ rk[k])
        e1 = (t0[s1 >> 24] ^ t1[(s2 >> 16) & 0xFF]
              ^ t2[(s3 >> 8) & 0xFF] ^ t3[s0 & 0xFF] ^ rk[k + 1])
        e2 = (t0[s2 >> 24] ^ t1[(s3 >> 16) & 0xFF]
              ^ t2[(s0 >> 8) & 0xFF] ^ t3[s1 & 0xFF] ^ rk[k + 2])
        e3 = (t0[s3 >> 24] ^ t1[(s0 >> 16) & 0xFF]
              ^ t2[(s1 >> 8) & 0xFF] ^ t3[s2 & 0xFF] ^ rk[k + 3])
        s0, s1, s2, s3 = e0, e1, e2, e3
        k += 4
    e0 = ((sbox[s0 >> 24] << 24) | (sbox[(s1 >> 16) & 0xFF] << 16)
          | (sbox[(s2 >> 8) & 0xFF] << 8) | sbox[s3 & 0xFF]) ^ rk[k]
    e1 = ((sbox[s1 >> 24] << 24) | (sbox[(s2 >> 16) & 0xFF] << 16)
          | (sbox[(s3 >> 8) & 0xFF] << 8) | sbox[s0 & 0xFF]) ^ rk[k + 1]
    e2 = ((sbox[s2 >> 24] << 24) | (sbox[(s3 >> 16) & 0xFF] << 16)
          | (sbox[(s0 >> 8) & 0xFF] << 8) | sbox[s1 & 0xFF]) ^ rk[k + 2]
    e3 = ((sbox[s3 >> 24] << 24) | (sbox[(s0 >> 16) & 0xFF] << 16)
          | (sbox[(s1 >> 8) & 0xFF] << 8) | sbox[s2 & 0xFF]) ^ rk[k + 3]
    return e0, e1, e2, e3


def _cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC (no padding, no IV prefix) — the §7.6.4 KDF and /UE
    wrapping operate on exact multiples of 16. T-table scalar core:
    chaining makes encryption inherently sequential."""
    rk = _rk_words(key)
    w = struct.unpack(">4I", iv)
    out = bytearray()
    for i in range(0, len(data), 16):
        b = struct.unpack_from(">4I", data, i)
        w = _encrypt_block_py(
            rk, w[0] ^ b[0], w[1] ^ b[1], w[2] ^ b[2], w[3] ^ b[3]
        )
        out += struct.pack(">4I", *w)
    return bytes(out)


def _cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    import numpy as np

    buf = np.frombuffer(iv + data, dtype=np.uint8).reshape(-1, 16)
    pt = _decrypt_blocks(buf[1:], _expand_key(key)) ^ buf[:-1]
    return pt.tobytes()


def _ecb_encrypt(key: bytes, data: bytes) -> bytes:
    import numpy as np

    b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    return _encrypt_blocks(b, _expand_key(key)).tobytes()


def _ecb_decrypt(key: bytes, data: bytes) -> bytes:
    import numpy as np

    b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    return _decrypt_blocks(b, _expand_key(key)).tobytes()


# ---------------------------------------------------------------------------
# §7.6.3 standard security handler key algorithms
# ---------------------------------------------------------------------------


def _pad_pw(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def file_key(
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    nbits: int,
    encrypt_metadata: bool = True,
    password: bytes = b"",
) -> bytes:
    """Algorithm 2: the file encryption key."""
    h = hashlib.md5(_pad_pw(password))
    h.update(o[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    n = 5 if r == 2 else max(5, min(16, nbits // 8))
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, nbits: int) -> bytes:
    """Algorithm 3: the /O entry (producer side, fixtures)."""
    key = hashlib.md5(_pad_pw(owner_pw or user_pw)).digest()
    n = 5 if r == 2 else max(5, min(16, nbits // 8))
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = rc4(key, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R2) / 5 (R3+): the /U entry (producer side)."""
    if r == 2:
        return rc4(key, PAD)
    h = hashlib.md5(PAD + id0).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def check_user_password(key: bytes, u: bytes, id0: bytes, r: int) -> bool:
    """Algorithms 6/4/5 verification half: does `key` (derived from
    the candidate password) reproduce /U?"""
    expect = compute_u(key, id0, r)
    if r == 2:
        return expect == u[:32]
    return expect[:16] == u[:16]


def obj_key(fkey: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object key."""
    h = hashlib.md5(
        fkey + struct.pack("<i", num)[:3] + struct.pack("<i", gen)[:2]
        + (b"sAlT" if aes else b"")
    )
    return h.digest()[: min(len(fkey) + 5, 16)]


# ---------------------------------------------------------------------------
# §7.6.4 AES-256 revisions (PDF 2.0 R6; the deprecated Adobe R5)
# ---------------------------------------------------------------------------


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"",
            r: int = 6) -> bytes:
    """ISO 32000-2 Algorithm 2.B: the password-to-key hash for the
    AES-256 revisions. R5 (Adobe ExtensionLevel 3, deprecated) is a
    single SHA-256; R6 iterates SHA-256/384/512 interleaved with
    AES-128-CBC, at least 64 rounds, until the last ciphertext byte
    is <= rounds - 32. `udata` is the 48-byte /U string when hashing
    owner-password material, else empty."""
    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _cbc_encrypt_nopad(k[:16], k[16:32], k1)
        # big-endian value of e[:16] mod 3 == byte-sum mod 3
        # (256 ≡ 1 mod 3)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def check_user_password_v5(u: bytes, password: bytes = b"",
                           r: int = 6) -> bool:
    """§7.6.4.4.10 (Algorithm 11): /U is hash(32) + validation
    salt(8) + key salt(8)."""
    if len(u) < 48:
        return False
    return hash_2b(password, u[32:40], b"", r) == u[:32]


def file_key_v5(u: bytes, ue: bytes, password: bytes = b"",
                r: int = 6) -> bytes:
    """§7.6.4.3.3 step f: the 32-byte file key, unwrapped from /UE
    with AES-256-CBC (zero IV, no padding) under the intermediate
    key-salt hash."""
    ik = hash_2b(password, u[40:48], b"", r)
    return _cbc_decrypt_nopad(ik, b"\x00" * 16, ue[:32])


def check_perms_v5(perms: bytes, fkey: bytes, p: int) -> bool:
    """§7.6.4.4.12 (Algorithm 13): /Perms decrypts (AES-256-ECB)
    to P(LE int32) + 0xFF*4 + T/F + 'adb' + 4 arbitrary bytes."""
    if len(perms) < 16:
        return False
    d = _ecb_decrypt(fkey, perms[:16])
    return d[9:12] == b"adb" and struct.unpack("<i", d[:4])[0] == p


def compute_u_v5(
    fkey: bytes, password: bytes = b"", r: int = 6,
    vsalt: bytes = b"\x01" * 8, ksalt: bytes = b"\x02" * 8,
) -> tuple[bytes, bytes]:
    """Producer side (fixtures): (/U 48 bytes, /UE 32 bytes)."""
    u = hash_2b(password, vsalt, b"", r) + vsalt + ksalt
    ik = hash_2b(password, ksalt, b"", r)
    ue = _cbc_encrypt_nopad(ik, b"\x00" * 16, fkey)
    return u, ue


def compute_o_v5(
    fkey: bytes, u: bytes, owner_pw: bytes, r: int = 6,
    vsalt: bytes = b"\x03" * 8, ksalt: bytes = b"\x04" * 8,
) -> tuple[bytes, bytes]:
    """Producer side (fixtures): (/O 48 bytes, /OE 32 bytes) —
    same shape as /U but the hashes also absorb the 48-byte /U."""
    o = hash_2b(owner_pw, vsalt, u[:48], r) + vsalt + ksalt
    ik = hash_2b(owner_pw, ksalt, u[:48], r)
    oe = _cbc_encrypt_nopad(ik, b"\x00" * 16, fkey)
    return o, oe


def compute_perms_v5(fkey: bytes, p: int,
                     encrypt_metadata: bool = True) -> bytes:
    raw = (
        struct.pack("<i", p) + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F") + b"adb" + b"slow"
    )
    return _ecb_encrypt(fkey, raw)


class StdCrypt:
    """Resolved decryption context for one file: the verified file
    key plus cipher choice; `dec` is what pdf_io calls per object.
    `direct=True` is the V5/AES-256 regime — strings and streams
    encrypt under the FILE key itself (§7.6.4 has no per-object key
    derivation)."""

    __slots__ = ("key", "aes", "exempt", "direct")

    def __init__(self, key: bytes, aes: bool, exempt: frozenset[int],
                 direct: bool = False):
        self.key = key
        self.aes = aes
        self.exempt = exempt
        self.direct = direct

    def dec(self, data: bytes, num: int, gen: int = 0) -> bytes:
        k = (self.key if self.direct
             else obj_key(self.key, num, gen, self.aes))
        if self.aes:
            return aes_cbc_decrypt(k, data)
        return rc4(k, data)

    def enc(self, data: bytes, num: int, gen: int = 0,
            iv: bytes | None = None) -> bytes:
        k = (self.key if self.direct
             else obj_key(self.key, num, gen, self.aes))
        if self.aes:
            if iv is None:
                # deterministic per-object IV (fixtures only — a real
                # producer must use a random IV)
                iv = hashlib.md5(b"iv%d" % num + k).digest() if (
                    self.direct) else hashlib.md5(b"iv" + k).digest()
            return aes_cbc_encrypt(k, iv, data)
        return rc4(k, data)
