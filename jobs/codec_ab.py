"""Differential and timing A/B of the image codecs against another checkout.

This checkout's codec modules and those under `--root` are loaded into
one process (the other under a separate package name, through
`pdf_parse_ab._load_other`), then:

1. **Differential.** Every decoder input of the codec identity corpus
   (`tests/test_codec_identity.py`: GIF, TIFF LZW/PackBits/G4, PDF
   LZWDecode, CCITT G3/G4, JBIG2 MMR, JPEG, WebP) is decoded by both
   sides, whole, cut in half, cut at `--cuts` seeded lengths and with
   `--flips` seeded single-bit flips. Outcomes (the sha256 of the
   decoded array or bytes, None, or the exception class) are compared
   per decoder; the first few differences are printed to stderr.
2. **Timing.** Each decoder decodes its whole corpus inputs in a loop
   sized to about `--target-s` seconds per side, sides interleaved
   (which side runs first alternates), `--reps` times; reports the
   per-decoder median ms per pass, the paired median change and how
   many reps this side won.

    python jobs/codec_ab.py --root ../parent-checkout
    python jobs/codec_ab.py --root ../parent-checkout --no-timing

Output is one JSON line.
"""

from __future__ import annotations

import argparse
import gc
import json
import random
import statistics
import sys
import time
from pathlib import Path

from pdf_parse_ab import OTHER, PKG, _load_other

HERE = Path(__file__).resolve().parents[1]


def _mutations(payload: bytes, rng: random.Random, cuts: int, flips: int):
    yield payload
    yield payload[: len(payload) // 2]
    for _ in range(cuts):
        yield payload[: rng.randrange(len(payload) + 1)]
    for _ in range(flips):
        b = bytearray(payload)
        bit = rng.randrange(8 * len(b))
        b[bit >> 3] ^= 1 << (bit & 7)
        yield bytes(b)


def _differential(ident, this, other, seed: int, cuts: int, flips: int) -> dict:
    rng = random.Random(seed)
    out: dict[str, dict[str, int]] = {}
    shown = 0
    for name, dec, payload, kw in ident.corpus():
        tally = out.setdefault(dec, {"inputs": 0, "same": 0, "different": 0})
        for data in _mutations(payload, rng, cuts, flips):
            a = ident.digest(this[dec], data, kw)
            b = ident.digest(other[dec], data, kw)
            tally["inputs"] += 1
            tally["same" if a == b else "different"] += 1
            if a != b and shown < 10:
                shown += 1
                print(f"difference in {name}: {a} vs {b}", file=sys.stderr)
    return out


def _timing(ident, this, other, reps: int, target_s: float) -> dict:
    work: dict[str, list] = {}
    for _name, dec, payload, kw in ident.corpus():
        work.setdefault(dec, []).append((payload, kw))

    def once(fn, inputs, loops: int) -> float:
        gc.collect()
        t0 = time.perf_counter()
        for _ in range(loops):
            for data, kw in inputs:
                fn(data, **kw)
        return (time.perf_counter() - t0) / loops * 1e3

    out = {}
    for dec, inputs in work.items():
        once(other[dec], inputs, 1)  # warm both sides before timing
        loops = max(1, round(target_s * 1e3 / once(this[dec], inputs, 1)))
        this_ms, other_ms = [], []
        for rep in range(reps):
            sides = [(this, this_ms), (other, other_ms)]
            for side, ms in sides[:: -1 if rep % 2 else 1]:
                ms.append(once(side[dec], inputs, loops))
        change = [t / o - 1 for t, o in zip(this_ms, other_ms)]
        out[dec] = {
            "inputs": len(inputs),
            "loops": loops,
            "this_median_ms": round(statistics.median(this_ms), 3),
            "other_median_ms": round(statistics.median(other_ms), 3),
            "paired_median_change": round(statistics.median(change), 4),
            "this_wins": sum(t < o for t, o in zip(this_ms, other_ms)),
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", required=True,
                    help="the other checkout, e.g. the parent commit")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cuts", type=int, default=8,
                    help="seeded truncations per corpus input")
    ap.add_argument("--flips", type=int, default=40,
                    help="seeded single-bit flips per corpus input")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--target-s", type=float, default=0.2,
                    help="seconds per side per rep for each decoder")
    ap.add_argument("--no-timing", action="store_true")
    ap.add_argument("--no-diff", action="store_true")
    args = ap.parse_args()

    sys.path[:0] = [str(HERE), str(HERE / "tests")]
    import test_codec_identity as ident

    _load_other(Path(args.root).resolve(), "ccitt")
    this, other = ident.decoders(PKG), ident.decoders(OTHER)
    out: dict = {"seed": args.seed}
    if not args.no_diff:
        out["differential"] = _differential(ident, this, other, args.seed,
                                            args.cuts, args.flips)
    if not args.no_timing:
        out["timing"] = _timing(ident, this, other, args.reps, args.target_s)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
