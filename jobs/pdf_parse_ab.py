"""Differential and timing A/B of the PDF parser against another checkout.

This checkout's `pdf_io` and the one under `--root` are loaded into
one process (the other under a separate package name), then:

1. **Differential.** Both sides run on the same inputs and their
   outputs are compared:
   - payloads: `render_pdf` of seeded `synth` documents, their
     `encrypt_pdf` rc4 and aes renders, `render_media_pdf` documents,
     the first half of each, and `--flips` single-bit flips of each,
     through `parse_pdf` and `_pdf_media_inner`;
   - random object strings through `_parse_obj` (value and end
     offset, or that it raised);
   - random content streams through `_interp_page` (spans and image
     uses, or that it raised).

   A difference that vanishes when this side's nesting cap is lifted
   counts as `nesting`; one that vanishes when this side's content
   tokenizer loses its `%`-comment rule counts as `comments`. Each
   random content stream is also generated without its comments: the
   two sides must agree on that form, and this side on the commented
   form must give what the other gives on the comment-free one. Every
   other difference counts as `unexplained`, and the first few are
   printed to stderr.
2. **Timing.** `parse_pdf` over the PDFs of `synth` documents 0, 3,
   ..., 2997 of `--seed`, sides interleaved (which side runs first alternates),
   `--reps` times; reports ms/doc medians, the paired median change
   and how many reps this side won.

    python jobs/pdf_parse_ab.py --root ../parent-checkout
    python jobs/pdf_parse_ab.py --root ../parent-checkout --no-timing

Output is one JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib
import importlib.util
import json
import random
import re
import statistics
import sys
import time
from pathlib import Path

PKG = "two_tier_document_parser_spark"
HERE = Path(__file__).resolve().parents[1]
TIMING_DOCS = range(0, 3000, 3)


OTHER = "ttdp_ab_other"


def _load_other(root: Path, module: str):
    """Module `module` of the checkout at `root`, imported from a
    package named `ttdp_ab_other` so it sits beside this one."""
    if OTHER not in sys.modules:
        pkg_dir = root / PKG
        spec = importlib.util.spec_from_file_location(
            OTHER, pkg_dir / "__init__.py",
            submodule_search_locations=[str(pkg_dir)])
        mod = importlib.util.module_from_spec(spec)
        sys.modules[OTHER] = mod
        spec.loader.exec_module(mod)
    return importlib.import_module(f"{OTHER}.{module}")


def _canon(v) -> tuple:
    """A parsed PDF value as a flat tuple of type-tagged tokens in
    prefix order (Ref compares by identity, 1 == 1.0 == True in
    Python, and values nest deeper than the recursion limit)."""
    out, todo = [], [v]
    while todo:
        x = todo.pop()
        if isinstance(x, dict):
            out.append(("D", len(x)))
            for k, y in reversed(x.items()):
                todo += (y, k)
        elif isinstance(x, list):
            out.append(("A", len(x)))
            todo.extend(reversed(x))
        elif type(x).__name__ == "Ref":
            out.append(("R", x.num))
        elif hasattr(x, "raw"):
            out.append(("S", str(x), x.raw))
        else:
            out.append((type(x).__name__, x))
    return tuple(out)


def _outcome(fn, *args):
    try:
        return ("ok", fn(*args))
    except Exception:
        return ("raised",)


# --- generators -------------------------------------------------------------

_NAMES = ["Type", "Page", "A", "B", "Length", "F1", "Im0", "Cell", "Link",
          "URI", "Box", "Spec", "De#20vice", ""]
_JUNK = [b"<<", b">>", b"[", b"]", b"(", b")", b"<", b">", b"/", b"%",
         b"R", b"0 R", b"{", b"}", b"\n", b"\r", b" ", b"\x00", b"x"]
# junk spliced into content streams goes only into streams without
# comments and only into pieces without a `%`: a stray `)` could
# otherwise end a string early and turn a `%` in it into a comment
_CONTENT_JUNK = [j for j in _JUNK if j != b"%"]


def _rand_literal(rng: random.Random) -> bytes:
    parts = [b"("]
    for _ in range(rng.randint(0, 5)):
        parts.append(rng.choice([
            b"abc", b"a%b", b"\\)", b"\\(", b"\\n", b"\\053", b"\\\n",
            b"(in)", b"((x)y)", b" EI ", b"<41>", b"/N", b"1 2 Td", b"\\\\",
        ]))
    parts.append(b")")
    return b"".join(parts)


def _rand_scalar(rng: random.Random) -> bytes:
    k = rng.randrange(12)
    if k == 0:
        return b"/" + rng.choice(_NAMES).encode()
    if k == 1:
        return b"%d 0 R" % rng.randint(0, 40)
    if k == 2:
        return b"%d" % rng.randint(-999, 999)
    if k == 3:
        return rng.choice([b"1.5", b"-.5", b"4.", b".25", b"+3", b"-0.0"])
    if k == 4:
        return b"<" + bytes(rng.choice(b"0123456789abcdefABCDEF \n")
                            for _ in range(rng.randint(0, 9))) + b">"
    if k == 5:
        return _rand_literal(rng)
    if k == 6:
        return rng.choice([b"true", b"false", b"null", b"nullx", b"truex"])
    if k == 7:
        return rng.choice([b"1 0 Rx", b"1 0 R", b"12 7 R", b"3 0"])
    if k == 8:
        return b"%" + rng.choice([b"c", b" >>", b" ]", b"x >> /C"]) + \
            rng.choice([b"\n", b"\r", b"\r\n"])
    return b"/" + rng.choice(_NAMES).encode()


def _rand_obj(rng: random.Random, depth: int = 0) -> bytes:
    if depth < 4 and rng.random() < 0.35:
        if rng.random() < 0.5:
            items = [_rand_obj(rng, depth + 1)
                     for _ in range(rng.randint(0, 4))]
            return b"[" + b" ".join(items) + b"]"
        items = []
        for _ in range(rng.randint(0, 4)):
            items.append(b"/" + rng.choice(_NAMES).encode())
            items.append(_rand_obj(rng, depth + 1))
        return b"<<" + b" ".join(items) + b">>"
    return _rand_scalar(rng)


def _rand_obj_string(rng: random.Random) -> bytes:
    s = _rand_obj(rng)
    r = rng.random()
    if r < 0.25:  # splice junk in
        for _ in range(rng.randint(1, 3)):
            i = rng.randint(0, len(s))
            s = s[:i] + rng.choice(_JUNK) + s[i:]
    elif r < 0.4 and s:  # truncate
        s = s[: rng.randint(0, len(s))]
    elif r < 0.45:  # deep nesting, around the cap
        d = rng.choice([100, 511, 512, 513, 600, 900, 5000])
        o, c = rng.choice([(b"[", b"]"), (b"<< /K ", b" >>")])
        s = o * d + s + c * d
    ws = rng.choice([b"", b" ", b"\n", b"% lead\n", b"%c\n "])
    tail = rng.choice([b"", b" ", b"\n", b" endobj", b"R", b">>"])
    return ws + s + tail


_OPS = [b"Tj", b"TJ", b"Tf", b"Td", b"TD", b"Tm", b"BT", b"ET", b"q", b"Q",
        b"'", b'"', b"T*", b"BMC", b"BDC", b"EMC", b"Do", b"cm", b"re", b"f",
        b"ID", b"EI", b">>", b"]"]


def _rand_operand(rng: random.Random) -> bytes:
    k = rng.randrange(8)
    if k == 0:
        return b"%d" % rng.randint(-50, 800)
    if k == 1:
        return rng.choice([b"1.5", b"-.5", b"4.", b"12", b"18"])
    if k == 2:
        return b"<" + bytes(rng.choice(b"0123456789abcdefABCDEF \n")
                            for _ in range(rng.randint(0, 12))) + b">"
    if k == 3:
        return b"<feff0041>" if rng.random() < 0.5 else b"<48656c6c6f>"
    if k == 4:
        return _rand_literal(rng)
    if k == 5:
        return b"/" + rng.choice(_NAMES).encode()
    if k == 6:
        return b"[" + b" ".join(_rand_operand(rng)
                                for _ in range(rng.randint(0, 3))) + b"]"
    return b"<< /URI <41> /Spec (s) /K [1 2] >>"


def _rand_content(rng: random.Random) -> tuple[bytes, bytes]:
    """(stream with % comments, the same stream without them)."""
    with_c: list[bytes] = []
    no_c: list[bytes] = []
    comments = rng.random() < 0.5
    for _ in range(rng.randint(1, 14)):
        if comments and rng.random() < 0.3:
            c = b"%" + rng.choice([b" (ghost) Tj", b"", b" BT", b"x"]) + \
                rng.choice([b"\n", b"\r"])
            with_c.append(c)
            no_c.append(b" ")
        if rng.random() < 0.05:
            inl = (b"BI /W 2 /H 1 /BPC 8 /CS /G ID "
                   + rng.choice([b"ab", b"EI", b"()", b"\x00\xff"])
                   + b" EI")
            with_c.append(inl)
            no_c.append(inl)
            continue
        toks = [_rand_operand(rng) for _ in range(rng.randint(0, 6))]
        toks.append(rng.choice(_OPS))
        piece = b" ".join(toks)
        if not comments and b"%" not in piece and rng.random() < 0.1:
            i = rng.randint(0, len(piece))
            piece = piece[:i] + rng.choice(_CONTENT_JUNK) + piece[i:]
        with_c.append(piece)
        no_c.append(piece)
    sep = rng.choice([b" ", b"\n", b"\r\n"])
    return sep.join(with_c), sep.join(no_c)


# --- differential -----------------------------------------------------------

class _Tally:
    def __init__(self) -> None:
        self.counts: dict[str, dict[str, int]] = {}
        self.samples = 0

    def add(self, section: str, cls: str, sample=None) -> None:
        sec = self.counts.setdefault(
            section, {"inputs": 0, "same": 0, "nesting": 0, "comments": 0,
                      "unexplained": 0})
        sec["inputs"] += 1
        sec[cls] += 1
        if cls == "unexplained" and self.samples < 10:
            self.samples += 1
            print(f"unexplained difference in {section}: {sample!r}"[:600],
                  file=sys.stderr)


@contextlib.contextmanager
def _without(mod, change: str):
    """`mod` with one documented behaviour change turned off."""
    if change == "nesting":
        name, value = "_MAX_NESTING", 1 << 30
    else:
        name = "_CS_TOKEN"
        pattern = mod._CS_TOKEN.pattern.replace(rb"|%[^\r\n]*+", b"")
        if pattern == mod._CS_TOKEN.pattern:
            raise ValueError("this side's tokenizer has no comment rule")
        value = re.compile(pattern)
    saved = getattr(mod, name)
    setattr(mod, name, value)
    try:
        yield
    finally:
        setattr(mod, name, saved)


def _classify(this, run, want) -> str:
    """Which documented change explains this side's output differing
    from `want`, the other side's: the first whose removal makes the
    outputs agree."""
    for change in ("nesting", "comments"):
        with _without(this, change):
            if run(this) == want:
                return change
    return "unexplained"


def _payloads(this, seed: int, docs: int, flips: int):
    from two_tier_document_parser_spark import synth

    rng = random.Random(seed)
    base = []
    for doc in synth.synth_docs(0, docs, seed):
        pdf = this.render_pdf(doc)
        base += [pdf, this.encrypt_pdf(pdf, "rc4"), this.encrypt_pdf(pdf, "aes")]
    base += [this.render_media_pdf(i) for i in range(docs)]
    for p in base:
        yield p
        yield p[: len(p) // 2]
        for _ in range(flips):
            b = bytearray(p)
            bit = rng.randrange(8 * len(b))
            b[bit >> 3] ^= 1 << (bit & 7)
            yield bytes(b)


def _diff_payloads(this, other, tally, seed, docs, flips) -> None:
    def run(mod, p):
        return (mod.parse_pdf(p), _outcome(mod._pdf_media_inner, p))

    for p in _payloads(this, seed, docs, flips):
        b = run(other, p)
        cls = "same" if run(this, p) == b else _classify(
            this, lambda mod: run(mod, p), b)
        tally.add("payloads", cls, p[:200])


def _diff_objects(this, other, tally, seed, n) -> None:
    def run(mod, s):
        try:
            v, end = mod._parse_obj(s, 0)
        except Exception:
            return ("raised",)
        return (_canon(v), end)

    rng = random.Random(seed + 1)
    for _ in range(n):
        s = _rand_obj_string(rng)
        a, b = run(this, s), run(other, s)
        cls = "same" if a == b else _classify(
            this, lambda mod: run(mod, s), b)
        tally.add("objects", cls, (s[:200], a, b))


def _diff_content(this, other, tally, seed, n) -> None:
    def run(mod, c):
        xobjects = {"Im0": {"Subtype": "Image", "TTDPRef": "r"},
                    "Fm0": {"Subtype": "Form"}}
        spans, uses = [], []
        try:
            mod._interp_page(c, xobjects, spans, {"F1": None},
                             image_uses=uses)
        except Exception:
            return ("raised", spans, uses)
        return ("ok", spans, uses)

    rng = random.Random(seed + 2)
    for _ in range(n):
        with_c, no_c = _rand_content(rng)
        plain_new, plain_old = run(this, no_c), run(other, no_c)
        if plain_new != plain_old:
            tally.add("content", "unexplained", (no_c, plain_new, plain_old))
            continue
        new, old = run(this, with_c), run(other, with_c)
        if new == old:
            tally.add("content", "same")
        elif new == plain_old:
            tally.add("content", "comments")
        else:
            tally.add("content", "unexplained", (with_c, new, plain_old))


# --- timing -----------------------------------------------------------------

def _timing(this, other, seed: int, reps: int) -> dict:
    from two_tier_document_parser_spark import synth

    docs = synth.synth_docs(0, TIMING_DOCS.stop, seed)
    pdfs = [this.render_pdf(docs[i]) for i in TIMING_DOCS]

    def once(mod) -> float:
        parse = mod.parse_pdf
        gc.collect()
        t0 = time.perf_counter()
        for p in pdfs:
            parse(p)
        return (time.perf_counter() - t0) / len(pdfs) * 1e3

    this_ms, other_ms = [], []
    for rep in range(reps):
        if rep % 2:
            other_ms.append(once(other))
            this_ms.append(once(this))
        else:
            this_ms.append(once(this))
            other_ms.append(once(other))
    change = [t / o - 1 for t, o in zip(this_ms, other_ms)]
    return {
        "docs": len(pdfs),
        "reps": reps,
        "this_ms_per_doc": [round(x, 3) for x in this_ms],
        "other_ms_per_doc": [round(x, 3) for x in other_ms],
        "this_median": round(statistics.median(this_ms), 3),
        "other_median": round(statistics.median(other_ms), 3),
        "paired_median_change": round(statistics.median(change), 4),
        "this_wins": sum(t < o for t, o in zip(this_ms, other_ms)),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", required=True,
                    help="the other checkout, e.g. the parent commit")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--docs", type=int, default=120,
                    help="synth documents per payload family")
    ap.add_argument("--flips", type=int, default=24,
                    help="single-bit flips per base payload")
    ap.add_argument("--objects", type=int, default=200_000)
    ap.add_argument("--contents", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--no-timing", action="store_true")
    ap.add_argument("--no-diff", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, str(HERE))
    this = importlib.import_module(f"{PKG}.pdf_io")
    other = _load_other(Path(args.root).resolve(), "pdf_io")
    out: dict = {"seed": args.seed}
    if not args.no_diff:
        tally = _Tally()
        _diff_payloads(this, other, tally, args.seed, args.docs, args.flips)
        _diff_objects(this, other, tally, args.seed, args.objects)
        _diff_content(this, other, tally, args.seed, args.contents)
        out["differential"] = tally.counts
    if not args.no_timing:
        out["timing"] = _timing(this, other, args.seed, args.reps)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
