"""Deterministic synthetic corpus of interleaved text+media documents.

Every document is a pure function of (seed, doc_idx) via its own
PCG64 stream — no RNG state crosses documents, so generation is
embarrassingly parallel and identical whether produced on the driver
(`synth_docs`) or distributed (`synth_spark` via mapInPandas over
`spark.range`), at any partitioning (FIXTURES.md §1 requirements).

Corpus shape (exercises every extraction path):
- "html" docs: nav/footer chrome (link_text runs, no-stopword
  boilerplate), headings, stopword-bearing paragraphs, lists,
  link-dense "related" blocks, short captions, rare inline media, and
  a deterministic poison marker (empty table_cell) that triggers the
  tier-1 per-page fallback (reference fast/service.py:45-73);
- "pdfish" docs: box-delimited regions (text/table/figure/formula)
  emitted in shuffled stream order so XY-cut must restore geometric
  reading order; tables with cells/rows, cell-less fallback tables,
  empty tables, figures with captions, empty formulas (drop rule);
- Zipf-ish sizes plus ~0.5% giant docs (hundreds of pages) to drive
  the skew/salting machinery (SURVEY §4.3.1).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from .spec import CHROME_WORDS, CONTENT_WORDS, LANGS, STOPWORDS

PAGE_H = 1400
GIANT_MOD, GIANT_RESIDUE = 211, 7
GIANT_PAGES = 200


def _rng(seed: int, doc_idx: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64((seed * 1_000_003 + doc_idx) & 0x7FFFFFFFFFFFFFFF))


def _words(rng: np.random.Generator, lang: str, n: int, stop_p: float = 0.35) -> str:
    content = CONTENT_WORDS[lang]
    stops = STOPWORDS[lang]
    out = []
    for _ in range(n):
        if rng.random() < stop_p:
            out.append(stops[int(rng.integers(0, len(stops)))])
        else:
            out.append(content[int(rng.integers(0, len(content)))])
    return " ".join(out)


def _chrome(rng: np.random.Generator, n: int) -> str:
    return " ".join(
        CHROME_WORDS[int(rng.integers(0, len(CHROME_WORDS)))] for _ in range(n)
    )


def _latex(rng: np.random.Generator) -> str:
    a, b, c = (int(rng.integers(0, 100)) for _ in range(3))
    return f"x_{{{a}}} = \\sum_{{i=0}}^{{{b}}} i^{{{c}}}"


def _html_page(rng: np.random.Generator, lang: str, poison: bool) -> list[tuple[str, str, str]]:
    spans: list[tuple[str, str, str]] = []
    for _ in range(int(rng.integers(2, 6))):  # nav chrome
        spans.append(("link_text", _words(rng, lang, int(rng.integers(2, 5)), 0.0), ""))
    spans.append(("heading", _words(rng, lang, int(rng.integers(2, 6)), 0.1), ""))
    for _ in range(int(rng.integers(2, 7))):
        r = rng.random()
        if r < 0.50:  # paragraph, possibly with an inline link
            for _ in range(int(rng.integers(1, 4))):
                spans.append(("text", _words(rng, lang, int(rng.integers(10, 28))), ""))
            if rng.random() < 0.3:
                spans.append(("link_text", _words(rng, lang, int(rng.integers(1, 3)), 0.0), ""))
        elif r < 0.65:  # list
            for _ in range(int(rng.integers(2, 6))):
                spans.append(("list_item", _words(rng, lang, int(rng.integers(3, 8))), ""))
        elif r < 0.75:
            spans.append(("heading", _words(rng, lang, int(rng.integers(2, 5)), 0.1), ""))
        elif r < 0.85:  # "related links" chrome: heading + link run
            spans.append(("heading", _words(rng, lang, 2, 0.0), ""))
            for _ in range(int(rng.integers(3, 7))):
                spans.append(("link_text", _words(rng, lang, int(rng.integers(2, 5)), 0.0), ""))
        elif r < 0.93:  # short caption (exercises SHORT-inherit rule)
            spans.append(("text", _words(rng, lang, int(rng.integers(1, 3)), 0.0), ""))
        else:  # rare inline media in html docs
            if rng.random() < 0.5:
                spans.append(("image", "", f"asset_{int(rng.integers(0, 10**6))}"))
            else:
                spans.append(("formula", _latex(rng), ""))
    if poison:
        pos = int(rng.integers(1, len(spans)))
        spans.insert(pos, ("table_cell", "", ""))
    spans.append(("boilerplate", _chrome(rng, int(rng.integers(5, 10))), ""))
    return spans


def _region_content(
    rng: np.random.Generator, lang: str, region_kind: str
) -> list[tuple[str, str, str]]:
    out: list[tuple[str, str, str]] = []
    if region_kind == "text":
        if rng.random() < 0.3:
            out.append(("heading", _words(rng, lang, int(rng.integers(2, 6)), 0.1), ""))
        for _ in range(int(rng.integers(1, 4))):
            out.append(("text", _words(rng, lang, int(rng.integers(8, 22))), ""))
        if rng.random() < 0.15:
            for _ in range(int(rng.integers(2, 5))):
                out.append(("list_item", _words(rng, lang, int(rng.integers(3, 7))), ""))
        if rng.random() < 0.08:
            out.append(("image", "", f"asset_{int(rng.integers(0, 10**6))}"))
        if rng.random() < 0.08:
            out.append(("formula", _latex(rng), ""))
    elif region_kind == "table":
        r = rng.random()
        if r < 0.05:  # empty table region -> nothing emitted downstream
            pass
        elif r < 0.17:  # cell-less region -> raw-text fallback path
            out.append(("text", _words(rng, lang, int(rng.integers(6, 15))), ""))
        else:
            n_rows, n_cols = int(rng.integers(2, 6)), int(rng.integers(2, 5))
            for _ in range(n_rows):
                for _ in range(n_cols):
                    out.append(("table_cell", _words(rng, lang, int(rng.integers(1, 3)), 0.0), ""))
                out.append(("table_row_end", "", ""))
    elif region_kind == "figure":
        out.append(("image", "", f"asset_{int(rng.integers(0, 10**6))}"))
        if rng.random() < 0.5:
            out.append(("text", _words(rng, lang, int(rng.integers(2, 7))), ""))
    else:  # formula region
        if rng.random() < 0.10:
            out.append(("formula", "", ""))  # empty -> drop rule exercised
        else:
            out.append(("formula", _latex(rng), ""))
    return out


def _pdfish_page(rng: np.random.Generator, lang: str) -> list[tuple[str, str, str]]:
    # build regions with geometry, then emit them in shuffled order
    regions: list[tuple[tuple[int, int, int, int], str]] = []
    two_col = rng.random() < 0.5
    y = 40
    if two_col and rng.random() < 0.6:  # full-width header
        regions.append(((60, y, 940, y + 100), "text"))
        y += 120
    if two_col:
        for x0, x1 in ((60, 480), (520, 940)):
            cy = y
            for _ in range(int(rng.integers(2, 5))):
                h = int(rng.integers(80, 300))
                if cy + h > PAGE_H - 40:
                    break
                kind = ["text", "text", "text", "table", "figure", "formula"][
                    int(rng.integers(0, 6))
                ]
                regions.append(((x0, cy, x1, cy + h), kind))
                cy += h + int(rng.integers(15, 40))
    else:
        for _ in range(int(rng.integers(3, 8))):
            h = int(rng.integers(80, 300))
            if y + h > PAGE_H - 40:
                break
            kind = ["text", "text", "text", "table", "figure", "formula"][
                int(rng.integers(0, 6))
            ]
            regions.append(((60, y, 940, y + h), kind))
            y += h + int(rng.integers(15, 40))
    if not regions:
        regions.append(((60, 40, 940, 400), "text"))

    contents = [_region_content(rng, lang, rk) for _, rk in regions]
    spans: list[tuple[str, str, str]] = []
    for i in rng.permutation(len(regions)):
        (x0, y0, x1, y1), rk = regions[i]
        spans.append(("box", f"{x0},{y0},{x1},{y1},{rk}", ""))
        spans.extend(contents[i])
    return spans


def make_doc(doc_idx: int, seed: int = 42) -> dict:
    rng = _rng(seed, doc_idx)
    lang = LANGS[int(rng.choice(len(LANGS), p=[0.55, 0.12, 0.12, 0.11, 0.10]))]
    is_html = rng.random() < 0.6
    giant = doc_idx % GIANT_MOD == GIANT_RESIDUE
    if giant:
        n_pages = GIANT_PAGES
    elif is_html:
        n_pages = min(int(rng.geometric(0.55)), 5)
    else:
        n_pages = min(int(rng.geometric(0.30)), 12)

    poison_doc = is_html and rng.random() < 0.10
    spans: list[tuple[str, str, str]] = []
    for p in range(n_pages):
        if p:
            spans.append(("page_break", "", ""))
        if is_html:
            poison_page = poison_doc and rng.random() < 0.35
            spans.extend(_html_page(rng, lang, poison_page))
        else:
            spans.extend(_pdfish_page(rng, lang))

    return {
        "doc_id": f"d{doc_idx:09d}",
        "doc_class": "html" if is_html else "pdfish",
        "n_pages": n_pages,
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)
        ],
    }


def synth_docs(start: int, n: int, seed: int = 42) -> list[dict]:
    return [make_doc(i, seed) for i in range(start, start + n)]


def synth_spark(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed generation: one row per doc id from spark.range, the
    heavy span payloads materialized executor-side in Arrow batches —
    at 10^12 scale the driver never holds the corpus."""
    from .schemas import spark_schema

    parts = partitions or max(spark.sparkContext.defaultParallelism, 1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            yield pd.DataFrame(
                [make_doc(int(i), seed) for i in ids],
                columns=["doc_id", "doc_class", "n_pages", "spans"],
            )

    return (
        spark.range(0, n_docs, numPartitions=parts)
        .mapInPandas(gen, schema=spark_schema("documents_raw"))
    )
