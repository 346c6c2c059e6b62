"""Tier-2 "deep" extractor.

Engine counterpart of oracle/tier2.py — same semantics (reference
accurate/service.py:119-238: page-ordered processing, XY-cut reading
order over layout boxes, per-document first-seen artifact counters,
content-else-fallback tables, empty-formula drop). The core,
`extract_deep(kinds, texts, refs)`, is plain Python over one
document's span lists: per page, the layout boxes split the spans into
regions (~4-8 per page), XY-cut orders them, and a small state machine
per region emits the output spans. `tier2_batches` is its Arrow
adapter (schemas.core_batches: flatten once per batch, build the output
once); the per-request facade calls the core directly. Shares the
pure-integer xycut and markdown renderers with the oracle (exact by
construction, SURVEY §7.7.4).

Map-only stage: no shuffle; batch size bounded upstream. Routing
quarantines a document over spec.T2_MAX_SPANS, so the largest
document one call extracts is bounded.
"""

from __future__ import annotations

from .layout import xycut
from .markdown_ser import join_page, join_pages, render_block, table_markdown
from .schemas import DocOut, core_batches

# kind codes; a kind outside the vocabulary codes as -1
K_TEXT, K_HEAD, K_LIST, K_CELL, K_ROWEND, K_IMG, K_FORM, K_LINK, K_BOIL, K_PB, K_BOX = (
    range(11)
)
_CODE = {
    k: i
    for i, k in enumerate([
        "text", "heading", "list_item", "table_cell", "table_row_end",
        "image", "formula", "link_text", "boilerplate", "page_break", "box",
    ])
}
TEXTY = frozenset((K_TEXT, K_LINK, K_BOIL, K_CELL))


class _DocEmitter(DocOut):
    """A deep-tier row plus the per-document first-seen artifact
    counters that number its media refs."""

    __slots__ = ()

    def image(self, page: int, asset: str) -> None:
        self.emit("image", asset, f"page_{page}_img_{self.n_img}")
        self.n_img += 1

    def formula(self, page: int, latex: str) -> None:
        if latex:
            self.emit("formula", latex, f"page_{page}_formula_{self.n_form}")
            self.n_form += 1

    def table(self, page: int, md: str) -> None:
        if md:
            self.emit("table", md, f"page_{page}_table_{self.n_tab}")
            self.n_tab += 1


def _text_region(
    kc, tx, rf, lo: int, hi: int, page: int, em: _DocEmitter
) -> None:
    pieces: list[str] = []
    for i in range(lo, hi):
        k = kc[i]
        if k in TEXTY:
            if tx[i]:
                pieces.append(tx[i])
        elif k == K_HEAD:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            if tx[i]:
                em.emit("heading", tx[i])
        elif k == K_LIST:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            if tx[i]:
                em.emit("list_item", tx[i])
        elif k == K_IMG:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            em.image(page, rf[i])
        elif k == K_FORM:
            if pieces:
                em.emit("text", " ".join(pieces))
                pieces = []
            em.formula(page, tx[i])
    if pieces:
        em.emit("text", " ".join(pieces))


def _table_region(kc, tx, rf, lo: int, hi: int, page: int, em: _DocEmitter) -> None:
    rows: list[list[str]] = []
    cur: list[str] = []
    fallback: list[str] = []
    extras: list[int] = []
    for i in range(lo, hi):
        k = kc[i]
        if k == K_CELL:
            cur.append(tx[i])
        elif k == K_ROWEND:
            if cur:
                rows.append(cur)
            cur = []
        elif k in (K_IMG, K_FORM):
            extras.append(i)
        elif tx[i]:
            fallback.append(tx[i])
    if cur:
        rows.append(cur)
    if rows:
        em.table(page, table_markdown(rows))
    elif fallback:
        em.table(page, " ".join(fallback))
    for i in extras:
        if kc[i] == K_IMG:
            em.image(page, rf[i])
        else:
            em.formula(page, tx[i])


def _process_page(kc, tx, rf, lo: int, hi: int, page: int, em: _DocEmitter) -> None:
    box_pos = [i for i in range(lo, hi) if kc[i] == K_BOX]
    em.bbox = []
    if not box_pos:
        _text_region(kc, tx, rf, lo, hi, page, em)
        return
    if box_pos[0] > lo:  # implicit leading region (no geometry)
        _text_region(kc, tx, rf, lo, box_pos[0], page, em)
    bboxes = []
    region_kind = []
    bounds = []
    for j, b in enumerate(box_pos):
        x0, y0, x1, y1, rk = tx[b].split(",")
        bboxes.append((int(x0), int(y0), int(x1), int(y1)))
        region_kind.append(rk)
        end = box_pos[j + 1] if j + 1 < len(box_pos) else hi
        bounds.append((b + 1, end))
    for i in xycut(bboxes):
        blo, bhi = bounds[i]
        em.bbox = list(bboxes[i])
        if region_kind[i] == "table":
            _table_region(kc, tx, rf, blo, bhi, page, em)
        else:
            _text_region(kc, tx, rf, blo, bhi, page, em)


def extract_deep(kinds: list[str], texts: list[str], refs: list[str]) -> DocOut:
    """One document's span kinds, texts and media refs -> its deep-tier
    row. Pages are delimited by page_break spans. Any failure (e.g. a
    malformed box payload) gives a tier='error' row carrying the
    traceback's last line, never an exception (poison-safe error
    channel, reference accurate/service.py:240-246)."""
    em = _DocEmitter("deep")
    kc = [_CODE.get(k, -1) for k in kinds]
    parts: list[str] = []
    try:
        lo = 0
        for page, hi in enumerate(
            [i for i, k in enumerate(kc) if k == K_PB] + [len(kc)]
        ):
            s0 = len(em.kinds)
            _process_page(kc, texts, refs, lo, hi, page, em)
            parts.append(join_page([render_block(k, t, m) for k, t, m in zip(
                em.kinds[s0:], em.texts[s0:], em.refs[s0:])]))
            lo = hi + 1
    except Exception:
        import traceback

        return DocOut("error", error=traceback.format_exc(limit=1))
    em.pages = len(parts)
    em.markdown = join_pages(parts)
    return em


def tier2_batches(batches):
    return core_batches(batches, extract_deep, ("kind", "text", "media_ref"))
