"""Normative constants for the extraction semantics.

These constants are the single source of truth shared by the
single-threaded oracle (`oracle/`) and the vectorized Spark engine
(`two_tier_document_parser_spark/tier1.py`, `tier2.py`). The two
implementations are structurally independent (per-doc scalar code vs
batch-vectorized code) but must agree bit-for-bit on every output
string/int — that agreement is the correctness invariant
(FIXTURES.md §2), so the thresholds and vocabularies they both
consume live here and only here.

Semantics trace back to the reference parser:
- per-page fallback + skipped-page placeholder:
  reference fast/service.py:45-73 (placeholder text :66, 1-indexed :63)
- artifact id scheme `page_{p}_{kind}_{i}` with a per-document
  first-seen counter: reference accurate/service.py:180,200,212
- empty-formula drop: reference accurate/service.py:210
- table content-else-fallback preference: reference
  accurate/service.py:190-196
"""

from __future__ import annotations

ENGINE_VERSION = "1.0"

# ---------------------------------------------------------------------------
# Input span vocabulary (producer side, FIXTURES.md §1)
# ---------------------------------------------------------------------------
IN_KINDS = (
    "text",
    "heading",
    "list_item",
    "table_cell",
    "table_row_end",
    "image",
    "formula",
    "link_text",
    "boilerplate",
    "page_break",
    "box",
)

# Leading bytes of a TTDP1 container (binary_io); the byte sniff
# (ingest.sniff_decode_doc) tests for them before it loads a decoder.
TTDP1_MAGIC = b"TTDP1"

# Kinds that merge into one tier-1 paragraph block (naive fast-tier
# linearization: table cells are flattened into running text, the way a
# text-only markdown converter treats tables it cannot model).
T1_PARA_KINDS = frozenset({"text", "link_text", "table_cell"})
# Kinds that are a block of their own and are always kept by tier 1.
T1_EMIT_KINDS = frozenset({"heading", "list_item"})

# ---------------------------------------------------------------------------
# Tier-1 boilerplate classifier (jusText/Readability-style heuristics:
# link density + block length + stop-word density; Pomikálek 2011)
# ---------------------------------------------------------------------------
T1_MAX_LINK_DENSITY = 0.35   # link chars / block chars above this -> BAD
T1_MIN_BLOCK_CHARS = 25      # below this -> SHORT (inherits neighbour)
T1_MIN_STOP_DENSITY = 0.10   # stopword tokens / tokens below this -> BAD

# The poison marker that triggers the reference's per-page fallback
# path (reference fast/service.py:45-73 falls back on a table-detection
# AttributeError; our deterministic analogue is an empty table cell).
def is_poison(kind: str, text: str) -> bool:
    return kind == "table_cell" and text == ""


# Placeholder for a skipped page — verbatim from reference
# fast/service.py:66 (1-indexed page number per :63).
def skipped_page_placeholder(page_1idx: int) -> str:
    return (
        f"\n\n---\n**[Page {page_1idx} skipped due to parsing error]**\n---\n\n"
    )


PAGE_JOIN = "\n\n"   # reference fast/service.py:71 joins page parts
BLOCK_JOIN = "\n\n"  # blocks within a page join the same way

# ---------------------------------------------------------------------------
# Tier routing (routing.route, SURVEY §2.1 O3)
# Keyed by doc_class; a doc goes to the deep tier when its box-span
# fraction exceeds the threshold OR its media-span count reaches the
# media threshold. Pure function of row content (SURVEY §7.7.2).
# ---------------------------------------------------------------------------
ROUTING_MODEL = {
    # doc_class: (box_frac_threshold, media_count_threshold)
    "html": (0.05, 30),
    "pdfish": (0.02, 8),
}
ROUTING_DEFAULT = (0.03, 20)
MEDIA_KINDS = frozenset({"image", "formula", "table_cell"})

# ---------------------------------------------------------------------------
# Size caps (reference 413 semantics: "File too large (max 100MB)" on
# the fast service / 500 MB on accurate — fast/app.py:71-73,
# accurate/app.py:125-127). The engine's size unit is spans (payload
# bytes never reach the router in the span schema); the 1:5 ratio
# mirrors the reference. Oversize documents are routed to quarantine
# (tier='error') with a distinct reason — never an exception, a
# 10^12-doc job cannot afford one. The caps also bound the largest
# document one task extracts whole, so no document is ever split (its
# cost at each cap: README "Scale design").
# ---------------------------------------------------------------------------
T1_MAX_SPANS = 100_000
T2_MAX_SPANS = 500_000
REASON_INVALID = "invalid document"


def too_large_reason(tier: str) -> str:
    cap = T1_MAX_SPANS if tier == "fast" else T2_MAX_SPANS
    return f"document too large (max {cap} spans for {tier} tier)"


# Decompression-bomb guard of every image decoder: header dimensions
# are attacker-controlled, and a tiny compressed stream can legally
# expand to w*h pixels, so no decoder allocates more than this.
MAX_PIXELS = 64_000_000

# ---------------------------------------------------------------------------
# Stopwords (used by the tier-1 stop-density heuristic — union across
# languages — and by the synthetic corpus generator / language-id op)
# ---------------------------------------------------------------------------
STOPWORDS = {
    "en": (
        "the a of and to in is it that for on with as at by an be this "
        "are was or from not have has".split()
    ),
    "fr": (
        "le la les de des un une et à en du pour sur avec est que ne "
        "pas ce dans au il se plus".split()
    ),
    "es": (
        "el la los las de un una y en del por con es que no se para "
        "su al lo como más pero".split()
    ),
    "de": (
        "der die das und zu den von ein eine mit ist im für auf nicht "
        "dem sich des auch es an als".split()
    ),
    "zh": "的 是 在 了 和 有 我 他 这 中 就 不 人 都 一 上 也 很 到 说".split(),
}
STOP_UNION = frozenset(w for ws in STOPWORDS.values() for w in ws)

LANGS = ("en", "fr", "es", "de", "zh")

# Content vocabulary per language for the synthetic corpus. Chosen so
# that stop-density separates body text (stopwords mixed in) from
# chrome (none). Never changes once fixtures are frozen.
CONTENT_WORDS = {
    "en": (
        "data pipeline document table layout parser engine page span "
        "column batch query result system model index stream shard "
        "cluster record value metric field vector token output input "
        "format schema".split()
    ),
    "fr": (
        "données document tableau analyse moteur page colonne résultat "
        "système modèle indice flux valeur champ vecteur sortie entrée "
        "format schéma rapport texte image niveau réseau base".split()
    ),
    "es": (
        "datos documento tabla análisis motor página columna resultado "
        "sistema modelo índice flujo valor campo vector salida entrada "
        "formato esquema informe texto imagen nivel red base".split()
    ),
    "de": (
        "daten dokument tabelle analyse motor seite spalte ergebnis "
        "system modell index strom wert feld vektor ausgabe eingabe "
        "format schema bericht text bild ebene netz basis".split()
    ),
    "zh": (
        "数据 文档 表格 分析 引擎 页面 列 结果 系统 模型 索引 流 值 字段 "
        "向量 输出 输入 格式 架构 报告 文本 图像 层级 网络 基础".split()
    ),
}

# Chrome vocabulary (no stopwords -> low stop-density -> BAD blocks).
CHROME_WORDS = (
    "copyright rights reserved privacy policy terms conditions contact "
    "sitemap newsletter subscribe login register cookie settings "
    "careers press media advertise".split()
)
