"""No 8-line window of code appears twice in the package.

Each `two_tier_document_parser_spark/*.py` file is normalized: every
line is stripped, and blank lines, comment lines and lines that hold
only closing brackets are dropped. Any run of 8 normalized lines that
occurs at two places, in one file or across two, is a copy: fold it
into one helper, or allow-list it below with the reason it stays.
A repeat is named by the sorted set of top-level definitions
(`file:def`) its occurrences fall in.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "two_tier_document_parser_spark"
WINDOW = 8

ALLOWED = {
    ("html_io.py:render_batches", "pdf_io.py:render_batches"):
        "one renderer per format; each module's batch edge reads alone",
    ("similarity.py:semantic_dedup", "similarity.py:semantic_rep_by_score"):
        "the two public operators share a signature, not a body",
}

_CLOSING = re.compile(r"^[)\]}]+[,:]?$")


def _normalized(f: Path) -> list[tuple[str, int]]:
    """(stripped line, line number) of the lines that count."""
    out = []
    for no, line in enumerate(f.read_text().splitlines(), 1):
        s = line.strip()
        if s and not s.startswith("#") and not _CLOSING.match(s):
            out.append((s, no))
    return out


def _owner(f: Path) -> dict[int, str]:
    """line number -> `file:def` of the top-level definition it is in."""
    owner = {}
    for node in ast.parse(f.read_text()).body:
        name = getattr(node, "name", None)
        if name:
            first = min([node.lineno]
                        + [d.lineno for d in getattr(node, "decorator_list", [])])
            for no in range(first, node.end_lineno + 1):
                owner[no] = f"{f.name}:{name}"
    return owner


def repeats(files: list[Path]) -> dict[tuple[str, ...], str]:
    """Sorted `file:def` set of each repeated window -> its first line."""
    seen: dict[tuple[str, ...], list[tuple[Path, int]]] = defaultdict(list)
    for f in files:
        lines = _normalized(f)
        for i in range(len(lines) - WINDOW + 1):
            window = tuple(s for s, _ in lines[i:i + WINDOW])
            seen[window].append((f, lines[i][1]))
    owners = {f: _owner(f) for f in files}
    out = {}
    for window, places in seen.items():
        if len(places) > 1:
            where = tuple(sorted({owners[f].get(no, f"{f.name}:<module>")
                                  for f, no in places}))
            out.setdefault(where, window[0])
    return out


def test_no_window_repeats_outside_the_allow_list():
    found = repeats(sorted(PKG.glob("*.py")))
    extra = {w: first for w, first in found.items() if w not in ALLOWED}
    assert extra == {}, f"repeated 8-line windows (fold or allow-list): {extra}"


def test_allow_list_entries_still_repeat():
    found = repeats(sorted(PKG.glob("*.py")))
    assert set(ALLOWED) <= set(found), set(ALLOWED) - set(found)


def test_scan_ignores_layout_and_finds_copies(tmp_path):
    calls = [f"    x{i} = f(\n        {i},\n" for i in range(WINDOW)]
    a = tmp_path / "a.py"
    a.write_text("def one():\n" + "".join(c + "    )\n" for c in calls))
    b = tmp_path / "b.py"
    b.write_text("def two():\n\n"
                 + "".join(c + "        )  \n    # note\n" for c in calls))
    c = tmp_path / "c.py"  # too short to hold a window
    c.write_text("def three():\n" + "".join(x + "    )\n" for x in calls[:3]))
    assert repeats([a, b, c]) == {("a.py:one", "b.py:two"): "x0 = f("}
