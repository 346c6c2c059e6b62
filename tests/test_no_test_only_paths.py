"""Every top-level function and class of the package has a caller
outside the tests.

A name is live when it appears as a whole word, outside its own body,
somewhere in the program: the package, `jobs/`, `oracle/`,
`perfbench/`, `bench.py` or `__spark_entry__.py`. Mentions inside the
body of a dead definition do not count, and the scan repeats until no
new dead name appears, so a helper whose only callers are dead is dead
too. Code that only tests reach is deleted with its tests instead of
being kept alive by them.
"""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "two_tier_document_parser_spark"
PROGRAM = [PKG, ROOT / "jobs", ROOT / "oracle", ROOT / "perfbench",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# reference implementations and known-answer primitives that the
# tests check the engine's faster or composed forms against
TEST_REFERENCES = {
    "_split_by_gaps",  # layout: the plain XY-cut split, vs _split_sorted
    "aes128_encrypt_block",  # pdfcrypt: FIPS-197 known-answer vectors
    "aes128_decrypt_block",
}


def _program_files() -> list[Path]:
    return [f for p in PROGRAM
            for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])]


def _definitions() -> list[tuple[str, Path, int, int]]:
    """(name, file, first line, last line) of every top-level def and
    class in the package, decorators included."""
    out = []
    for f in sorted(PKG.rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min([node.lineno]
                            + [d.lineno for d in node.decorator_list])
                out.append((node.name, f, first, node.end_lineno))
    return out


def dead_names() -> list[str]:
    defs = _definitions()
    names = {d[0] for d in defs}
    uses: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for f in _program_files():
        for no, line in enumerate(f.read_text().splitlines(), 1):
            for word in set(re.findall(r"\w+", line)) & names:
                uses[word].append((f, no))

    dead: set[tuple[str, Path, int, int]] = set()
    while True:
        new = set()
        for d in defs:
            if d in dead:
                continue
            bodies = [(f, a, b) for (_, f, a, b) in dead | {d}]
            if all(any(g == f and a <= no <= b for f, a, b in bodies)
                   for g, no in uses[d[0]]):
                new.add(d)
        if not new:
            return sorted(d[0] for d in dead)
        dead |= new


def test_every_package_definition_has_a_caller_outside_tests():
    dead = [n for n in dead_names() if n not in TEST_REFERENCES]
    assert dead == [], f"reached only from tests (or not at all): {dead}"


def test_test_references_are_still_defined():
    assert TEST_REFERENCES <= {d[0] for d in _definitions()}
