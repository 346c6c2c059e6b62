"""Every top-level function, class and module constant of the package
has a user outside the tests.

A name is live when it is used, outside its own definition, somewhere
in the program: the package, `jobs/`, `oracle/`, `perfbench/`,
`bench.py` or `__spark_entry__.py`. A use is a NAME token, or a word
in a string literal that is not a docstring (`perfbench/trace.py`
names layer functions as strings). Comments and docstrings are prose,
not uses, and neither is a module-level `__all__` list: it only
matters to a star import, and no module star-imports. Uses inside the definition of a dead name do not count, and
the scan repeats until no new dead name appears, so a helper whose
only users are dead is dead too. Code that only tests reach is deleted
with its tests instead of being kept alive by them. Dunders (`__all__`
and the like) are exempt.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "two_tier_document_parser_spark"
PROGRAM = [PKG, ROOT / "jobs", ROOT / "oracle", ROOT / "perfbench",
           ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# reference implementations, known-answer primitives and fixture
# encoders that the tests check the engine against, and the one
# service surface a reference deployment calls from outside
TEST_REFERENCES = {
    "_split_by_gaps",  # layout: the plain XY-cut split, vs _split_sorted
    "aes128_encrypt_block",  # pdfcrypt: FIPS-197 known-answer vectors
    "aes128_decrypt_block",
    "minhash_bands_relational",  # dedup: the reference minhash_bands is pinned to
    "decode_jp2",  # jpeg2000: the full-precision decode the JP2 tests check
    "tiff_wrap_g4",  # ccitt: fixture encoder for the G4-in-TIFF tests
    "encode_g3_1d",  # ccitt: fixture encoder for the G3 1-D tests
    "health",  # api: the reference's O20 /health surface (SURVEY.md)
}


def _program_files() -> list[Path]:
    return [f for p in PROGRAM
            for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])]


def _definitions(files: list[Path]) -> list[tuple[str, Path, int, int]]:
    """(name, file, first line, last line) of every top-level def,
    class and non-dunder assignment target in `files`, decorators
    included."""
    out = []
    for f in files:
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min([node.lineno]
                            + [d.lineno for d in node.decorator_list])
                out.append((node.name, f, first, node.end_lineno))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                for t in targets:
                    for n in ast.walk(t):
                        if (isinstance(n, ast.Name)
                                and not n.id.startswith("__")):
                            out.append((n.id, f, node.lineno,
                                        node.end_lineno))
    return out


def _prose_lines(tree: ast.Module) -> set[int]:
    """Start lines of the string literals that are docstrings (or any
    other bare string statement), and every line of a module-level
    `__all__` assignment."""
    lines = {n.value.lineno for n in ast.walk(tree)
             if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
             and isinstance(n.value.value, str)}
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            if any(isinstance(t, ast.Name) and t.id == "__all__"
                   for t in targets):
                lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


# literal text; Python 3.12+ splits f-strings into FSTRING_* tokens
_STRINGS = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", None)}


def _uses(f: Path) -> list[tuple[str, int]]:
    """(word, line) of every NAME token and every word of a string
    literal in `f` that is neither a docstring nor in `__all__`."""
    src = f.read_text()
    docs = _prose_lines(ast.parse(src))
    out = []
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            out.append((tok.string, tok.start[0]))
        elif tok.type in _STRINGS and tok.start[0] not in docs:
            out.extend((w, tok.start[0]) for w in re.findall(r"\w+", tok.string))
    return out


def dead_names(pkg_files: list[Path] | None = None,
               program_files: list[Path] | None = None) -> list[str]:
    defs = _definitions(pkg_files if pkg_files is not None
                        else sorted(PKG.rglob("*.py")))
    names = {d[0] for d in defs}
    uses: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for f in (program_files if program_files is not None
              else _program_files()):
        for word, no in _uses(f):
            if word in names:
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
            return sorted({d[0] for d in dead})
        dead |= new


def test_every_package_definition_has_a_caller_outside_tests():
    dead = [n for n in dead_names() if n not in TEST_REFERENCES]
    assert dead == [], f"reached only from tests (or not at all): {dead}"


def test_test_references_are_still_defined():
    defs = {d[0] for d in _definitions(sorted(PKG.rglob("*.py")))}
    assert TEST_REFERENCES <= defs


def test_scan_counts_code_not_prose(tmp_path):
    mod = tmp_path / "mod.py"
    mod.write_text(
        '"""Mentions only_in_doc."""\n'
        "LIMIT = 3\n"
        "UNUSED = 4\n"
        '__all__ = ["called", "only_in_all"]\n'
        "__all__ += [\n"
        '    "only_in_all",\n'
        "]\n"
        "def called():\n"
        "    return LIMIT\n"
        "def only_in_doc():\n"
        "    pass\n"
        "def only_in_comment():\n"
        "    pass\n"
        "def named_in_string():\n"
        "    pass\n"
        "def dead_caller():\n"
        "    return only_dead_calls()\n"
        "def only_dead_calls():\n"
        "    pass\n"
        "def only_in_all():\n"
        "    pass\n"
    )
    user = tmp_path / "user.py"
    user.write_text(
        "def main():\n"
        '    """Calls called, never only_in_doc."""\n'
        "    # only_in_comment is prose too\n"
        '    layer = "mod.named_in_string"\n'
        "    return called()\n"
    )
    assert dead_names([mod], [mod, user]) == [
        "UNUSED", "dead_caller", "only_dead_calls", "only_in_all",
        "only_in_comment", "only_in_doc",
    ]
