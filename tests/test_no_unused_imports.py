"""No module imports a name it never uses.

A top-level import binds a name; the module must mention that name
somewhere else — in code, in an annotation (string annotations
included) or in `__all__`. The scan covers the package, `jobs/`,
`oracle/`, `tests/`, `bench.py` and `__spark_entry__.py`. Lines marked
`# noqa` and `from __future__` imports are skipped. This is the lint
step the repository has no pyflakes or ruff for.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED = [ROOT / "two_tier_document_parser_spark", ROOT / "jobs",
           ROOT / "oracle", ROOT / "tests", ROOT / "bench.py",
           ROOT / "__spark_entry__.py"]


def _files() -> list[Path]:
    return [f for p in SCANNED
            for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])]


def _top_level_imports(tree: ast.Module):
    """Import statements of the module body, including those under a
    top-level `if` or `try` (optional dependencies)."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, ast.If):
            stack += node.body + node.orelse
        elif isinstance(node, ast.Try):
            stack += node.body + node.orelse + node.finalbody
            for h in node.handlers:
                stack += h.body


def _used_names(tree: ast.Module) -> set[str]:
    used = set()
    annotations = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, (ast.arg, ast.AnnAssign)):
            annotations.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annotations.append(node.returns)
        elif (isinstance(node, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "__all__"
                      for t in node.targets)):
            used |= {e.value for e in ast.walk(node.value)
                     if isinstance(e, ast.Constant)
                     and isinstance(e.value, str)}
    for ann in annotations:
        if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
            try:
                used |= {n.id for n in ast.walk(ast.parse(ann.value))
                         if isinstance(n, ast.Name)}
            except SyntaxError:
                pass
    return used


def unused_imports() -> list[str]:
    out = []
    for f in _files():
        src = f.read_text()
        lines = src.splitlines()
        tree = ast.parse(src)
        used = _used_names(tree)
        for node in _top_level_imports(tree):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if any("# noqa" in lines[no - 1]
                   for no in range(node.lineno, node.end_lineno + 1)):
                continue
            for alias in node.names:
                bound = (alias.asname or alias.name).split(".")[0]
                if bound != "*" and bound not in used:
                    out.append(f"{f.relative_to(ROOT)}:{node.lineno} {bound}")
    return out


def test_no_unused_top_level_imports():
    unused = unused_imports()
    assert unused == [], f"imported but never used: {unused}"
