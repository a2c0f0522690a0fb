"""Guard against caller-less package surface (pure AST, no Spark).

Every public top-level function or class in `json_schema_spark/` must be
used outside `tests/` — by the package itself, `__spark_entry__.py`,
`perfbench/`, `scripts/`, `examples/` or `bench.py` — or have a row in
COVERAGE.md's "Kept without a non-test caller" table, which says why a
test-only capability is kept; a mention elsewhere in COVERAGE.md does not
excuse it. A use is a
Name or Attribute node, or a string literal equal to the name (so that
dispatch tables such as `validator/checks.FORMAT_FUNCS` count). Imports,
`__all__` lists and the definition's own body do not count."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "json_schema_spark"
USERS = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "perfbench",
         ROOT / "scripts", ROOT / "examples", ROOT / "bench.py"]


def _modules() -> list[Path]:
    out: list[Path] = []
    for p in USERS:
        if p.is_dir():
            out.extend(sorted(p.rglob("*.py")))
        elif p.exists():
            out.append(p)
    return out


def _public_defs() -> dict[str, str]:
    """name -> the first module (relative path) defining it at top level."""
    defs: dict[str, str] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                defs.setdefault(node.name, str(path.relative_to(ROOT)))
    return defs


def _used_names(tree: ast.AST) -> set[str]:
    """Names used in ``tree``, skipping imports, ``__all__`` and each
    top-level definition's own body when it refers to itself."""
    used: set[str] = set()

    def visit(node: ast.AST, owner: str | None) -> None:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            return
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)):
            return
        name = None
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            name = node.value
        if name is not None and name != owner:
            used.add(name)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for top in tree.body:
        owner = (top.name if isinstance(top, (ast.FunctionDef,
                                              ast.AsyncFunctionDef,
                                              ast.ClassDef)) else None)
        visit(top, owner)
    return used


def _kept_names(text: str) -> set[str]:
    """Identifiers in the backtick spans of the first cell of each row
    of the "Kept without a non-test caller" table in ``text``."""
    section = text.split("## Kept without a non-test caller", 1)[1]
    section = section.split("\n## ", 1)[0]
    return {ident
            for row in re.findall(r"^\|([^|\n]*)\|", section, re.M)
            for span in re.findall(r"`([^`]+)`", row)
            for ident in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", span)}


def test_every_public_name_has_a_non_test_user_or_a_coverage_entry():
    used: set[str] = set()
    for path in _modules():
        used |= _used_names(ast.parse(path.read_text()))
    documented = _kept_names((ROOT / "COVERAGE.md").read_text())
    orphans = sorted(f"{module}:{name}"
                     for name, module in _public_defs().items()
                     if name not in used and name not in documented)
    assert not orphans, (
        "public names used only by tests; delete them, or say in "
        "COVERAGE.md's \"Kept without a non-test caller\" table why "
        "they stay:\n" + "\n".join(orphans))


def test_only_kept_table_rows_excuse_a_name():
    text = ("## Operators\n\n| Op | `a/b.elsewhere` |\n|---|---|\n\n"
            "## Kept without a non-test caller\n\nSee `prose_name`.\n\n"
            "| Name | Why |\n|---|---|\n"
            "| `m/x.kept_one` / `kept_two` | uses `why_name` |\n\n"
            "## Later\n\n| `m/y.after` | x |\n")
    assert _kept_names(text) == {"m", "x", "kept_one", "kept_two"}


def test_scan_sees_uses_and_ignores_imports_and_self_reference():
    tree = ast.parse(
        "from m import imported\n"
        "__all__ = ['exported']\n"
        "def recursive(n):\n"
        "    return recursive(n - 1)\n"
        "def caller():\n"
        "    return m.attr(called(), 'literal')\n")
    assert _used_names(tree) == {"m", "attr", "called", "literal", "n"}
