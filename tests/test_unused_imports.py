"""No unused module-level imports in the package: an ``ast`` scan of every
module (no linter is installed). ``__init__.py`` files re-export by design
and are skipped; names listed in ``__all__`` count as used."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "pyterrier_pisa_spark"


def _module_imports(tree: ast.Module):
    """(bound name, line) of every import at module level, including those
    inside module-level ``try``/``if`` blocks."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Import):
            for a in node.names:
                yield (a.asname or a.name.split(".")[0]), node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                yield (a.asname or a.name), node.lineno
        elif isinstance(node, (ast.Try, ast.If)):
            stack.extend(node.body + node.orelse + getattr(node, "finalbody", []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)


def _used_names(tree: ast.Module) -> set[str]:
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            # string annotations ("pa.Table") and __all__ entries
            try:
                sub = ast.parse(node.value, mode="eval")
            except SyntaxError:
                continue
            used.update(n.id for n in ast.walk(sub) if isinstance(n, ast.Name))
    return used


def unused_imports(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    used = _used_names(tree)
    return [f"{path.relative_to(PKG.parent)}:{line}: {name}"
            for name, line in _module_imports(tree) if name not in used]


def test_scanner_flags_an_unused_import(tmp_path):
    f = tmp_path / "m.py"
    f.write_text("import os\nimport sys as _s\nfrom typing import Iterator, List\n"
                 "def g(x: 'List[int]'):\n    return _s.argv\n")
    tree = ast.parse(f.read_text())
    used = _used_names(tree)
    assert sorted(n for n, _ in _module_imports(tree) if n not in used) == \
        ["Iterator", "os"]


def test_no_unused_module_level_imports():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name != "__init__.py":
            found += unused_imports(path)
    assert not found, "unused module-level imports:\n" + "\n".join(found)
