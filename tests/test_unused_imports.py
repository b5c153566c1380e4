"""The package has no linter in its checks, so this AST scan stands in
for one rule: every name an import binds in ``xsarsea_spark/`` is
referenced somewhere in its module or exported through ``__all__``."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "xsarsea_spark"


def _unused_imports(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    used: set[str] = set()
    imported: list[tuple[str, int]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Import) or (
                isinstance(node, ast.ImportFrom)
                and node.module != "__future__"):
            imported += [(a.asname or a.name.split(".")[0], node.lineno)
                         for a in node.names if a.name != "*"]
        elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets):
            used |= {c.value for c in ast.walk(node.value)
                     if isinstance(c, ast.Constant)}
    return [f"{path.relative_to(PKG.parent)}:{line}: {name}"
            for name, line in imported if name not in used]


def test_no_unused_imports_in_the_package():
    unused = [u for p in sorted(PKG.rglob("*.py"))
              for u in _unused_imports(p)]
    assert not unused, "\n".join(unused)
