"""Every module-level import in the package is used — a stdlib ``ast`` scan,
so no linter becomes a dependency."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "pgsql2osm_spark")


def _unused_imports(source: str) -> list[str]:
    """Names bound by the module's top-level imports (``__future__`` aside)
    that no expression in the module reads."""
    tree = ast.parse(source)
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{name} (line {line})" for name, line in bound.items() if name not in read]


def test_no_unused_module_imports():
    found, scanned = [], 0
    for dirpath, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                scanned += 1
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    unused = _unused_imports(fh.read())
                found += [f"{os.path.relpath(path, PKG)}: {u}" for u in unused]
    assert scanned > 10
    assert not found, found
