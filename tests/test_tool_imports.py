"""The scripts outside the package (tools/*.py, bench.py, perfbench/*.py)
run by hand or by the benchmark, never under pytest, so a package rename
or deletion breaks them silently. This test parses each script with `ast`
(it neither imports nor runs them) and checks that every name it imports
from `elastik_nearest_neighbors_spark` still resolves."""

from __future__ import annotations

import ast
import glob
import importlib
import os

PKG = "elastik_nearest_neighbors_spark"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scripts() -> list[str]:
    paths = glob.glob(os.path.join(_ROOT, "tools", "*.py"))
    paths += glob.glob(os.path.join(_ROOT, "perfbench", "*.py"))
    paths.append(os.path.join(_ROOT, "bench.py"))
    return sorted(paths)


def _package_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every import of the package in `path`; name is
    None for a plain `import module`."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None)
                for a in node.names
                if a.name == PKG or a.name.startswith(PKG + ".")
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_script_imports_of_the_package_resolve():
    scripts = _scripts()
    assert any(p.endswith(os.path.join("tools", "clustered_purge.py")) for p in scripts)
    seen, broken = 0, []
    for path in scripts:
        for module, name in _package_imports(path):
            seen += 1
            if not _resolves(module, name):
                rel = os.path.relpath(path, _ROOT)
                broken.append(f"{rel}: from {module} import {name}")
    assert seen > 0
    assert not broken, broken
