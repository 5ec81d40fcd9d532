"""Every module-level function and class in the package has a caller.

Spark-free AST scan. A name counts as referenced when some file in the
package, ``tools/``, ``perfbench/``, ``tests/``, ``bench.py`` or
``__spark_entry__.py`` uses it as a name or attribute, imports it, or
names it in a docstring (a prose cross-reference).
Re-exports in an ``__init__.py`` are not callers; neither is a
function's own body, nor the body of a function that is itself dead,
so a helper whose only caller is dead code is dead too. ``@register``
queries are reached through the registry and count as live.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "defimap_data_pipelines_spark"
SCOPE = [PKG, ROOT / "tools", ROOT / "perfbench", ROOT / "tests",
         ROOT / "bench.py", ROOT / "__spark_entry__.py"]
WORD = re.compile(r"[A-Za-z_]\w*")
DEFS = (ast.FunctionDef, ast.ClassDef)


def _is_query(node) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def _names(node, reexport: bool) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom) and not reexport:
            out.update(a.name for a in n.names)
        if isinstance(n, DEFS) and ast.get_docstring(n):
            out.update(WORD.findall(ast.get_docstring(n)))
    return out


def _scan():
    """(definitions, references): each package definition as
    (path, name) -> the names its body references, and the names
    referenced outside any package definition."""
    defs: dict[tuple[Path, str], set[str]] = {}
    free: set[str] = set()
    for p in SCOPE:
        for path in sorted(p.rglob("*.py")) if p.is_dir() else [p]:
            tree = ast.parse(path.read_text())
            reexport = path.name == "__init__.py"
            doc = ast.get_docstring(tree)
            free.update(WORD.findall(doc or ""))
            for node in tree.body:
                refs = _names(node, reexport)
                if path.is_relative_to(PKG) and isinstance(node, DEFS) and not _is_query(node):
                    defs[(path, node.name)] = refs - {node.name}
                else:
                    free |= refs
    return defs, free


def test_every_package_function_has_a_caller():
    defs, free = _scan()
    live = dict(defs)
    while True:
        refs = free.union(*live.values())
        dead = [k for k in live if k[1] not in refs]
        if not dead:
            break
        for k in dead:
            del live[k]
    dead = sorted(f"{p.relative_to(ROOT)}::{n}" for p, n in defs.keys() - live.keys())
    assert not dead, "no caller: " + ", ".join(dead)
