"""Every top-level import of a package module is used in that module.

An AST walk, since no linter ships with the package. ``__init__.py``
files, ``from __future__`` imports and names listed in ``__all__`` are
exempt.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "osmnetfusion_spark"


def _bound(stmt):
    """Names a top-level import statement binds."""
    if isinstance(stmt, ast.Import):
        return [a.asname or a.name.split(".")[0] for a in stmt.names]
    if isinstance(stmt, ast.ImportFrom) and stmt.module != "__future__":
        return [a.asname or a.name for a in stmt.names if a.name != "*"]
    return []


def _used(tree):
    """Names read anywhere in ``tree``, string annotations and ``__all__``
    entries included."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        ann = []
        if isinstance(node, ast.arg):
            ann = [node.annotation]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            ann = [node.returns]
        elif isinstance(node, ast.AnnAssign):
            ann = [node.annotation]
        for a in ann:
            if isinstance(a, ast.Constant) and isinstance(a.value, str):
                used |= _used(ast.parse(a.value, mode="eval"))
        if (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
        ):
            used |= set(ast.literal_eval(node.value))
    return used


def unused_imports(source):
    """``(line, name)`` of each top-level import ``source`` never reads."""
    tree = ast.parse(source)
    used = _used(tree)
    return [
        (stmt.lineno, name)
        for stmt in tree.body
        for name in _bound(stmt)
        if name not in used
    ]


def test_checker_sees_an_unused_import():
    src = (
        "from __future__ import annotations\n"
        "import os\nimport numpy as np\nfrom typing import Iterator\n"
        "from x import exported\n__all__ = ['exported']\n"
        "def f(a: 'Iterator[int]') -> None:\n    return np.zeros(1)\n"
    )
    assert unused_imports(src) == [(2, "os")]


def test_no_unused_top_level_imports():
    found = [
        f"{path.relative_to(PKG.parent)}:{line} {name}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for line, name in unused_imports(path.read_text())
    ]
    assert found == []
