"""Regrowth fence: every public top-level name of the package is reached.

A public function, class or constant that nothing outside ``tests/``
refers to is code no run executes. It is either public API, and then it is
listed in the package's ``__init__.__all__``, or it is deleted. The check
is static: it walks the source with ``ast`` and counts a name as referenced
when some other top-level statement loads it, reads it as an attribute or
imports it. Mentions in comments and docstrings do not count.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "logstash_filter_translate_spark")

#: names kept although only tests reach them, each with its reason.
#: Private names (leading underscore) are never checked, which also
#: covers dunders such as ``__all__`` and ``__version__``.
ALLOWED = {
    # test fixture: the deterministic media table that the
    # extract_image_features test decodes
    "synthetic_media",
}


def _py_files(base):
    for d, dirs, files in os.walk(base):
        dirs[:] = sorted(x for x in dirs
                         if x not in ("tests", "__pycache__") and not x.startswith("."))
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _defined_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                names.append(node.id)
    return names


def _referenced_names(stmt):
    out = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _exported(path):
    """Names listed in ``__all__`` of an ``__init__.py``."""
    for stmt in _parse(path).body:
        if isinstance(stmt, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
        ):
            return set(ast.literal_eval(stmt.value))
    return set()


def _unreferenced_public_names():
    # (path, statement index) -> names that statement references; a
    # definition's own statement does not keep it alive
    refs = {}
    for path in _py_files(ROOT):
        for i, stmt in enumerate(_parse(path).body):
            refs[(path, i)] = _referenced_names(stmt)
    exported = set()
    for path in _py_files(PACKAGE):
        if os.path.basename(path) == "__init__.py":
            exported |= _exported(path)
    defined, dead = set(), []
    for path in _py_files(PACKAGE):
        for i, stmt in enumerate(_parse(path).body):
            for name in _defined_names(stmt):
                defined.add(name)
                if name.startswith("_") or name in exported or name in ALLOWED:
                    continue
                if not any(name in names for key, names in refs.items()
                           if key != (path, i)):
                    dead.append(f"{os.path.relpath(path, ROOT)}:{stmt.lineno} {name}")
    # a stale allowlist entry is reported like a dead name
    dead += [f"ALLOWED entry with no definition: {name}"
             for name in sorted(ALLOWED - defined)]
    return dead


def test_every_public_name_is_reached_outside_tests():
    dead = _unreferenced_public_names()
    assert not dead, (
        "public names referenced nowhere outside tests/ (delete them, or "
        "export public API in __init__.__all__):\n  " + "\n  ".join(dead)
    )
