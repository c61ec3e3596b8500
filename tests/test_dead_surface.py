"""Regrowth fences: every public top-level name of the package is
reached, and every defaulted parameter is set by some caller.

A public function, class or constant that nothing outside ``tests/``
refers to is code no run executes. It is either public API, and then it is
listed in the package's ``__init__.__all__``, or it is deleted. The check
is static: it walks the source with ``ast`` and counts a name as referenced
when some other top-level statement loads it, reads it as an attribute or
imports it. Mentions in comments and docstrings do not count.

A defaulted parameter that no call outside ``tests/`` sets holds one value
in every run, so it is a constant, not a setting. It stays a parameter only
when its function is public API or it is on the commented allowlist.
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


def _public_api():
    """Every name in the ``__all__`` of a package ``__init__.py``."""
    return set().union(*(
        _exported(p) for p in _py_files(PACKAGE)
        if os.path.basename(p) == "__init__.py"
    ))


def _unreferenced_public_names():
    # (path, statement index) -> names that statement references; a
    # definition's own statement does not keep it alive
    refs = {}
    for path in _py_files(ROOT):
        for i, stmt in enumerate(_parse(path).body):
            refs[(path, i)] = _referenced_names(stmt)
    exported = _public_api()
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


# ---------------------------------------------------------------------------
# settings fence: every defaulted parameter is set by some caller
# ---------------------------------------------------------------------------

#: defaulted parameters kept although no call outside tests/ sets them,
#: as (function qualname, parameter), each with its reason
SETTINGS_ALLOWED = {
    # test fixture: the row count of the deterministic media table
    ("synthetic_media", "n"),
}


def _defaulted_params(path, exported):
    """(def node, qualname, name, positional index or None, public) for
    every defaulted parameter of every function in ``path``; public means
    the function or its class is in ``exported``. The index counts from
    the first argument a caller passes: ``self``/``cls`` excluded."""
    out = []

    def visit(node, prefix, public):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, prefix + child.name + ".",
                      public or child.name in exported)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qual = prefix + child.name
                pub = public or child.name in exported
                a = child.args
                pos = a.posonlyargs + a.args
                skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
                first = len(pos) - len(a.defaults)
                for i in range(first, len(pos)):
                    out.append((child, qual, pos[i].arg, i - skip, pub))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((child, qual, arg.arg, None, pub))
                visit(child, qual + ".", False)

    visit(_parse(path), "", False)
    return out


def _callee(call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _sets(call, name, index):
    """True when ``call`` may set parameter ``name`` (positional index
    ``index``): by keyword, by position, or through a ``*``/``**``
    splat."""
    for kw in call.keywords:
        if kw.arg is None or kw.arg == name:
            return True
    if index is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return len(call.args) > index


def _unset_settings():
    """Defaulted parameters of package functions that no call outside
    tests/ sets, minus public API and ``SETTINGS_ALLOWED``. Calls are
    matched by name: ``f(...)`` and ``x.f(...)`` reach every function
    named ``f``, and ``C(...)`` reaches ``C.__init__``."""
    calls = {}
    for path in _py_files(ROOT):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call) and _callee(node):
                calls.setdefault(_callee(node), []).append(node)
    exported = _public_api()
    unset, seen = [], set()
    for path in _py_files(PACKAGE):
        for fn, qual, name, index, public in _defaulted_params(path, exported):
            seen.add((qual, name))
            if fn.name == "__init__":  # C(...) and super().__init__(...)
                reached = calls.get(qual.split(".")[-2], []) + calls.get(
                    "__init__", [])
            else:
                reached = calls.get(fn.name, [])
            is_set = any(_sets(c, name, index) for c in reached)
            if (qual, name) in SETTINGS_ALLOWED:
                if is_set:
                    unset.append(f"SETTINGS_ALLOWED entry now set by a "
                                 f"caller: {qual}({name}=)")
                continue
            if is_set or public:
                continue
            unset.append(f"{os.path.relpath(path, ROOT)}:{fn.lineno} "
                         f"{qual}({name}=)")
    unset += [f"SETTINGS_ALLOWED entry with no parameter: {q}({n}=)"
              for q, n in sorted(SETTINGS_ALLOWED - seen)]
    return unset


def test_every_defaulted_parameter_is_set_outside_tests():
    unset = _unset_settings()
    assert not unset, (
        "defaulted parameters no call outside tests/ sets (make them "
        "module constants, or allowlist them with a reason):\n  "
        + "\n  ".join(unset)
    )
