"""Keep the engine to what its callers reach.

Static checks, no Spark session: the hand-kept sample head of the
registry stays short and leads the query enumeration; every top-level
definition in ``tsengine/`` is referenced by name from some caller, so
an unused helper, kernel copy or constant fails here instead of
accumulating; and only ``sources/scratch.py`` holds the protocol that
reuses, publishes and removes scratch copies.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every place a definition in tsengine/ can be reached from
CALLER_ROOTS = (
    "tsengine", "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py",
)


def test_sample_head_leads_the_enumeration():
    import __spark_entry__ as entry
    from tsengine import registry

    head = registry._SAMPLE_PRIORITY
    assert len(head) <= 50
    assert list(entry.queries())[: len(head)] == list(head)


def _py_files(rel: str):
    path = os.path.join(REPO, rel)
    if path.endswith(".py"):
        yield path
        return
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _is_register(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _definitions(tree: ast.Module):
    """(name, first line, last line) of each top-level function, class
    and constant; registered queries are reached through the registry."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if any(_is_register(d) for d in node.decorator_list):
                continue
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, node.lineno, node.end_lineno


def _references(tree: ast.Module):
    """(name, line) of every use by name: a bare name, an attribute or
    an imported name.  Comments and docstrings do not count."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                yield alias.name, node.lineno


def test_every_engine_definition_is_referenced():
    trees = {}
    for rel in CALLER_ROOTS:
        for path in _py_files(rel):
            with open(path) as fh:
                trees[path] = ast.parse(fh.read(), path)
    refs: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))

    engine = os.path.join(REPO, "tsengine") + os.sep
    unreferenced = [
        f"{os.path.relpath(path, REPO)}:{first} {name}"
        for path, tree in trees.items()
        if path.startswith(engine)
        for name, first, last in _definitions(tree)
        if all(p == path and first <= ln <= last for p, ln in refs.get(name, []))
    ]
    assert not unreferenced, f"defined in tsengine/ but never named: {unreferenced}"


# the one owner of scratch placement, and session.py's content-addressed
# package zip
_PATH_OWNERS = ("tsengine/sources/scratch.py", "tsengine/session.py")
_PATH_CALLS = {("shutil", "rmtree"), ("os", "rename"), ("os", "replace")}


def _docstrings(tree: ast.Module) -> set[int]:
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def test_scratch_paths_have_one_owner():
    """Only ``sources/scratch.py`` decides whether a copy is reusable
    (``_SUCCESS``, ``st_mtime_ns``), publishes one (``os.rename``,
    ``os.replace``) or removes one (``shutil.rmtree``); operator code
    asks it for a path instead of repeating the protocol."""
    offenders = []
    for path in _py_files("tsengine"):
        rel = os.path.relpath(path, REPO)
        if rel in _PATH_OWNERS:
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        docs = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                owner = getattr(node.value, "id", None)
                hit = node.attr == "st_mtime_ns" or (owner, node.attr) in _PATH_CALLS
            elif isinstance(node, ast.ImportFrom):
                hit = any((node.module, a.name) in _PATH_CALLS for a in node.names)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                hit = "_SUCCESS" in node.value and id(node) not in docs
            else:
                continue
            if hit:
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"scratch protocol outside sources/scratch.py: {offenders}"
