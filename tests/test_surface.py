"""Library surface gate: every top-level def and assignment in
``tilematrix_spark/`` must be reachable from a non-test root.

The scan is a transitive AST name scan. Nodes are the top-level ``def``,
``class`` and assignment targets of the package modules and of
``__spark_entry__.py``; a node's references are the ``Name`` ids,
``Attribute`` attrs and imported names in its own source, plus the
identifiers inside its string constants: a docstring or an error message
that names a function (``register_decoder()``, the reference operator
``clip_geometry_to_srs_bounds``) is that function's documented entry
point. The roots are:

- the query registry of ``__spark_entry__.py`` (``QUERIES`` and
  ``entry``/``queries``/``oracle_sql``);
- every name in ``jobs/``, ``perfbench/``, ``bench.py``, ``tools/`` and
  ``tilematrix_spark/cli.py``;
- module-level library statements that define no name (calls such as a
  registry install at import time).

A node is reached when its name is referenced by a reached node or a root;
its own body does not count. The scan matches names, not bindings, so a
name shared by two modules is reached in both.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "tilematrix_spark"

#: names kept on purpose although no root reaches them, each with its reason
ALLOWED = {
    "knn_brute_force": "test reference for knn_join",
    "_prepare_parts": "test reference for the grid-accelerated ray-cast",
    "unregister_decoder": "undoes register_decoder; tests restore the codec registry with it",
}

_ENTRY_ROOTS = {"QUERIES", "entry", "queries", "oracle_sql"}


def _refs(node) -> set:
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.ImportFrom):
            out.update(a.name for a in sub.names)
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            out.update(re.findall(r"[A-Za-z_]\w*", sub.value))
    return out


def _defined(stmt) -> list:
    """Names a top-level statement binds (empty for plain statements)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return [(a.asname or a.name).split(".")[0] for a in stmt.names]
    return []


def _parse(path: Path):
    return ast.parse(path.read_text(), filename=str(path))


def unreached() -> list:
    """(module, name, line, n_lines) of every unreached library node."""
    nodes = {}  # name -> list of reference sets
    lib = []  # (module, name, stmt)
    roots = set()

    def add_module(path: Path, record: bool):
        for stmt in _parse(path).body:
            names = _defined(stmt)
            if not names:
                roots.update(_refs(stmt))
                continue
            refs = _refs(stmt)
            for name in names:
                nodes.setdefault(name, []).append(refs)
                if record and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    lib.append((path.relative_to(REPO).as_posix(), name, stmt))

    for path in sorted(PKG.rglob("*.py")):
        if path.name == "cli.py":
            roots.update(_refs(_parse(path)))
        else:
            add_module(path, record=True)
    add_module(REPO / "__spark_entry__.py", record=False)
    roots |= _ENTRY_ROOTS
    whole = [REPO / "bench.py"]
    for d in ("jobs", "perfbench", "tools"):
        whole += sorted((REPO / d).rglob("*.py"))
    for path in whole:
        roots.update(_refs(_parse(path)))

    reached, frontier = set(), list(roots)
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for refs in nodes.get(name, ()):
            frontier.extend(refs - reached)
    return [
        (mod, name, stmt.lineno, stmt.end_lineno - stmt.lineno + 1)
        for mod, name, stmt in lib
        if name not in reached and not (name.startswith("__") and name.endswith("__"))
    ]


def test_library_surface_is_reached():
    """Fails on, and names, every unreached top-level library name that
    is not on the allow-list."""
    found = unreached()
    extra = [f"{m}:{ln} {n} ({k} lines)" for m, n, ln, k in found if n not in ALLOWED]
    assert not extra, "unreached library names:\n" + "\n".join(extra)


def test_allow_list_is_live():
    """Every allow-listed name still exists and is still unreached, so the
    list cannot hide a name that has since been deleted or wired in."""
    names = {n for _, n, _, _ in unreached()}
    assert set(ALLOWED) <= names, sorted(set(ALLOWED) - names)
    assert len(ALLOWED) <= 3
