"""Scope guard: every top-level def and every method in ``cogie_spark``
must be reachable from a contract path.

The roots are every name in the driver contract (``bench.py``,
``__spark_entry__.py``), the engine's entry modules (``queries.py``,
``session.py``, ``plans/``, ``streaming/``), the command-line tools
(``scripts/``, ``perfbench/``) and the module-level statements of the
package (imports excepted: re-exporting a name is not using it). The
walk follows names through the bodies of the defs it reaches until
nothing new turns up. A reached class walks its body and its dunder
methods; any other method is reached only when a reached body names
it (``obj.method``). Matching is by bare name, not by module or class,
so the guard can only err toward "reached". Words inside strings do
not count: a docstring that cites a def keeps nothing alive.

``cogie_spark/fixtures/`` builds test data; its defs are kept and walked
as roots, so the helpers they call stay reachable.

Runs without Spark: the files are parsed, never imported.
"""
from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "cogie_spark"

ROOT_GLOBS = (
    "bench.py",
    "__spark_entry__.py",
    "cogie_spark/queries.py",
    "cogie_spark/session.py",
    "cogie_spark/plans/*.py",
    "cogie_spark/streaming/*.py",
    "cogie_spark/fixtures/*.py",
    "scripts/*.py",
    "perfbench/*.py",
)

# Defs kept only for a test: reference implementations a test compares
# against, and the read side of tables the engine writes for people to
# inspect (the checkpoint's metrics and lineage logs). Keys are
# "module/path.py:def_name" or "module/path.py:Class.method", each mapped
# to "tests/test_file.py::test_name". Entries are walked like roots, so
# the helpers they call stay reached.
ALLOWLIST: dict[str, str] = {
    "cogie_spark/functions/similarity.py:jaro_winkler_py":
        "tests/test_similarity.py::test_jaro_winkler_matches_duckdb",
    "cogie_spark/functions/similarity.py:_levenshtein":
        "tests/test_similarity.py::test_levenshtein_matches_duckdb",
    "cogie_spark/functions/similarity.py:token_set_ratio_py":
        "tests/test_similarity.py::test_token_set_ratio_native_matches_python",
    "cogie_spark/io/tableio.py:CheckpointManager.metrics_df":
        "tests/test_checkpoint.py::test_metrics_and_lineage_tables",
    "cogie_spark/io/tableio.py:CheckpointManager.lineage_df":
        "tests/test_checkpoint.py::test_metrics_and_lineage_tables",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEFS = (*_FUNCS, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _is_method(node: ast.AST) -> bool:
    """A method the guard tracks on its own: any but a dunder."""
    return isinstance(node, _FUNCS) and not (
        node.name.startswith("__") and node.name.endswith("__")
    )


def _names(node: ast.AST, whole: bool = False) -> set[str]:
    """Every identifier ``node`` mentions: names, attributes, def names
    and imported names. Unless ``whole``, a class's own non-dunder
    methods are left out: they are defs of their own."""
    out: set[str] = set()
    todo = [node]
    while todo:
        n = todo.pop()
        if isinstance(n, _DEFS):
            out.add(n.name)
        elif isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        todo.extend(
            c for c in ast.iter_child_nodes(n)
            if whole or not (isinstance(n, ast.ClassDef) and _is_method(c))
        )
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreached_defs(
    repo: Path = REPO,
    pkg: str = "cogie_spark",
    root_globs: tuple[str, ...] = ROOT_GLOBS,
    allowlist: dict[str, str] = ALLOWLIST,
) -> list[str]:
    """``module/path.py:name`` (or ``:Class.method``) of every def under
    ``repo/pkg`` that no root reaches."""
    root_files = {p.resolve() for g in root_globs for p in repo.glob(g)}
    roots = {key.split(":")[1].rsplit(".", 1)[-1] for key in allowlist}
    for path in root_files:
        roots |= _names(_parse(path), whole=True)

    defs: dict[str, list[ast.AST]] = {}
    located: list[tuple[str, str, str]] = []
    for path in sorted((repo / pkg).rglob("*.py")):
        rel = path.relative_to(repo).as_posix()
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                members = [(stmt.name, stmt.name, stmt)]
                if isinstance(stmt, ast.ClassDef):
                    members += [
                        (f"{stmt.name}.{m.name}", m.name, m) for m in stmt.body if _is_method(m)
                    ]
                for label, name, node in members:
                    defs.setdefault(name, []).append(node)
                    if not rel.startswith(f"{pkg}/fixtures/"):
                        located.append((rel, label, name))
            elif not isinstance(stmt, _IMPORTS):
                roots |= _names(stmt)

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs[name]:
            todo.extend(n for n in _names(node) if n in defs and n not in reached)

    return [f"{rel}:{label}" for rel, label, name in located if name not in reached]


def test_every_def_is_reached_from_a_contract_path():
    missing = unreached_defs()
    assert not missing, (
        "defs no contract path reaches (delete them, or allowlist a def kept "
        "only for a test, naming that test):\n  "
        + "\n  ".join(missing)
    )


def test_allowlist_entries_name_existing_tests():
    for key, test_id in ALLOWLIST.items():
        rel, name = key.split(":")
        scope = _parse(REPO / rel).body
        *owners, name = name.split(".")
        for owner in owners:
            scope = next(s.body for s in scope if isinstance(s, ast.ClassDef) and s.name == owner)
        assert any(isinstance(s, _DEFS) and s.name == name for s in scope), key
        test_file, test_name = test_id.split("::")
        tests = {s.name for s in _parse(REPO / test_file).body if isinstance(s, _DEFS)}
        assert test_name in tests, f"{key}: {test_id} not found"


def test_unnamed_method_is_reported(tmp_path):
    """A method of a reached class that no reached body names is
    reported; the dunder and the method a reached body calls are not."""
    (tmp_path / "pkg").mkdir()
    (tmp_path / "pkg" / "store.py").write_text(
        "class Store:\n"
        "    def __init__(self):\n"
        "        self.rows = []\n"
        "    def used(self):\n"
        "        return self._helper()\n"
        "    def _helper(self):\n"
        "        return self.rows\n"
        "    def unused(self):\n"
        "        return len(self.rows)\n"
    )
    (tmp_path / "entry.py").write_text("from pkg.store import Store\nStore().used()\n")
    assert unreached_defs(tmp_path, "pkg", ("entry.py",), {}) == ["pkg/store.py:Store.unused"]
