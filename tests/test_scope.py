"""Scope guard: every top-level def in ``cogie_spark`` must be reachable
from a contract path.

The roots are every name in the driver contract (``bench.py``,
``__spark_entry__.py``), the engine's entry modules (``queries.py``,
``session.py``, ``plans/``, ``streaming/``), the command-line tools
(``scripts/``, ``perfbench/``) and the module-level statements of the
package (imports excepted: re-exporting a name is not using it). The
walk follows names through the bodies of the defs it reaches until
nothing new turns up. Matching is by bare name, not by module, so the
guard can only err toward "reached". Words inside strings do not count:
a docstring that cites a def keeps nothing alive.

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

# Reference implementations kept only so a test can compare against them:
# "module/path.py:def_name" -> "tests/test_file.py::test_name". Entries
# are walked like roots, so the helpers they call stay reached.
ALLOWLIST: dict[str, str] = {
    "cogie_spark/functions/similarity.py:jaro_winkler_py":
        "tests/test_similarity.py::test_jaro_winkler_matches_duckdb",
    "cogie_spark/functions/similarity.py:_levenshtein":
        "tests/test_similarity.py::test_levenshtein_matches_duckdb",
    "cogie_spark/functions/similarity.py:token_set_ratio_py":
        "tests/test_similarity.py::test_token_set_ratio_native_matches_python",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` mentions: names, attributes, def names
    and imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, _DEFS):
            out.add(n.name)
        elif isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreached_defs() -> list[str]:
    root_files = {p.resolve() for g in ROOT_GLOBS for p in REPO.glob(g)}
    roots = {key.split(":")[1] for key in ALLOWLIST}
    for path in root_files:
        roots |= _names(_parse(path))

    defs: dict[str, list[ast.AST]] = {}
    located: list[tuple[str, str]] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(stmt)
                if not rel.startswith("cogie_spark/fixtures/"):
                    located.append((rel, stmt.name))
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

    return [f"{rel}:{name}" for rel, name in located if name not in reached]


def test_every_def_is_reached_from_a_contract_path():
    missing = unreached_defs()
    assert not missing, (
        "top-level defs no contract path reaches (delete them, or allowlist a "
        "reference implementation with the test that compares against it):\n  "
        + "\n  ".join(missing)
    )


def test_allowlist_entries_name_existing_tests():
    for key, test_id in ALLOWLIST.items():
        rel, name = key.split(":")
        module = _parse(REPO / rel)
        assert any(isinstance(s, _DEFS) and s.name == name for s in module.body), key
        test_file, test_name = test_id.split("::")
        tests = {s.name for s in _parse(REPO / test_file).body if isinstance(s, _DEFS)}
        assert test_name in tests, f"{key}: {test_id} not found"
