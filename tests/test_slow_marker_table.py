"""The slow-marker table in conftest.py names tests by node id. A
renamed or deleted test would leave an entry that silently marks
nothing, and the test under its new name would leak into the default
tier. Static check, no Spark: every entry names a ``def`` in its file."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _slow_table() -> set[str]:
    tree = ast.parse((ROOT / "tests" / "conftest.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_SLOW" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("conftest.py defines no _SLOW table")


def _defs(path: Path) -> set[str]:
    """Node-id tails of the test functions a file defines: ``name`` at
    module level, ``Class::name`` inside a class."""
    out = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.add(node.name)
        elif isinstance(node, ast.ClassDef):
            out.update(
                f"{node.name}::{f.name}"
                for f in node.body
                if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
            )
    return out


def test_every_slow_entry_names_a_defined_test():
    table = _slow_table()
    assert table
    stale = []
    for nodeid in sorted(table):
        file, _, name = nodeid.partition("::")
        path = ROOT / file
        if not path.is_file() or name not in _defs(path):
            stale.append(nodeid)
    assert stale == [], f"_SLOW entries with no matching test: {stale}"
