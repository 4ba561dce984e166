"""Every module under degdb_spark/ is reached from an entry point, and
every public function of the node's modules is used outside the tests.

A static import walk over the AST (every ``import``/``from … import``,
including function-local ones) starts from ``__spark_entry__``, the
benchmark harnesses, the tools and the node's public modules. A package
module the walk never reaches is code that only its own tests run, and
fails the test.

The node's modules are held to more: each public function and public
method they define must be referenced by name — a call, an attribute
read or a value passed — from a file outside ``tests/``. Importing or
re-exporting a name is not a use.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

ENTRY_MODULES = (
    "__spark_entry__",
    "bench",
    "degdb_spark.__main__",
    "degdb_spark.api",
    "degdb_spark.server",
    "degdb_spark.pipeline",
    "degdb_spark.queries",
    "degdb_spark.operators.sharded",
    "degdb_spark.operators.bloom",
)
ENTRY_DIRS = ("tools", "perfbench")


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _imported_names(name: str, path: Path):
    """Dotted names an import in ``path`` may refer to: the module
    itself and, for ``from m import x``, ``m.x`` (x may be a submodule)."""
    package = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package[: len(package) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)


def reached_modules() -> set[str]:
    todo = list(ENTRY_MODULES)
    for d in ENTRY_DIRS:
        todo += [f"{d}.{p.stem}" for p in sorted((ROOT / d).glob("*.py"))]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        path = _module_file(name)
        if name in seen or path is None:
            continue
        seen.add(name)
        for imported in _imported_names(name, path):
            parts = imported.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            todo += [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    package = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in (ROOT / "degdb_spark").rglob("*.py")
    }
    assert package - reached_modules() == set()


NODE_MODULES = (
    "degdb_spark/api.py",
    "degdb_spark/server.py",
    "degdb_spark/operators/triplestore.py",
    "degdb_spark/operators/traversal.py",
    "degdb_spark/operators/bloom.py",
    "degdb_spark/operators/sharded.py",
    "degdb_spark/plans/pattern.py",
    "degdb_spark/functions/signing.py",
    "degdb_spark/sources/json_triples.py",
    "degdb_spark/persistence.py",
)

#: public node functions that only tests reach, each with its reason.
#: This list may only shrink.
TEST_ONLY = {
    # the protocol's full ArrayOp query, kept as API surface
    "degdb_spark/api.py::DegDB.query_array_op_json",
    # one peer's keyspace scan; waits on a peer-sync caller
    "degdb_spark/operators/sharded.py::keyspace_query",
}


def _public_defs(path: Path):
    """``Class.method`` and ``function`` names defined at the top level
    of ``path`` whose name has no leading underscore."""
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
            yield node.name, node.name
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for item in node.body:
                if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)) and not item.name.startswith("_"):
                    yield f"{node.name}.{item.name}", item.name


def _used_names() -> set[str]:
    """Every name read as a variable or an attribute outside ``tests/``."""
    used: set[str] = set()
    for path in ROOT.rglob("*.py"):
        if path.relative_to(ROOT).parts[0] == "tests":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    return used


def test_node_functions_reached():
    used = _used_names()
    unused = {
        f"{module}::{qualified}"
        for module in NODE_MODULES
        for qualified, name in _public_defs(ROOT / module)
        if name not in used
    }
    assert unused - TEST_ONLY == set(), "public node functions only tests use"
    assert TEST_ONLY - unused == set(), "now used outside the tests: drop from TEST_ONLY"
