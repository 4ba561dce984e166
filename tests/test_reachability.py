"""Every module under degdb_spark/ is reached from an entry point.

A static import walk over the AST (every ``import``/``from … import``,
including function-local ones) starts from ``__spark_entry__``, the
benchmark harnesses, the tools and the node's public modules. A package
module the walk never reaches is code that only its own tests run.

``PENDING_DELETION`` names the unreached modules that are still kept,
with their tests, until they are deleted. It may only shrink: an entry
that the walk reaches, or whose file is gone, fails the test too.
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

PENDING_DELETION = frozenset(
    {
        "degdb_spark.functions.skew",
        "degdb_spark.operators.bucketed",
        "degdb_spark.operators.layout",
        "degdb_spark.operators.merge",
        "degdb_spark.sources.documents",
        "degdb_spark.streaming",
        "degdb_spark.streaming.ingest",
    }
)


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
    unreached = package - reached_modules()
    assert unreached - PENDING_DELETION == set()
    assert PENDING_DELETION - unreached == set()
