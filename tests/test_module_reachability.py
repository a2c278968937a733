"""Static guard: every module of the library is used by the program itself.

A module that only tests import is dead code with a test attached. This
check reads the imports of the library, the driver entry, the benchmark
and the tools with `ast` (nothing is imported or run) and requires every
module file under `gfe_db_spark/` to be imported by at least one other
file among them. `gfe_db_spark/__main__.py` is a root: it runs as
`python -m gfe_db_spark`.
"""

from __future__ import annotations

import ast
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
_PKG = "gfe_db_spark"
_ROOTS = {f"{_PKG}.__main__"}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(_REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_modules(path: Path, modules: set[str]) -> set[str]:
    """Every library module (and its parent packages) that `path` imports,
    at module level or inside a function. The library uses absolute
    imports only."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            # `from pkg import mod` imports the module `pkg.mod`
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    reached: set[str] = set()
    for name in names:
        parts = name.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & modules


def test_every_library_module_is_imported_outside_tests():
    files = sorted((_REPO / _PKG).rglob("*.py"))
    modules = {_module_name(f) for f in files}
    importers = [*files, _REPO / "__spark_entry__.py"]
    for extra in ("perfbench", "tools"):
        importers += sorted((_REPO / extra).rglob("*.py"))
    imported: set[str] = set()
    for f in importers:
        imported |= _imported_modules(f, modules) - {_module_name(f)}
    unused = sorted(modules - imported - _ROOTS)
    assert not unused, (
        f"modules imported by no library, entry, perfbench or tools file "
        f"(only tests use them, or nothing does): {unused}"
    )
