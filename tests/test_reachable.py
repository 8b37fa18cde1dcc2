"""Every package module is reached from an entry point by imports.

A Spark-free walk over the import graph: parse each module with ``ast``,
follow every ``import`` / ``from ... import`` node (function-local ones
included), and report the ``composable_logs_spark`` modules that no entry
point reaches. A module named only in a docstring or comment is not
reached. Run it alone with ``python -m pytest tests/test_reachable.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "composable_logs_spark"

# The engine's entry points: `__spark_entry__` and the query registry,
# the two CLIs, each layer's public package, the paper features, and
# every perfbench / tools script (added in `unreached`). Nothing else
# belongs here: a module only tests import is dead code, deleted with its
# tests. `queries/__init__.py::_QUERY_MODULES` is read from its AST,
# because `all_queries` loads those modules by name.
ENTRY_MODULES = (
    f"{PKG}.cli",
    f"{PKG}.orchestrator",
    f"{PKG}.plans",
    f"{PKG}.sinks",
    f"{PKG}.spanlog",
    f"{PKG}.spanlog.archive",
    f"{PKG}.operators",
    f"{PKG}.streaming",
    f"{PKG}.functions",
    f"{PKG}.functions.helpers",
    f"{PKG}.orchestrator.env_attrs",
    f"{PKG}.orchestrator.ftp_artifacts",
    f"{PKG}.orchestrator.mlflow_shim",
)


def _package_modules() -> dict[str, Path]:
    out = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _query_modules(modules: dict[str, Path]) -> list[str]:
    tree = ast.parse(modules[f"{PKG}.queries"].read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_QUERY_MODULES" for t in node.targets
        ):
            return [f"{PKG}.queries.{n}" for n in ast.literal_eval(node.value)]
    raise AssertionError("queries/__init__.py defines no _QUERY_MODULES tuple")


def _imports(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports, with the packages that contain them."""
    is_pkg = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                base = ".".join(anchor + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                reached.add(prefix)
    return reached


def unreached() -> dict[str, int]:
    """Map each package module no entry point reaches to its line count."""
    modules = _package_modules()
    todo = [
        (f"<script>.{p.stem}", p)
        for pattern in ("__spark_entry__.py", "perfbench/*.py", "tools/*.py")
        for p in sorted(ROOT.glob(pattern))
    ]
    todo += [(m, modules[m]) for m in (*ENTRY_MODULES, *_query_modules(modules))]
    seen = {m for m, _ in todo}
    while todo:
        name, path = todo.pop()
        for mod in _imports(name, path, modules) - seen:
            seen.add(mod)
            todo.append((mod, modules[mod]))
    return {
        m: len(p.read_text().splitlines())
        for m, p in sorted(modules.items())
        if m not in seen
    }


def test_every_package_module_is_reached():
    dead = unreached()
    assert not dead, "modules no entry point imports:\n" + "\n".join(
        f"  {m} ({n} lines)" for m, n in dead.items()
    )
