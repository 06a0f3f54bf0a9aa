"""Every package module is reached from a run path.

The static import graph (``ast``, imports inside functions included) is
walked from the entry points: the CLI, ``TlcPipeline``, ``CurateJob``,
the three plan modules, the driver contract, ``bench.py`` and the
streaming faces.  A module no entry point imports is code only tests
run; it fails here until a run path uses it or it is deleted."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "nyc_tlc_analytics_pipeline_spark"
ENTRY_MODULES = (
    f"{PKG}.cli",
    f"{PKG}.pipeline",
    f"{PKG}.curate",
    f"{PKG}.plans.catalog",
    f"{PKG}.plans.catalog_datapipe",
    f"{PKG}.plans.analytics",
)
ENTRY_SCRIPTS = ("__spark_entry__.py", "bench.py")


def _package_modules() -> dict[str, Path]:
    out = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imports(path: Path, module: str, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports, and the packages above them."""
    is_pkg = path.name == "__init__.py"
    package = module if is_pkg else module.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0] if node.level > 1 else package
                base = f"{anchor}.{base}" if base else anchor
            found.add(base)
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for name in found:
        while name:
            if name in modules:
                reached.add(name)
            name = name.rpartition(".")[0]
    return reached


def test_every_package_module_is_reached_from_a_run_path():
    modules = _package_modules()
    roots = set(ENTRY_MODULES)
    roots.update(m for m in modules if m == f"{PKG}.streaming" or m.startswith(f"{PKG}.streaming."))
    assert roots <= modules.keys(), roots - modules.keys()
    reached = set()
    todo = [(modules[m], m) for m in roots]
    todo += [(ROOT / s, s.removesuffix(".py")) for s in ENTRY_SCRIPTS]
    while todo:
        path, name = todo.pop()
        reached.add(name)
        for dep in _imports(path, name, modules) - reached:
            reached.add(dep)
            todo.append((modules[dep], dep))
    assert sorted(modules.keys() - reached) == []
