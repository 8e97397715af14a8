"""Every package module is reachable: something outside the tests imports it.

A module counts as used when another package module, ``__spark_entry__.py``
or a script under ``tools/`` imports it.  Imports from tests do not count,
so a module that only its own tests exercise fails here.  AST only, no
Spark.

``PUBLIC_ENTRY_POINTS`` names the few modules that are library surface for
callers outside this repository and that no in-repo job drives; each must
still exist, so a deleted one cannot linger in the list.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "shacl_validator_spark"

PUBLIC_ENTRY_POINTS = {
    # the reference's validate-from-URL workflow (RDFService.ts fetch)
    "shacl_validator_spark.sources.fetch",
    # the Structured Streaming skin over validate + MERGE
    "shacl_validator_spark.streaming",
    "shacl_validator_spark.streaming.dedup",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, modules: set[str]) -> set[str]:
    """Package modules named by the import statements in ``path``."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            # ``from pkg import mod`` imports the submodule ``pkg.mod``
            out.update(f"{base}.{a.name}" for a in node.names)
    # importing a.b.c runs a/__init__ and a/b/__init__ first
    closed = set()
    for m in out:
        parts = m.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return closed & modules


def test_every_package_module_is_imported_outside_tests():
    files = sorted((ROOT / PKG).rglob("*.py"))
    modules = {_module_name(f) for f in files}
    importers = files + [ROOT / "__spark_entry__.py"] + sorted((ROOT / "tools").glob("*.py"))
    used: set[str] = set()
    for f in importers:
        used |= _imported(f, modules) - {_module_name(f)}
    assert PUBLIC_ENTRY_POINTS <= modules, sorted(PUBLIC_ENTRY_POINTS - modules)
    unused = sorted(modules - used - PUBLIC_ENTRY_POINTS)
    assert not unused, f"modules nothing outside tests imports: {unused}"
