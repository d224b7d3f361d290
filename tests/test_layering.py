"""Package layering: the engine (sources/, operators/, streaming/) never
imports the query catalog (plans/). Shared primitives live in
functions/, which both sides may import."""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "yadamu___yet_another_data_migration_utility_spark")
ENGINE = ("sources", "operators", "streaming")


def _imported_modules(path: pathlib.Path) -> list[str]:
    """Every module an import statement in ``path`` names, resolved to
    a dotted name relative to the package root."""
    rel = path.relative_to(PKG).with_suffix("").parts
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = list(rel[: len(rel) - node.level])
                mod = ".".join(base + ([node.module] if node.module else []))
                out += [mod] if node.module else [
                    ".".join(base + [a.name]) for a in node.names]
            else:
                out.append(node.module or "")
    return out


def _is_plans(mod: str) -> bool:
    parts = mod.split(".")
    if parts[0] == PKG.name:
        parts = parts[1:]
    return bool(parts) and parts[0] == "plans"


@pytest.mark.parametrize("layer", ENGINE)
def test_engine_layer_does_not_import_plans(layer):
    files = sorted((PKG / layer).rglob("*.py"))
    assert files
    bad = {str(f.relative_to(PKG)): mods for f in files
           if (mods := [m for m in _imported_modules(f) if _is_plans(m)])}
    assert not bad, f"engine modules importing plans/: {bad}"


def test_import_resolution_sees_plans_imports():
    """The checker itself: a relative and an absolute plans import
    are both caught, a functions import is not."""
    assert _is_plans("plans.textops")
    assert _is_plans(f"{PKG.name}.plans")
    assert not _is_plans("functions.minhash")
    textops = _imported_modules(PKG / "plans" / "moreops.py")
    assert "plans.textops" in textops and "plans.catalog" in textops
