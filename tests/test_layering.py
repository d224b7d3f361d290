"""Package layering: the engine (sources/, operators/, streaming/) never
imports the query catalog (plans/). Shared primitives live in
functions/, which both sides may import. And operators/ and streaming/
reach table storage only through the table's FS (``table.fs``), never
through local-filesystem calls."""

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


#: local-filesystem calls that would bypass ``table.fs`` (an object
#: store's Spark paths and listings go through the table's FS seam);
#: every ``shutil`` function counts too
LOCAL_FS_CALLS = {"os.path.exists", "os.listdir", "os.makedirs"}
#: the one module allowed local I/O: it writes a local trace file
LOCAL_FS_EXEMPT = {"operators/trace.py"}


def _local_fs_calls(path: pathlib.Path) -> list[str]:
    """Every call in ``path`` to a ``LOCAL_FS_CALLS`` or ``shutil``
    function, and every import from ``shutil``, as ``name:line``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Call):
            name = ast.unparse(node.func)
            if name in LOCAL_FS_CALLS or name.startswith("shutil."):
                out.append(f"{name}:{node.lineno}")
        elif isinstance(node, ast.ImportFrom) and node.module == "shutil":
            out.append(f"from shutil:{node.lineno}")
    return out


@pytest.mark.parametrize("layer", ("operators", "streaming"))
def test_table_io_goes_through_table_fs(layer):
    files = sorted((PKG / layer).rglob("*.py"))
    assert files
    bad = {rel: calls for f in files
           if (rel := str(f.relative_to(PKG))) not in LOCAL_FS_EXEMPT
           and (calls := _local_fs_calls(f))}
    assert not bad, f"local filesystem calls bypassing table.fs: {bad}"


def test_local_fs_call_detection():
    """The checker itself: the trace writer's makedirs is seen, and a
    module without local I/O has none."""
    assert any(c.startswith("os.makedirs:")
               for c in _local_fs_calls(PKG / "operators" / "trace.py"))
    assert _local_fs_calls(PKG / "operators" / "compare.py") == []
