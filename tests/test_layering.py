"""Package layering: operators/ and streaming/ reach table storage
only through the table's FS (``table.fs``), never through
local-filesystem calls. Every package module has an importer inside
the package. No engine, function or CLI module imports a name it never
uses. Only sources/lakebase.py names Spark's xxhash64: the merge-key
hash has one owner."""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "yadamu___yet_another_data_migration_utility_spark")
ENGINE = ("sources", "operators", "streaming")


def _imported_modules(path: pathlib.Path) -> list[str]:
    """Every module an import statement in ``path`` names, resolved to
    a dotted name relative to the package root. ``from m import n``
    names ``m`` and ``m.n``: ``n`` may be a submodule."""
    rel = path.relative_to(PKG).with_suffix("").parts
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = rel[: len(rel) - node.level] if node.level else ()
            mod = ".".join([*base, *([node.module] if node.module else [])])
            out += ([mod] if node.module else []) + [
                f"{mod}.{a.name}" if mod else a.name for a in node.names]
    return out


def test_import_resolution():
    """The checker itself: in an engine module, a relative import
    resolves against the module's place in the package (``..`` and
    ``.`` alike) and an absolute one keeps its own name."""
    apply = _imported_modules(PKG / "operators" / "apply.py")
    assert {"functions.extract", "sources.laketable", "operators.trace",
            "pyspark.sql", "numpy"} <= set(apply)


def _orphan_modules() -> list[str]:
    """Every package module other than an ``__init__`` or ``__main__``
    that no other package module imports, as a dotted name relative to
    the package root."""
    mods = {".".join(f.relative_to(PKG).with_suffix("").parts): f
            for f in PKG.rglob("*.py")}
    imported = {m.removeprefix(PKG.name + ".")
                for name, f in mods.items()
                for m in _imported_modules(f) if m != name}
    return sorted(n for n in mods if n not in imported
                  and n.rsplit(".", 1)[-1] not in ("__init__", "__main__"))


def test_every_module_has_an_importer():
    """A module whose only consumer is gone is deleted with it: every
    package module other than an ``__init__`` or ``__main__`` is
    imported by another one (the CLI itself through ``__main__``)."""
    assert _orphan_modules() == []


def test_orphan_module_detection(tmp_path, monkeypatch):
    """The checker itself, on a throwaway package: a module imported
    only by ``__init__``, ``__main__`` or an orphan, or as a name in
    ``from package import module``, still has an importer; one that
    nothing imports, or only itself, is an orphan."""
    pkg = tmp_path / "pkg"
    for rel, text in {
        "__init__.py": "from .a import x\n",
        "__main__.py": "from .cli import main\n",
        "cli.py": "import os\nfrom pkg.sub import b\n",
        "a.py": "x = 1\n",
        "lone.py": "from . import lone\n",
        "sub/__init__.py": "",
        "sub/b.py": "",
        "sub/c.py": "from ..a import x\nfrom .d import y\n",
        "sub/d.py": "y = 1\n",
    }.items():
        (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
        (pkg / rel).write_text(text)
    monkeypatch.setitem(globals(), "PKG", pkg)
    assert _orphan_modules() == ["lone", "sub.c"]


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


#: deliberate unused imports: each package ``__init__`` re-exports its
#: public names, and laketable.py re-exports the names the pre-split
#: module defined in one documented ``from .lakebase import`` block
REEXPORT_BLOCKS = {"sources/laketable.py": "lakebase"}


def _unused_imports(path: pathlib.Path, exempt_module: str | None = None
                    ) -> list[str]:
    """Every name an import statement in ``path`` binds that the module
    never reads, as ``name:line``. A name read only inside a string
    annotation counts as read. Names imported ``from .<exempt_module>``
    are skipped."""
    tree = ast.parse(path.read_text(), str(path))
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        notes = ([node.returns] if isinstance(node, ast.FunctionDef) else
                 [node.annotation] if isinstance(node, (ast.arg, ast.AnnAssign))
                 else [])
        for s in (c for a in notes if a is not None for c in ast.walk(a)
                  if isinstance(c, ast.Constant) and isinstance(c.value, str)):
            used |= {n.id for n in ast.walk(ast.parse(s.value, mode="eval"))
                     if isinstance(n, ast.Name)}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
                node.module == "__future__"
                or (node.level and node.module == exempt_module)):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            out += [f"{name}:{node.lineno}" for a in node.names
                    if (name := a.asname or a.name.split(".")[0]) not in used]
    return out


@pytest.mark.parametrize(
    "layer", ENGINE + ("functions", "fixtures", "session.py", "cli.py"))
def test_engine_modules_import_no_unused_names(layer):
    path = PKG / layer
    files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
    assert all(f.is_file() for f in files) and files
    bad = {rel: names for f in files
           if f.name != "__init__.py"
           and (names := _unused_imports(
               f, REEXPORT_BLOCKS.get(rel := str(f.relative_to(PKG)))))}
    assert not bad, f"imported names never used: {bad}"


def test_unused_import_detection(tmp_path):
    """The checker itself: an unused import is caught, a name read in
    code or only in a string annotation is not, and laketable's
    re-export block is exempt only when named."""
    mod = tmp_path / "m.py"
    mod.write_text("import os\nimport json\nfrom x import (a, b)\n"
                   "def f(t: 'b.T') -> None:\n    return json.dumps(a)\n")
    assert _unused_imports(mod) == ["os:1"]
    laketable = PKG / "sources" / "laketable.py"
    assert any(n.startswith("_resolve:") for n in _unused_imports(laketable))
    assert _unused_imports(laketable, "lakebase") == []


#: the one engine module that may name Spark's xxhash64: it owns the
#: merge-key hash that bucket placement, the bloom index and the
#: in-process lookup and apply share, so that contract cannot split
KEY_HASH_OWNER = "sources/lakebase.py"


def _xxhash64_lines(path: pathlib.Path) -> list[int]:
    """The lines of ``path`` that name xxhash64 (code, SQL text,
    comment or docstring)."""
    return [i for i, line in enumerate(path.read_text().splitlines(), 1)
            if "xxhash64" in line]


def test_only_lakebase_names_the_key_hash():
    bad = {rel: lines for layer in ENGINE
           for f in sorted((PKG / layer).rglob("*.py"))
           if (rel := str(f.relative_to(PKG))) != KEY_HASH_OWNER
           and (lines := _xxhash64_lines(f))}
    assert not bad, f"xxhash64 named outside {KEY_HASH_OWNER}: {bad}"


def test_key_hash_name_detection(tmp_path):
    """The checker itself: a call and a SQL string are both caught, and
    the owner does name the hash."""
    mod = tmp_path / "m.py"
    mod.write_text("from pyspark.sql import functions as F\n"
                   "a = F.xxhash64('k')\nb = F.expr('pmod(xxhash64(k), 4)')\n")
    assert _xxhash64_lines(mod) == [2, 3]
    assert _xxhash64_lines(PKG / KEY_HASH_OWNER)
    assert _xxhash64_lines(PKG / "sources" / "bloomindex.py") == []
