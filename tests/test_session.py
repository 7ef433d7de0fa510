"""Guards for ``session.prune_zip_importers``: it drops exactly the
cached zip importers without breaking later imports from the archive,
and every Arrow kernel body in the package calls it first."""

from __future__ import annotations

import ast
import importlib
import sys
import zipfile
import zipimport
from pathlib import Path

from ecov003_l2t_stars_spark.session import prune_zip_importers

PKG = Path(__file__).resolve().parents[1] / "ecov003_l2t_stars_spark"
_KERNEL_METHODS = {"mapInPandas", "applyInPandas"}


def _zip_entries(archive: str) -> list[str]:
    return [
        p for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter) and p.startswith(archive)
    ]


def test_prune_drops_zip_importers_and_keeps_zip_imports(tmp_path):
    archive = str(tmp_path / "zpkg_archive.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/first.py", "VALUE = 1\n")
        z.writestr("zpkg/sub/second.py", "VALUE = 2\n")
    sys.path.insert(0, archive)
    try:
        first = importlib.import_module("zpkg.sub.first")
        assert first.VALUE == 1
        assert _zip_entries(archive), "importing from a zip caches importers"
        prune_zip_importers()
        assert _zip_entries(archive) == []
        assert not any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        second = importlib.import_module("zpkg.sub.second")
        assert second.VALUE == 2
        assert second.__file__.startswith(archive)
    finally:
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        prune_zip_importers()


def _calls_prune_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        body and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    if not body or not isinstance(body[0], ast.Expr):
        return False
    call = body[0].value
    return (
        isinstance(call, ast.Call)
        and isinstance(call.func, ast.Name)
        and call.func.id == "prune_zip_importers"
        and not call.args
    )


def _is_pandas_udf(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return isinstance(target, ast.Name) and target.id == "pandas_udf"


def test_every_arrow_kernel_prunes_first():
    """Every function the package passes to ``mapInPandas`` or
    ``applyInPandas``, and every ``pandas_udf`` it defines, calls
    ``prune_zip_importers()`` as its first statement."""
    checked: list[str] = []
    missing: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs: dict[str, list[ast.FunctionDef]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                defs.setdefault(node.name, []).append(node)
        kernels = [
            fn for fns in defs.values() for fn in fns
            if any(_is_pandas_udf(d) for d in fn.decorator_list)
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _KERNEL_METHODS
            ):
                arg = node.args[0]
                where = f"{path.name}:{node.lineno}"
                assert isinstance(arg, ast.Name), (
                    f"{where}: kernel is not a named function"
                )
                assert arg.id in defs, f"{where}: {arg.id} not defined here"
                kernels += defs[arg.id]
        for fn in kernels:
            name = f"{path.relative_to(PKG)}:{fn.name}:{fn.lineno}"
            checked.append(name)
            if not _calls_prune_first(fn):
                missing.append(name)
    assert missing == []
    names = {c.split(":")[1] for c in checked}
    assert {"enc", "dec", "run_batch", "_probe", "gen"} <= names
    assert len(set(checked)) >= 18
