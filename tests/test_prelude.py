"""The worker prelude (rust_diskann_spark/prelude.py): every Python task
body starts with ``_task_prelude()``, which drops archives holding no
Python from ``sys.path`` and calls ``gc.freeze()`` once per worker."""

import ast
import gc
import importlib
import importlib.machinery
import os
import sys
import zipfile
from pathlib import Path

import pytest

from rust_diskann_spark import prelude

PKG = Path(prelude.__file__).parent
TASK_METHODS = {"mapInPandas", "applyInPandas", "applyInPandasWithState",
                "foreachPartition"}


@pytest.fixture()
def fresh_worker(monkeypatch):
    """Run the prelude as in a new worker; restore sys.path, the importer
    cache, sys.modules and the freeze state afterwards."""
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = set(sys.modules)
    monkeypatch.setattr(prelude, "_worker_ready", False)
    try:
        yield
    finally:
        gc.unfreeze()
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in files.items():
            zf.writestr(name, body)
    return str(path)


def _cache(p):
    """Build the importer cache entry for ``p`` as a real import would."""
    importlib.machinery.PathFinder.find_spec("rds_no_such_module", [p])


def test_prelude_drops_pyless_archive_and_keeps_python(tmp_path, fresh_worker):
    jar = _zip(tmp_path / "classes.jar",
               {"META-INF/MANIFEST.MF": "x", "org/a/B.class": "x"})
    pyzip = _zip(tmp_path / "lib.zip",
                 {"rdspkg/__init__.py": "", "rdspkg/a.py": "A = 7\n"})
    plain = tmp_path / "plain"
    plain.mkdir()
    sys.path[:0] = [jar, pyzip, str(plain)]
    for p in (jar, pyzip, str(plain)):
        _cache(p)
    assert jar in sys.path_importer_cache

    prelude._task_prelude()

    assert jar not in sys.path and jar not in sys.path_importer_cache
    assert pyzip in sys.path and pyzip in sys.path_importer_cache
    assert str(plain) in sys.path and str(plain) in sys.path_importer_cache
    assert prelude._pyless_archives(sys.path) == []
    assert gc.get_freeze_count() > 0
    assert importlib.import_module("rdspkg.a").A == 7


def test_prelude_keeps_archive_holding_only_pyc(tmp_path, fresh_worker):
    pyc = _zip(tmp_path / "compiled.zip", {"rdspyc/__init__.pyc": b""})
    sys.path.insert(0, pyc)

    prelude._task_prelude()

    assert pyc in sys.path


def test_prelude_second_call_neither_rescans_nor_refreezes(
    tmp_path, fresh_worker
):
    prelude._task_prelude()
    frozen = gc.get_freeze_count()
    late = _zip(tmp_path / "late.jar", {"org/a/B.class": "x"})
    sys.path.insert(0, late)
    keep = [[i] for i in range(1000)]  # new tracked objects to freeze

    prelude._task_prelude()

    assert late in sys.path
    assert gc.get_freeze_count() == frozen
    assert len(keep) == 1000


def test_packed_tasks_run_the_worker_prelude(spark):
    """Each task of a _map_packed job sees its worker with no py-less
    archive on sys.path and its long-lived objects frozen."""
    from rust_diskann_spark.operators.search import _map_packed

    def run_task(t):
        import gc
        import sys

        import pandas as pd

        from rust_diskann_spark.prelude import _pyless_archives

        yield pd.DataFrame({
            "t": [t],
            "pyless": [len(_pyless_archives(sys.path))],
            "frozen": [gc.get_freeze_count()],
        })

    rows = _map_packed(
        spark, 4, run_task, "t BIGINT, pyless BIGINT, frozen BIGINT"
    ).collect()
    assert sorted(r["t"] for r in rows) == [0, 1, 2, 3]
    assert [r["pyless"] for r in rows] == [0, 0, 0, 0]
    assert all(r["frozen"] > 0 for r in rows)


def _task_bodies(tree):
    """(name, FunctionDef | None, lineno) for every function this module
    hands Spark as a Python task body: the first argument of a
    TASK_METHODS call, resolved by name in its enclosing scopes or
    through a factory's ``return``, and every ``pandas_udf``-decorated
    function. None marks an argument that resolves to no def."""
    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def scopes(node):
        while node in parents:
            node = parents[node]
            if isinstance(node, (ast.FunctionDef, ast.Module)):
                yield node

    def local_def(scope, name):
        for node in ast.walk(scope):
            if (isinstance(node, ast.FunctionDef) and node.name == name
                    and next(scopes(node)) is scope):
                return node
        return None

    def resolve(arg, at):
        if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            factory = resolve(arg.func, at)
            rets = [s.value for s in getattr(factory, "body", [])
                    if isinstance(s, ast.Return)]
            return resolve(rets[-1], rets[-1]) if rets else None
        if isinstance(arg, ast.Name):
            for scope in scopes(at):
                found = local_def(scope, arg.id)
                if found is not None:
                    return found
        return None

    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in TASK_METHODS and node.args):
            body = resolve(node.args[0], node)
            yield node.func.attr, body, node.lineno
        if isinstance(node, ast.FunctionDef):
            for dec in node.decorator_list:
                target = dec.func if isinstance(dec, ast.Call) else dec
                name = getattr(target, "attr", getattr(target, "id", None))
                if name == "pandas_udf":
                    yield "pandas_udf", node, node.lineno


def _starts_with_prelude(fn):
    body = fn.body
    if (body and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
            and isinstance(first.value.func, ast.Name)
            and first.value.func.id == "_task_prelude"
            and not first.value.args)


def test_every_task_body_starts_with_the_prelude():
    """A task body that skips the prelude pays the fixed per-task cost
    again: every function the package passes to mapInPandas,
    applyInPandas, applyInPandasWithState, pandas_udf or
    foreachPartition must call _task_prelude() first."""
    found, bad = 0, []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for method, fn, line in _task_bodies(tree):
            where = f"{os.path.relpath(path, PKG)}:{line} ({method})"
            if fn is None:
                bad.append(f"{where}: task body is not a resolvable def")
            elif not _starts_with_prelude(fn):
                bad.append(f"{where}: {fn.name} does not start with "
                           "_task_prelude()")
            found += 1
    assert bad == []
    # the serving, build, dedup, ivf, multimodal, source, streaming and
    # close() task bodies (both residency models share one serving body,
    # _map_packed's); a drop means the scan above stopped seeing them
    assert found >= 22
