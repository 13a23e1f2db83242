"""The worker-side zipimporter trim: the helper keeps imports from zip
archives working (Spark-free), and every mapInArrow/mapInPandas kernel in
the package goes through worker_kernel."""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

from quad_processor_util_spark.session import drop_zip_finders, worker_kernel

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "quad_processor_util_spark"


def _zip_finders():
    return [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "kernels.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zk_mod.py", "def f():\n    return 'mod'\n")
        zf.writestr("zk_pkg/__init__.py", "")
        zf.writestr("zk_pkg/early.py", "VALUE = 'early'\n")
        zf.writestr("zk_pkg/late.py", "VALUE = 'late'\n")
    sys.path.insert(0, str(archive))
    try:
        mod = importlib.import_module("zk_mod")
        early = importlib.import_module("zk_pkg.early")
        assert _zip_finders()

        drop_zip_finders()
        assert not _zip_finders()
        # imported modules keep their loaders
        assert mod.f() == "mod" and early.VALUE == "early"
        assert importlib.reload(mod).f() == "mod"
        # an import after the drop re-creates the finder it needs
        assert importlib.import_module("zk_pkg.late").VALUE == "late"
        # invalidate_caches (what every Python task starts with) is safe
        importlib.invalidate_caches()
        drop_zip_finders()
        assert not _zip_finders()
    finally:
        sys.path.remove(str(archive))
        for name in ("zk_mod", "zk_pkg", "zk_pkg.early", "zk_pkg.late"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_worker_kernel_drops_finders_then_runs_the_kernel(tmp_path):
    def kernel(batches):
        for b in batches:
            yield b * 2

    archive = tmp_path / "empty.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zk_empty.py", "")
    sys.path_importer_cache[str(archive)] = zipimport.zipimporter(
        str(archive))
    try:
        wrapped = worker_kernel(kernel)
        assert wrapped.__name__ == "kernel"
        assert list(wrapped(iter([1, 2]))) == [2, 4]
        assert str(archive) not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(str(archive), None)


def _map_calls():
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInArrow", "mapInPandas")):
                yield path.relative_to(PACKAGE.parent), node


def test_every_map_kernel_is_wrapped():
    calls = list(_map_calls())
    assert len(calls) >= 17, calls
    for path, node in calls:
        fn = node.args[0] if node.args else next(
            (k.value for k in node.keywords if k.arg == "func"), None)
        assert (isinstance(fn, ast.Call) and isinstance(fn.func, ast.Name)
                and fn.func.id == "worker_kernel"), \
            f"{path}:{node.lineno} passes an unwrapped kernel"
