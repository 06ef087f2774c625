"""Python-worker set-up: the stamped ``zipimporter.invalidate_caches``
that ``cuckoofilter_spark`` installs once per process (_worker_env)."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from cuckoofilter_spark import _worker_env

EAGER = "_read_directory" in _worker_env._eager_invalidate.__code__.co_names


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr("zwpkg/__init__.py", "")
        for name, src in modules.items():
            z.writestr(f"zwpkg/{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip package ``zwpkg`` on sys.path and a counter of directory
    reads of that archive."""
    path = str(tmp_path / "zwpkg.zip")
    _write_zip(path, {"a": "X = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for mod in ("zwpkg", "zwpkg.a", "zwpkg.b"):
        sys.modules.pop(mod, None)
    zipimport._zip_directory_cache.pop(path, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def test_installed_only_over_the_eager_implementation():
    installed = (zipimport.zipimporter.invalidate_caches
                 is _worker_env._stamped_invalidate_caches)
    assert installed == EAGER


def test_second_import_is_a_no_op():
    code = ("import importlib, zipimport\n"
            "import cuckoofilter_spark._worker_env as w\n"
            "f = zipimport.zipimporter.invalidate_caches\n"
            "importlib.reload(w)\n"
            "assert zipimport.zipimporter.invalidate_caches is f\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], check=True, cwd=root,
                   timeout=120)


def test_unchanged_archive_is_not_reread(zip_pkg):
    _, reads = zip_pkg
    from zwpkg.a import X
    assert X == 1
    importlib.invalidate_caches()  # an importer's first call may read
    reads.clear()
    for _ in range(10):
        importlib.invalidate_caches()
    assert reads == []


def test_changed_archive_is_reread(zip_pkg):
    path, reads = zip_pkg
    import zwpkg.a  # noqa: F401
    importlib.invalidate_caches()
    reads.clear()
    _write_zip(path, {"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    from zwpkg.b import Y
    assert Y == 2
    assert len(reads) >= 1


def test_worker_process_has_the_fix(spark):
    import pandas as pd

    def probe(batches):
        import zipimport

        import cuckoofilter_spark  # noqa: F401
        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"mod": [fn.__module__],
                                "pid": [os.getpid()]})

    rows = spark.range(1).mapInPandas(probe, "mod string, pid long").collect()
    assert rows[0]["pid"] != os.getpid()
    want = "cuckoofilter_spark._worker_env" if EAGER else "zipimport"
    assert rows[0]["mod"] == want
