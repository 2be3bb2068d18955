"""The worker-launch layer: get_spark's Python workers start from
`pyworker`, which imports PySpark from its unpacked tree and drops
archives that hold no Python, so no task re-reads a zip directory."""

import importlib
import os
import sys
import zipfile

from distributed_deep_learning_with_apache_spark_spark import pyworker
from distributed_deep_learning_with_apache_spark_spark.pyworker import worker_path

VERSION = b'__version__: str = "9.9.9"\n'


def _zip(path, members):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _tree(root, version=VERSION):
    os.makedirs(os.path.join(root, "pyspark"), exist_ok=True)
    with open(os.path.join(root, "pyspark", "version.py"), "wb") as f:
        f.write(version)
    return str(root)


def _pyspark_zip(path):
    return _zip(path, {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})


def test_worker_tasks_hold_no_zip_importer_over_pyspark_or_code_free_archives(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        archives = sorted(
            {v.archive for v in sys.path_importer_cache.values() if isinstance(v, zipimport.zipimporter)}
        )
        return [(pyspark.__file__, archives)]

    for pyspark_file, archives in spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect():
        assert ".zip" + os.sep not in pyspark_file, pyspark_file
        for archive in archives:
            assert os.path.basename(archive) != "pyspark.zip", archives
            with zipfile.ZipFile(archive) as z:
                assert any(n.endswith((".py", ".pyc", ".so")) for n in z.namelist()), archive


def test_distribution_zip_is_replaced_by_its_matching_tree(tmp_path):
    home = tmp_path / "spark" / "python"
    archive = _pyspark_zip(home / "lib" / "pyspark.zip")
    _tree(home)
    assert worker_path(["/cwd", archive, "/site"]) == ["/cwd", str(home), "/site"]


def test_pip_zip_is_replaced_by_site_packages(tmp_path):
    site = tmp_path / "site-packages"
    archive = _pyspark_zip(site / "pyspark" / "python" / "lib" / "pyspark.zip")
    _tree(site)
    assert worker_path([archive, "/other"]) == [str(site), "/other"]


def test_zip_is_kept_without_a_tree_or_with_a_different_version(tmp_path):
    archive = _pyspark_zip(tmp_path / "python" / "lib" / "pyspark.zip")
    assert worker_path([archive]) == [archive]
    _tree(tmp_path / "python", version=b'__version__: str = "9.9.8"\n')
    assert worker_path([archive]) == [archive]


def test_archive_with_python_is_kept_and_one_without_is_dropped(tmp_path):
    core = _zip(tmp_path / "core.jar", {"org/apache/Foo.class": b"\xca\xfe"})
    graphframes = _zip(tmp_path / "graphframes.jar", {"org/G.class": b"", "graphframes/__init__.py": b""})
    native = _zip(tmp_path / "native.zip", {"ext/_fast.so": b""})
    missing = str(tmp_path / "absent.zip")
    assert worker_path([core, graphframes, native, missing, str(tmp_path)]) == [
        graphframes,
        native,
        missing,
        str(tmp_path),
    ]


def test_importing_the_entry_module_changes_nothing():
    name = pyworker.__name__
    path, cache = list(sys.path), dict(sys.path_importer_cache)
    had_daemon = "pyspark.daemon" in sys.modules
    saved = sys.modules.pop(name)
    try:
        importlib.import_module(name)
        assert sys.path == path
        assert sys.path_importer_cache == cache
        assert ("pyspark.daemon" in sys.modules) == had_daemon
    finally:
        sys.modules[name] = saved
        setattr(sys.modules[name.rpartition(".")[0]], "pyworker", saved)
