"""Keep a benchmark run inside its own work directory.

The engine writes fixture-keyed caches (IVF index, PQ codes, band index,
lake snapshot, bucketed tables, PNG/PNGV/WAV corpora) under fixed
``/tmp/ddl_spark_*`` roots, and its lifecycle operators stage files with
``tempfile.mkdtemp``. A run redirects all of them, plus Spark's local and
JVM temp dirs, under one work directory that it creates empty and removes
at exit, so every run starts with every cache absent.
"""

from __future__ import annotations

import os
import sys
import tempfile
import types

PACKAGE = "distributed_deep_learning_with_apache_spark_spark"
_CACHE_PREFIX = "/tmp/ddl_spark_"


def prepare_env(work: str, cpus: int, driver_mem: str) -> None:
    """Point every temp and scratch location at ``work``. Must run before
    the first SparkSession is built (the JVM reads these at launch)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Python workers import the package by reference.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )


def redirect_caches(cache_root: str) -> list[str]:
    """Rebind every ``/tmp/ddl_spark_*`` module constant of the engine, and
    every function default that captured one, to ``cache_root``. Returns
    the constant names that were moved."""
    import importlib
    import pkgutil

    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        importlib.import_module(info.name)
    moved = []
    for name, mod in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")) or mod is None:
            continue
        remap = {}
        for attr, val in list(vars(mod).items()):
            if isinstance(val, str) and val.startswith(_CACHE_PREFIX):
                new = os.path.join(cache_root, os.path.basename(val))
                remap[val] = new
                setattr(mod, attr, new)
                moved.append(f"{name}.{attr}")
        if not remap:
            continue
        for val in list(vars(mod).values()):
            funcs = [val]
            if isinstance(val, type):
                funcs = [v for v in vars(val).values() if isinstance(v, types.FunctionType)]
            for fn in funcs:
                if isinstance(fn, types.FunctionType) and fn.__defaults__:
                    fn.__defaults__ = tuple(remap.get(d, d) if isinstance(d, str) else d for d in fn.__defaults__)
    return sorted(moved)
