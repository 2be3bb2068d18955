"""Python worker daemon entry for the sessions `session.get_spark` builds.

Spark starts one Python daemon per executor (`python -m <module>
<worker module>`) and forks every task's worker from it. The stock daemon
keeps PySpark's archives on ``sys.path``: ``pyspark.zip`` and the
spark-core jar. Every task then runs ``pyspark.worker_util.setup_spark_files``
→ ``importlib.invalidate_caches()``, and on CPython 3.11/3.12 that re-reads
the central directory of every zip importer: one per imported pyspark
package over ``pyspark.zip`` (1,328 entries) plus the jar's (5,359 entries,
no Python). That is ~0.2 s of CPU per task before any user code runs.

This entry rewrites the daemon's ``sys.path`` once (`worker_path`), so its
forked workers import PySpark from the unpacked tree and never hold a zip
importer over either archive, then runs the stock ``pyspark.daemon``.

Importing this module does nothing: ``pkgutil.walk_packages`` over the
package imports it, and only ``python -m`` may start a daemon.
"""

from __future__ import annotations

import os
import sys
import zipfile

_CODE_SUFFIXES = (".py", ".pyc", ".so")


def _unpacked_tree(archive: str) -> str | None:
    """The directory holding a copy of ``archive``'s ``pyspark`` package
    whose ``pyspark/version.py`` is byte-identical to the zip's, or None.

    Candidates: the directory above ``lib/`` (``$SPARK_HOME/python`` in a
    distribution) and, for a pip install (``…/site-packages/pyspark/python/
    lib/pyspark.zip``), the ``site-packages`` directory."""
    python = os.path.dirname(os.path.dirname(archive))
    candidates = [python]
    top = os.path.dirname(python)
    if os.path.basename(python) == "python" and os.path.basename(top) == "pyspark":
        candidates.append(os.path.dirname(top))
    try:
        with zipfile.ZipFile(archive) as z:
            zipped = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    for tree in candidates:
        try:
            with open(os.path.join(tree, "pyspark", "version.py"), "rb") as f:
                if f.read() == zipped:
                    return tree
        except OSError:
            continue
    return None


def _holds_python(archive: str) -> bool:
    """False only for a readable archive with no Python entries."""
    try:
        with zipfile.ZipFile(archive) as z:
            return any(name.endswith(_CODE_SUFFIXES) for name in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


def worker_path(path: list[str]) -> list[str]:
    """``path`` with each ``pyspark.zip`` replaced by its unpacked tree (when
    one matches) and every archive that holds no ``.py``/``.pyc``/``.so``
    dropped. Every other entry is kept, in order."""
    out: list[str] = []
    for entry in path:
        if not (os.path.isfile(entry) and zipfile.is_zipfile(entry)):
            out.append(entry)
        elif os.path.basename(entry) == "pyspark.zip":
            out.append(_unpacked_tree(entry) or entry)
        elif _holds_python(entry):
            out.append(entry)
    return out


if __name__ == "__main__":
    before = list(sys.path)
    sys.path[:] = worker_path(before)
    # `python -m` already made importers for the archives it searched.
    gone = [p for p in before if p not in sys.path]
    inside = tuple(p + os.sep for p in gone)
    for key in list(sys.path_importer_cache):
        if key in gone or key.startswith(inside):
            del sys.path_importer_cache[key]

    from pyspark.daemon import manager

    manager()
