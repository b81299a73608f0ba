"""Python worker daemon that runs on the installed pyspark.

Spark starts its worker daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar at the head of ``sys.path``.  Every
task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), which makes each zipimporter
re-read its archive's central directory: 120-230 ms per task on CPython
3.11.  When the interpreter already has the same pyspark and py4j
installed, this daemon drops those archives from the path before it
imports pyspark, so the forked workers import the installed copy and
the per-task re-read is gone.  Selected by ``spark.python.daemon.module``
(``tsengine.session.get_spark``).
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__[^=]*=\s*["']([^"']+)["']""")


def trimmed_path(path: list[str], spark_home: str) -> list[str]:
    """``path`` without the ``.zip``/``.jar`` entries under ``spark_home``.

    ``path[0]`` is always kept.  Returns ``path`` unchanged unless the
    trimmed path still resolves ``pyspark`` and ``py4j``, and, when
    ``spark_home`` ships ``python/lib/pyspark.zip``, unless that zip and
    the pyspark the trimmed path finds carry the same ``__version__``.
    """
    root = os.path.join(os.path.realpath(spark_home), "")
    keep = path[:1] + [
        p
        for p in path[1:]
        if not (p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(root))
    ]
    if len(keep) == len(path):
        return list(path)
    specs = [importlib.machinery.PathFinder.find_spec(m, keep) for m in ("pyspark", "py4j")]
    if None in specs:
        return list(path)
    shipped = os.path.join(spark_home, "python", "lib", "pyspark.zip")
    if os.path.exists(shipped):
        installed = os.path.join(specs[0].submodule_search_locations[0], "version.py")
        try:
            with zipfile.ZipFile(shipped) as z, open(installed) as fh:
                shipped_v = _VERSION.findall(z.read("pyspark/version.py").decode())
                installed_v = _VERSION.findall(fh.read())
        except (OSError, KeyError, zipfile.BadZipFile):
            return list(path)
        if not shipped_v or shipped_v != installed_v:
            return list(path)
    return keep


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        keep = trimmed_path(sys.path, spark_home)
        for p in set(sys.path) - set(keep):
            sys.path_importer_cache.pop(p, None)
        sys.path[:] = keep
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
