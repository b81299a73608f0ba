"""``tsengine.worker_daemon.trimmed_path``: which entries leave a Python
worker's path, and when the path stays as Spark built it.  No Spark
session: the Spark home, its pyspark.zip and the installed packages are
fakes under ``tmp_path``."""

from __future__ import annotations

import os
import zipfile

import pytest

from tsengine.worker_daemon import trimmed_path


def _package(parent, name: str, version: str | None = None) -> None:
    pkg = parent / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')


@pytest.fixture
def host(tmp_path):
    """A Spark home with its archives, a site dir with pyspark and py4j
    installed, and the worker path Spark starts its daemon with."""
    spark_home = tmp_path / "spark"
    lib = spark_home / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    jars = spark_home / "jars"
    jars.mkdir()
    with zipfile.ZipFile(jars / "spark-core.jar", "w") as z:
        z.writestr("org/Empty.class", "")
    site = tmp_path / "site"
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j")
    user_zip = tmp_path / "user" / "deps.zip"
    user_zip.parent.mkdir()
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("deps/__init__.py", "")
    path = [
        str(tmp_path / "cwd"),
        str(user_zip),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-src.zip"),
        str(jars / "spark-core.jar"),
        str(site),
    ]
    return spark_home, site, path


def test_drops_only_the_archives_under_spark_home(host):
    spark_home, site, path = host
    assert trimmed_path(path, str(spark_home)) == [path[0], path[1], str(site)]


def test_follows_a_symlinked_spark_home(host, tmp_path):
    spark_home, site, path = host
    link = tmp_path / "spark-link"
    os.symlink(spark_home, link)
    linked = [p.replace(str(spark_home), str(link)) for p in path]
    assert trimmed_path(linked, str(spark_home)) == [path[0], path[1], str(site)]
    assert trimmed_path(path, str(link)) == [path[0], path[1], str(site)]


def test_keeps_the_first_entry(host):
    spark_home, site, path = host
    first = str(spark_home / "jars" / "spark-core.jar")
    assert trimmed_path([first] + path[1:], str(spark_home)) == [first, path[1], str(site)]


def _drop_py4j(site, path):
    (site / "py4j" / "__init__.py").unlink()
    (site / "py4j").rmdir()
    return path


def _other_version(site, path):
    (site / "pyspark" / "version.py").write_text('__version__: str = "4.0.0"\n')
    return path


@pytest.mark.parametrize(
    "breakage",
    [
        _drop_py4j,
        _other_version,
        lambda site, path: path[:-1],  # pyspark and py4j not installed
        lambda site, path: path[:1] + path[-1:],  # no Spark archives on the path
    ],
    ids=["py4j_missing", "versions_differ", "not_installed", "nothing_to_drop"],
)
def test_unchanged_unless_the_installed_copy_can_replace_the_archives(host, breakage):
    spark_home, site, path = host
    path = breakage(site, path)
    assert trimmed_path(path, str(spark_home)) == path
