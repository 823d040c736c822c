"""``pydaemon.worker_path``: the worker's ``sys.path`` rewrite, on a
fake Spark layout (no Spark, no JVM). Spark's archives may leave the
path only when the installed pyspark and py4j shadow them; in every
other case the path stays exactly as the JVM built it."""

from __future__ import annotations

import zipfile

import pytest

from monday_etl_automation_spark.pydaemon import worker_path


def _archive(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _package(root, name: str, version: str | None = None) -> None:
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f"__version__: str = '{version}'\n")


def _layout(tmp_path, installed: str | None, py4j: bool = True) -> tuple[list[str], dict[str, str]]:
    """The JVM's worker path over Spark 4.1.2's archives, with a
    site-packages holding pyspark ``installed`` (None: no pyspark) and,
    when ``py4j``, py4j."""
    lib = tmp_path / "spark"
    lib.mkdir()
    site = tmp_path / "site-packages"
    site.mkdir()
    stdlib = tmp_path / "stdlib"
    stdlib.mkdir()
    if installed is not None:
        _package(site, "pyspark", installed)
    if py4j:
        _package(site, "py4j")
    entries = {
        "cwd": str(tmp_path),
        "pyspark_zip": _archive(
            lib / "pyspark.zip",
            {"pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '4.1.2'\n"},
        ),
        "py4j_zip": _archive(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": "", "LICENSE.txt": ""}),
        "core_jar": _archive(lib / "spark-core_2.13-4.1.2.jar", {"org/apache/spark/SparkContext.class": ""}),
        "deps_zip": _archive(lib / "deps.zip", {"mylib/__init__.py": "", "pyspark/extra.py": ""}),
        "stdlib_zip": str(tmp_path / "python311.zip"),  # listed by CPython, absent on disk
        "stdlib": str(stdlib),
        "site": str(site),
    }
    return list(entries.values()), entries


def test_installed_pyspark_shadows_sparks_archives(tmp_path):
    """Matching versions: the archives holding only pyspark/py4j and
    the jar (no Python) leave the path; every other entry keeps its
    place, including an archive with a module of its own."""
    path, e = _layout(tmp_path, installed="4.1.2")
    assert worker_path(path) == [e["cwd"], e["deps_zip"], e["stdlib_zip"], e["stdlib"], e["site"]]


@pytest.mark.parametrize(
    "installed, py4j",
    [(None, True), ("4.1.1", True), ("4.1.2.dev0", True), ("4.1.2", False)],
    ids=["no_pyspark", "older_pyspark", "dev_pyspark", "no_py4j"],
)
def test_archives_stay_first_without_a_matching_install(tmp_path, installed, py4j):
    """A node with only Spark's archives (the cluster case) or with a
    pyspark of another version keeps the JVM's path and order: the
    archives stay ahead of the directories."""
    path, _ = _layout(tmp_path, installed=installed, py4j=py4j)
    assert worker_path(path) == path


def test_unreadable_version_keeps_the_path(tmp_path):
    """An installed pyspark with no readable ``version.py`` cannot be
    matched to the archive, so nothing moves."""
    path, _ = _layout(tmp_path, installed="4.1.2")
    (tmp_path / "site-packages" / "pyspark" / "version.py").unlink()
    assert worker_path(path) == path
