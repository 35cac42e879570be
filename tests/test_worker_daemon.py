"""The session's Python worker daemon (``paddleocr_spark/worker_daemon.py``):
workers import the installed pyspark with no archive on ``sys.path``,
and the strip rule keeps the JVM's path whenever the installed pyspark
could not stand in for the archived one."""

import json
import os
import sys
import zipfile

import pytest

from paddleocr_spark.worker_daemon import archives_to_strip


def test_session_workers_have_no_archive_on_sys_path(spark):
    assert (spark.sparkContext.getConf().get("spark.python.daemon.module")
            == "paddleocr_spark.worker_daemon")

    def report(batches):
        import os
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"r": [json.dumps({
                "pyspark": pyspark.__file__,
                "files": [p for p in sys.path if os.path.isfile(p)],
                "zipimporters": [
                    k for k, v in sys.path_importer_cache.items()
                    if isinstance(v, zipimport.zipimporter)],
            })]})

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        report, "r string").collect()
    got = json.loads(row.r)
    # outside any archive: every ancestor of the module is a directory
    assert os.path.isfile(got["pyspark"]), got["pyspark"]
    assert got["files"] == []
    assert got["zipimporters"] == []


MATCH, OTHER = '__version__ = "4.1.2"\n', '__version__ = "4.0.0"\n'


def _package(root, name, version=None):
    os.makedirs(root / name)
    (root / name / "__init__.py").write_text("")
    if version is not None:
        (root / name / "version.py").write_text(version)


def _archive(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


@pytest.fixture
def fake_path(tmp_path, monkeypatch):
    """A JVM-style worker path: pyspark and py4j archives, a jar with no
    Python in it, a missing stdlib zip, and a site-packages directory
    filled by each test."""
    # the finder caches every directory it visits; keep the process's own
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    site = tmp_path / "site-packages"
    site.mkdir()
    archives = [
        _archive(tmp_path / "pyspark.zip",
                 {"pyspark/__init__.py": "",
                  "pyspark/version.py": MATCH}),
        _archive(tmp_path / "py4j-src.zip", {"py4j/__init__.py": ""}),
        _archive(tmp_path / "spark-core.jar", {"org/Foo.class": "x"}),
    ]
    path = [str(tmp_path / "cwd"), *archives,
            str(tmp_path / "python311.zip"), str(site)]
    return site, archives, path


@pytest.mark.parametrize("installed, strips", [
    ({"pyspark": MATCH, "py4j": None}, True),
    ({"py4j": None}, False),
    ({"pyspark": MATCH}, False),
    ({"pyspark": OTHER, "py4j": None}, False),
], ids=["installed_matches", "pyspark_only_archived",
        "py4j_only_archived", "installed_version_differs"])
def test_strip_rule(fake_path, installed, strips):
    """Every archive goes, or none does."""
    site, archives, path = fake_path
    for name, version in installed.items():
        _package(site, name, version)
    assert archives_to_strip(path) == (archives if strips else [])
