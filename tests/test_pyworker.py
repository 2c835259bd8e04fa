"""``etl_8x8_spark.pyworker``: engine sessions start Python workers
whose ``sys.path`` holds none of Spark's archives, so pyspark's
per-task ``importlib.invalidate_caches()`` re-reads no zip directory
(LESSONS #65)."""

from __future__ import annotations

import json
import os
import zipfile

import pyspark

from etl_8x8_spark import session
from etl_8x8_spark.pyworker import plain_path

SITE = os.path.dirname(os.path.dirname(pyspark.__file__))


def _zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _spark_archives(tmp_path, version: str) -> list[str]:
    """Spark's three worker-path entries, in Spark's order."""
    return [
        _zip(tmp_path / "pyspark.zip", {
            "pyspark/__init__.py": "",
            "pyspark/version.py": f"__version__: str = '{version}'\n",
        }),
        _zip(tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/Empty.class": ""}),
    ]


def test_plain_path_drops_spark_archives_and_keeps_a_user_zip(tmp_path):
    spark = _spark_archives(tmp_path, pyspark.__version__)
    user = _zip(tmp_path / "user.zip", {"userlib.py": ""})
    assert plain_path([*spark, user, SITE]) == [user, SITE]


def test_plain_path_unchanged_when_pyspark_only_in_an_archive(tmp_path):
    vendored = _zip(tmp_path / "vendored.zip", {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__ = '{pyspark.__version__}'\n",
        "py4j/__init__.py": "",
    })
    path = [*_spark_archives(tmp_path, pyspark.__version__), vendored]
    assert plain_path(path) == path


def test_plain_path_unchanged_when_versions_differ(tmp_path):
    path = [*_spark_archives(tmp_path, "0.0.0"), SITE]
    assert plain_path(path) == path


def test_worker_needs_the_engine_on_its_path(tmp_path, monkeypatch):
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    assert not session.worker_finds_engine()
    monkeypatch.setenv("PYTHONPATH", os.path.dirname(os.path.dirname(session.__file__)))
    assert session.worker_finds_engine()


def test_engine_worker_imports_nothing_from_an_archive(spark):
    def state(batches):
        import sys
        import zipimport

        import pandas as pd
        import py4j
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({"s": [json.dumps({
            "archives": [p for p in sys.path if os.path.isfile(p) and zipfile.is_zipfile(p)],
            "zipimporters": [k for k, v in sys.path_importer_cache.items()
                             if isinstance(v, zipimport.zipimporter)],
            "files": [pyspark.__file__, py4j.__file__],
        })]})

    row = spark.range(1, numPartitions=1).mapInPandas(state, "s string").first()
    got = json.loads(row.s)
    assert got["archives"] == []
    assert got["zipimporters"] == []
    assert all(os.path.isfile(f) for f in got["files"]), got["files"]
