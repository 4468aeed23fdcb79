"""Python-worker start-up: the engine's daemon and the `--py-files` path.

`session.get_spark` runs Python workers through `pyworker` (Spark's daemon
with Spark's zip and jar archives off `sys.path`) only where Spark can import
that module when it starts the daemon; everywhere else Spark keeps its own.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys
import zipfile

import pyarrow as pa
import pyspark

from ocds_entity_extract_spark.pyworker import prune_spark_archives
from ocds_entity_extract_spark.session import _daemon_module
from tools.make_pyfiles import build as build_pyfiles

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_python_workers_run_without_spark_archives(spark):
    def worker_state(batches):
        import sys

        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"path": list(sys.path), "version": pyspark.__version__}]
            )

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInArrow(worker_state, "path array<string>, version string")
        .collect()
    )
    assert rows
    for r in rows:
        names = [os.path.basename(p) for p in r.path]
        assert not [n for n in names if n.endswith(".jar")], r.path
        assert "pyspark.zip" not in names, r.path
        assert not [n for n in names if n.startswith("py4j-") and n.endswith(".zip")], r.path
        assert r.version == pyspark.__version__


def _fake_spark_path(tmp_path, monkeypatch, installed: str | None) -> tuple[list, dict]:
    """A worker-style sys.path: Spark's archives first, then a stand-in
    site-packages that has py4j and, unless `installed` is None, pyspark.
    The finders the pruning creates for these paths go to a throwaway copy
    of `sys.path_importer_cache`."""
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = lib / "pyspark.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = lib / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"")
    site = tmp_path / "site-packages"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(f'__version__: str = "{installed}"\n')
    path = [str(tmp_path), str(pyspark_zip), str(py4j_zip), str(jar), str(site)]
    cache = {str(pyspark_zip): object(), str(pyspark_zip / "pyspark"): object(),
             str(jar): object(), str(site): object()}
    return path, cache


def test_prune_drops_archives_when_installed_pyspark_matches(tmp_path, monkeypatch):
    path, cache = _fake_spark_path(tmp_path, monkeypatch, installed="4.1.2")
    assert prune_spark_archives(path, cache)
    assert path == [str(tmp_path), str(tmp_path / "site-packages")]
    assert list(cache) == [str(tmp_path / "site-packages")]


def test_prune_keeps_path_when_pyspark_is_only_in_the_zip(tmp_path, monkeypatch):
    path, cache = _fake_spark_path(tmp_path, monkeypatch, installed=None)
    before, cache_before = list(path), dict(cache)
    assert not prune_spark_archives(path, cache)
    assert path == before and cache == cache_before


def test_prune_keeps_path_when_installed_version_differs(tmp_path, monkeypatch):
    path, cache = _fake_spark_path(tmp_path, monkeypatch, installed="4.0.0")
    before, cache_before = list(path), dict(cache)
    assert not prune_spark_archives(path, cache)
    assert path == before and cache == cache_before


def test_engine_daemon_only_under_local_master():
    assert _daemon_module("local-cluster[2,1,1536]") is None
    assert _daemon_module("spark://host:7077") is None
    # the suite imports the engine from the repo root, its working directory
    assert _daemon_module("local[2]") == "ocds_entity_extract_spark.pyworker"


def _clean_env() -> dict:
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


def test_spark_daemon_kept_for_engine_imported_from_archive(tmp_path):
    zip_path = build_pyfiles(tmp_path)
    probe = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from ocds_entity_extract_spark.session import _daemon_module;"
        "print(_daemon_module('local[2]'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(zip_path)],
        cwd=tmp_path, env=_clean_env(), capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "None"


def test_pyfiles_submission_from_foreign_cwd(tmp_path):
    """README's cluster-submission command: the engine reaches Spark only
    through `--py-files`, run from a directory without the checkout."""
    zip_path = build_pyfiles(tmp_path)
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    out = subprocess.run(
        [
            os.path.join(spark_home, "bin", "spark-submit"),
            "--master", "local[2]",
            "--py-files", str(zip_path),
            str(ROOT / "tools" / "submit_job.py"), "200",
        ],
        cwd=tmp_path, env=_clean_env(), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "pages=200 triples=1045" in out.stdout, out.stdout
