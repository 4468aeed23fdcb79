"""Session start-up: the driver JVM's class-data archive, the engine's
Python-worker daemon and the `--py-files` path.

`session.get_spark` starts a driver JVM it launches from a JDK class-data
archive where Spark's class path allows one, and runs Python workers through
`pyworker` (Spark's daemon with Spark's zip and jar archives off `sys.path`)
only where Spark can import that module when it starts the daemon;
everywhere else Spark keeps its own.
"""

from __future__ import annotations

import itertools
import os
import pathlib
import shutil
import subprocess
import sys
import time
import types
import zipfile

import pyarrow as pa
import pyspark
import pytest

from ocds_entity_extract_spark.pyworker import prune_spark_archives
from ocds_entity_extract_spark.session import (
    _ARCHIVE_DIR,
    _ARCHIVE_MAGIC,
    _CLASSPATH_ENV,
    _archive_key,
    _daemon_module,
    _driver_launch,
    _master_cores,
    _publish_archive,
)
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


def test_master_cores():
    assert _master_cores("local", 16) == 1
    assert _master_cores("local[3]", 16) == 3
    assert _master_cores("local[*]", 16) == 16
    assert _master_cores("local-cluster[4,2,2560]", 16) == 8
    assert _master_cores("spark://host:7077", 16) == 16
    assert _master_cores("yarn", 16) == 16


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


# --- the driver JVM's class-data archive ---------------------------------

_SESSION = (
    "import sys; sys.path.insert(0, sys.argv[1]);"
    "from ocds_entity_extract_spark.session import get_spark;"
    "spark = get_spark('cds-test', master='local[1]');"
    "print('rows', spark.range(10).count());"
    "print('py rows', spark.sparkContext.parallelize(range(3)).map(abs).count())"
)


@pytest.fixture(scope="module")
def two_sessions(tmp_path_factory):
    """Two CLI-like sessions, one after the other, sharing a fresh TMPDIR,
    with an empty Spark conf dir and no Hadoop conf dir on the class path.
    Each JVM logs where every class came from to its own file."""
    tmp = tmp_path_factory.mktemp("cds")
    logs = tmp / "class-load"
    logs.mkdir()
    (tmp / "spark-conf").mkdir()
    env = {
        **{k: v for k, v in _clean_env().items() if k not in _CLASSPATH_ENV},
        "SPARK_CONF_DIR": str(tmp / "spark-conf"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Xlog:class+load=info:file={logs}/%p.log",
    }
    runs, new_logs = [], []
    for _ in range(2):
        before = set(logs.iterdir())
        runs.append(subprocess.run(
            [sys.executable, "-c", _SESSION, str(ROOT)],
            cwd=tmp, env=env, capture_output=True, text=True, timeout=600,
        ))
        new_logs.append(set(logs.iterdir()) - before)
    yield tmp / _ARCHIVE_DIR, runs, new_logs
    shutil.rmtree(tmp, ignore_errors=True)


def test_second_session_maps_spark_classes_from_archive(two_sessions):
    _, runs, new_logs = two_sessions
    for r in runs:
        assert r.returncode == 0, r.stderr[-4000:]
        assert "rows 10" in r.stdout
    lines = [ln for f in new_logs[1] for ln in f.read_text().splitlines()
             if "org.apache.spark.SparkContext " in ln]
    assert lines, "no driver JVM loaded SparkContext"
    assert any("source: shared objects file (top)" in ln for ln in lines), lines


def test_archive_writing_session_keeps_jvm_logs_off_stdout(two_sessions):
    home, runs, _ = two_sessions
    assert runs[0].returncode == 0, runs[0].stderr[-4000:]
    assert "[cds]" in runs[0].stderr  # the JVM did dump an archive at exit
    assert [p.name for p in home.glob("*.jsa")], "no archive was published"
    jvm_lines = [ln for ln in runs[0].stdout.splitlines() if "[cds]" in ln or "[warning]" in ln]
    assert not jvm_lines, jvm_lines[:5]


def test_archive_writing_session_exits_without_traceback(two_sessions):
    """The session ran a Python task, so pyspark's accumulator server holds
    a connection from the JVM; ending the JVM to publish the archive must
    not leave that server reading a closed socket."""
    _, runs, _ = two_sessions
    assert "py rows 3" in runs[0].stdout
    for noise in ("Exception occurred during processing of request", "EOFError"):
        assert noise not in runs[0].stderr, runs[0].stderr[-4000:]


def _fake_install(tmp_path):
    """A Spark home with two jars and a conf dir of templates, a JDK with a
    java binary."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    for jar in ("spark-core.jar", "spark-sql.jar"):
        (spark_home / "jars" / jar).write_bytes(b"PK")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_text("")
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    env = {"JAVA_HOME": str(jdk), "PATH": ""}
    conf = {"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-XX:+UseParallelGC"}
    return str(spark_home), env, conf


def _launch(tmp_path, spark_home, env, conf):
    """`_driver_launch`, then drop the dump it claimed, as if its session
    had ended without one."""
    launch = _driver_launch(conf, env, spark_home, str(tmp_path / "tmp"))
    if launch and launch.writer:
        os.unlink(launch.writer)
    return launch


def test_archive_only_where_conf_dir_holds_templates(tmp_path):
    spark_home, env, conf = _fake_install(tmp_path)
    launch = _launch(tmp_path, spark_home, env, conf)
    home = tmp_path / "tmp" / _ARCHIVE_DIR
    assert launch.java_options.startswith("-XX:+UseParallelGC -XX:ArchiveClassesAtExit=")
    assert "-Xlog:all=off:stdout" in launch.java_options
    assert launch.conf_dir == str(home / "conf")
    assert launch.writer and launch.writer.startswith(str(home))
    assert not list((home / "conf").iterdir())

    (pathlib.Path(spark_home) / "conf" / "spark-defaults.conf").write_text("")
    assert _launch(tmp_path, spark_home, env, conf) is None
    assert _launch(tmp_path, spark_home, {**env, "SPARK_CONF_DIR": str(home / "conf")}, conf)
    assert _launch(tmp_path, spark_home, {**env, "SPARK_CONF_DIR": spark_home + "/conf"}, conf) is None
    spark_home, env, conf = _fake_install(tmp_path / "b")
    assert _launch(tmp_path, spark_home, {**env, "HADOOP_CONF_DIR": "/etc/hadoop"}, conf) is None
    assert _launch(tmp_path, spark_home, env, {**conf, "spark.driver.extraClassPath": "/x"}) is None


def test_archive_key_follows_jdk_jars_and_options(tmp_path):
    spark_home, env, conf = _fake_install(tmp_path)
    java, jars = env["JAVA_HOME"] + "/bin/java", spark_home + "/jars"
    key = _archive_key(java, jars, ["1g", "-XX:+UseParallelGC"])
    assert _archive_key(java, jars, ["1g", "-XX:+UseParallelGC"]) == key
    assert _archive_key(java, jars, ["8g", "-XX:+UseParallelGC"]) != key
    other_jdk = tmp_path / "jdk2" / "bin"
    other_jdk.mkdir(parents=True)
    (other_jdk / "java").write_text("")
    assert _archive_key(str(other_jdk / "java"), jars, ["1g", "-XX:+UseParallelGC"]) != key
    (pathlib.Path(jars) / "extra.jar").write_bytes(b"PK")
    assert _archive_key(java, jars, ["1g", "-XX:+UseParallelGC"]) != key
    writer = _launch(tmp_path, spark_home, {**env, "JAVA_TOOL_OPTIONS": "-Xss4m"}, conf).writer
    assert not os.path.basename(writer).startswith(key + ".")


def _key_of(launch) -> str:
    return os.path.basename(launch.writer).split(".")[0]


def test_unsafe_archives_are_never_mapped(tmp_path):
    spark_home, env, conf = _fake_install(tmp_path)
    key = _key_of(_launch(tmp_path, spark_home, env, conf))
    home = tmp_path / "tmp" / _ARCHIVE_DIR
    whole = _ARCHIVE_MAGIC + b"\1" * 4092
    unsafe = [
        (f"{key}.4096.jsa", bytes(4096)),  # a dump cut short: zero header
        (f"{key}.4096.jsa", os.urandom(4096)),
        (f"{key}.8192.jsa", whole),  # a finished archive cut to half its size
    ]
    for name, data in unsafe:
        path = home / name
        path.write_bytes(data)
        launch = _launch(tmp_path, spark_home, env, conf)
        assert "SharedArchiveFile" not in launch.java_options
        assert "ArchiveClassesAtExit" in launch.java_options
        assert not path.exists()
    (home / f"{key}.4096.jsa").write_bytes(whole)
    launch = _launch(tmp_path, spark_home, env, conf)
    assert f"-XX:SharedArchiveFile={home}/{key}.4096.jsa" in launch.java_options
    assert launch.writer is None


def test_live_writers_dump_is_never_mapped(tmp_path):
    spark_home, env, conf = _fake_install(tmp_path)
    tmp = str(tmp_path / "tmp")
    first = _driver_launch(conf, env, spark_home, tmp)
    live = pathlib.Path(first.writer)
    assert live.exists()  # claimed at launch; the JVM fills it at exit
    live.write_bytes(_ARCHIVE_MAGIC + b"\1" * 4092)
    assert _driver_launch(conf, env, spark_home, tmp) is None
    assert live.exists()
    dead = subprocess.Popen(["true"])
    dead.wait()
    key = _key_of(first)
    live.rename(live.with_name(f"{key}.{dead.pid}.1.part"))
    launch = _launch(tmp_path, spark_home, env, conf)
    assert "ArchiveClassesAtExit" in launch.java_options
    assert [p.name for p in live.parent.iterdir()] == ["conf"]


_CONCURRENT_LAUNCH = (
    "import sys, time; sys.path.insert(0, sys.argv[1]);"
    "from ocds_entity_extract_spark.session import _driver_launch;"
    "time.sleep(float(sys.argv[2]) - time.time());"
    "launch = _driver_launch({'spark.driver.memory': '1g'}, {'JAVA_HOME': sys.argv[3]},"
    " sys.argv[4], sys.argv[5]);"
    "print(launch and launch.writer)"
)


def test_sessions_starting_together_never_share_a_dump(tmp_path):
    """More sessions than cores start at the same instant on one fresh
    archive directory: at least one writes an archive, each to its own file."""
    spark_home, env, _ = _fake_install(tmp_path)
    start = time.time() + 5
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _CONCURRENT_LAUNCH, str(ROOT), str(start),
             env["JAVA_HOME"], spark_home, str(tmp_path / "tmp")],
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(min((os.cpu_count() or 2) + 2, 16))
    ]
    writers = []
    for p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        if out.strip() != "None":
            writers.append(out.strip())
    assert writers
    assert len(set(writers)) == len(writers)


def test_publishing_an_archive_deletes_other_keys_and_dead_dumps(tmp_path):
    """Publishing keeps the new archive and the newest one of another key,
    so two sessions with different JVM options that share a temp dir stop
    evicting each other; older keys' archives and dead writers' dumps go."""
    spark_home, env, conf = _fake_install(tmp_path)
    home = tmp_path / "tmp" / _ARCHIVE_DIR
    exited = types.SimpleNamespace(poll=lambda: 0, returncode=0)
    mtimes = itertools.count(time.time_ns(), 10**9)

    def env_with(stack):
        return {**env, "JAVA_TOOL_OPTIONS": f"-Xss{stack}"}

    def publish(stack):
        launch = _launch(tmp_path, spark_home, env_with(stack), conf)
        pathlib.Path(launch.writer).write_bytes(_ARCHIVE_MAGIC + b"\1" * 4092)
        t = next(mtimes)
        os.utime(launch.writer, ns=(t, t))
        _publish_archive(exited, launch.writer)
        return f"{_key_of(launch)}.4096.jsa"

    a = publish("1m")
    dead = subprocess.Popen(["true"])
    dead.wait()
    (home / f"{'b' * 20}.{dead.pid}.1.part").write_bytes(bytes(4096))
    live = f"{'c' * 20}.{os.getpid()}.1.part"
    (home / live).write_bytes(bytes(4096))
    b = publish("2m")
    assert sorted(p.name for p in home.iterdir()) == sorted(["conf", a, b, live])
    assert a in _launch(tmp_path, spark_home, env_with("1m"), conf).java_options
    assert b in _launch(tmp_path, spark_home, env_with("2m"), conf).java_options

    c = publish("4m")
    assert sorted(p.name for p in home.iterdir()) == sorted(["conf", b, c, live])

    cut_short = _launch(tmp_path, spark_home, env_with("8m"), conf)
    pathlib.Path(cut_short.writer).write_bytes(bytes(4096))
    _publish_archive(exited, cut_short.writer)
    assert not pathlib.Path(cut_short.writer).exists()
    assert (home / b).exists() and (home / c).exists()
