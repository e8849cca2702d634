"""Session factory: the engine defaults, a live session's confs, and the
package's Python worker daemon on local masters."""

from __future__ import annotations

import fnmatch
import os
import subprocess
import sys
import textwrap
import zipfile

from logstash_integration_jdbc_spark.session import (
    DAEMON_MODULE,
    get_spark,
    session_conf,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_on_live_session_applies_only_extra_conf(spark):
    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "8"  # the test session's own setting
    try:
        assert get_spark(app_name="other") is spark
        assert spark.conf.get(key) == "8"
        get_spark(app_name="other", extra_conf={key: "5"})
        assert spark.conf.get(key) == "5"
    finally:
        spark.conf.set(key, "8")


def test_session_conf_sets_daemon_for_local_masters_only():
    for master in ("local", "local[2]", "local[*]"):
        conf = session_conf(master)
        assert conf["spark.python.daemon.module"] == DAEMON_MODULE
        assert conf["spark.executorEnv.PYTHONPATH"] == ROOT
    for master in ("spark://127.0.0.1:7077", "yarn", "local-cluster[2,1,1024]"):
        conf = session_conf(master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf
    # a caller's worker PYTHONPATH is kept, after the package root
    conf = session_conf("local[2]", {"spark.executorEnv.PYTHONPATH": "/x"})
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([ROOT, "/x"])


def test_python_tasks_run_under_package_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        main = sys.modules["__main__"]
        return (main.__spec__.name, sorted(main._FIXED), list(sys.path),
                zipimport.zipimporter.invalidate_caches is main._invalidate_caches)

    name, fixed, path, patched = spark.sparkContext.parallelize([0], 1).map(probe).first()
    assert name == DAEMON_MODULE and patched
    # only Spark's own archives skip the re-read, and each is on the path
    assert fixed and set(fixed) <= set(path)
    for p in fixed:
        assert any(fnmatch.fnmatch(os.path.basename(p), pat)
                   for pat in ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar"))


def test_py_file_added_after_daemon_start_imports(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize([0], 1).map(lambda x: x + 1).first() == 1  # daemon up
    module = f"ljs_pyfile_{os.getpid()}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 41\n")
    sc.addPyFile(str(archive))

    def probe(_):
        import importlib

        return importlib.import_module(module).VALUE + 1

    assert sc.parallelize([0], 1).map(probe).first() == 42


def test_python_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    # the daemon module must import from the package root alone, not
    # from the driver's cwd or an inherited PYTHONPATH
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from logstash_integration_jdbc_spark import get_spark

        spark = get_spark(master="local[1]", extra_conf={{
            "spark.driver.memory": "512m", "spark.ui.showConsoleProgress": "false"}})
        plus_one = F.udf(lambda x: x + 1, "long")
        print("GOT", sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "GOT [1, 2, 3]" in out.stdout, out.stderr[-2000:]
