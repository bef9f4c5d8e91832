"""Session factory: which master decides the local-mode split floors."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark import SparkContext
from fluent_plugin_sql_spark.session import effective_master
print(effective_master(None), effective_master("local[2]"), SparkContext._jvm is None)
"""


def _probe(tmp_path, defaults: str | None, submit_args: list[str] | None) -> list[str]:
    """Run the probe under ``spark-submit`` (whose JVM is up before Python
    starts) or, with ``submit_args=None``, under plain ``python``.  No
    session is built, so nothing connects to the master."""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")
    }
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    if defaults is not None:
        (conf_dir / "spark-defaults.conf").write_text(defaults)
    env["SPARK_CONF_DIR"] = str(conf_dir)
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    if submit_args is None:
        cmd = [sys.executable, str(script)]
    else:
        submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        env["PYSPARK_PYTHON"] = sys.executable
        cmd = [submit, *submit_args, str(script)]
    out = subprocess.run(
        cmd, env=env, capture_output=True, text=True, timeout=120, check=True
    )
    return out.stdout.split()


def test_master_from_spark_submit_flag(tmp_path):
    got = _probe(tmp_path, None, ["--master", "spark://localhost:7077"])
    assert got == ["spark://localhost:7077", "local[2]", "False"]


def test_master_from_spark_defaults(tmp_path):
    got = _probe(tmp_path, "spark.master spark://localhost:7077\n", [])
    assert got == ["spark://localhost:7077", "local[2]", "False"]


def test_plain_python_launches_no_jvm_to_decide(tmp_path):
    # getOrCreate must be the one to launch the JVM, with the builder's
    # driver memory and JVM options
    got = _probe(tmp_path, "spark.master spark://localhost:7077\n", None)
    assert got == ["local", "local[2]", "True"]
