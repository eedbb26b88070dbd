"""Session construction: ``session.get_spark`` under a launcher."""

from __future__ import annotations

import os
import subprocess
import sys

import pyspark


def test_get_spark_keeps_a_submitted_master(tmp_path):
    """Under ``spark-submit --master``, ``get_spark(cores=…)`` runs on the
    submitted master; ``cores`` only sizes a session it starts itself."""
    script = tmp_path / "master.py"
    script.write_text(
        "from mannheimsearchjoinsengine_spark.session import get_spark\n"
        "print('master=' + get_spark(cores=2).sparkContext.master)\n"
    )
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    env["PYTHONPATH"] = os.path.abspath(os.path.join(os.path.dirname(__file__), os.pardir))
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        [
            os.path.join(spark_home, "bin", "spark-submit"),
            "--master", "local[1]",
            "--driver-memory", "512m",
            "--conf", "spark.ui.enabled=false",
            str(script),
        ],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "master=local[1]" in out.stdout.splitlines()
