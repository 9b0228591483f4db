"""The engine runs from any working directory: Spark's Python workers
import the package from their own path, which the session factory
extends with the package root before the JVM starts."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(f"""
    import sys
    sys.path.insert(0, {ROOT!r})
    from aws_greengrass_labs_database_influxdb_spark.operators.analytics import (
        exponential_moving_average,
    )
    from aws_greengrass_labs_database_influxdb_spark.session import get_spark

    spark = get_spark(app_name="cwd", master="local[1]", shuffle_partitions=1)
    df = spark.createDataFrame(
        [("m", "f", i * 10**9, float(i)) for i in range(5)],
        "measurement string, field string, time_ns long, f_float double")
    rows = exponential_moving_average(df, 3).orderBy("time_ns").collect()
    print("EMA", [r["ema"] for r in rows])
    spark.stop()
""")


def test_python_udf_operator_runs_outside_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "EMA [1.0, 2.0, 3.0]" in out.stdout
