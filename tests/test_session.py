"""The package session's defaults that change what the Python client
does per call. PySpark reads its DataFrame-debugging setting once per
process, so the override runs in a child interpreter with its own
session."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def divide_by_zero_message(spark) -> str:
    """The message of an ANSI divide-by-zero error raised from here."""
    from pyspark.sql import functions as F

    try:
        spark.range(1).select(F.col("id") / 0).collect()
    except Exception as exc:  # the error under test
        return str(exc)
    raise AssertionError("1 / 0 did not raise")


def test_package_session_turns_dataframe_debugging_off(spark):
    assert spark.conf.get(DEBUGGING) == "false"


def test_extra_conf_turns_dataframe_debugging_back_on(tmp_path):
    code = (
        "from module8_movies_etl_spark.session import get_spark\n"
        "from tests.test_session import DEBUGGING, divide_by_zero_message\n"
        "spark = get_spark(extra_conf={DEBUGGING: 'true', 'spark.sql.ansi.enabled': 'true'})\n"
        "print(divide_by_zero_message(spark).split('== DataFrame ==')[1])\n"
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="1",
        SPARK_DRIVER_MEM="1g",
        SPARK_GRAFT_SCRATCH=str(tmp_path),
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert f"{os.path.abspath(__file__)}:" in out.stdout
