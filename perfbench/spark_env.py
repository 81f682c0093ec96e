"""Process environment and SparkSession for a Spark-hosting process.

Every temporary file Spark, the JVM or Python writes goes under the run's
work directory inside the checkout.
"""

from __future__ import annotations

import os
import sys
import tempfile

from common import nproc


def prepare_env(work: str) -> None:
    """Point temp dirs of Python, the JVM and Spark into ``work``. Call
    before the session starts; child processes inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, trace: bool):
    """The engine's own session factory on ``local[nproc]``, with a
    bounded driver heap and, for the traced run, status stores that keep
    every job and stage of the run."""
    from vectordb_spark import get_spark

    from tracing import SPARK_RETAIN_CONF

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(SPARK_RETAIN_CONF)
    spark = get_spark("perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
