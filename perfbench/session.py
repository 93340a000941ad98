"""Process environment and Spark session for one benchmark process.

Everything Spark, the JVM and the Python workers write goes under the
benchmark's work directory inside the checkout. The program's own
``build_session`` makes the session, so the benchmark measures the
configuration every caller gets.
"""

from __future__ import annotations

import os
import shlex
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = Path(__file__).resolve().parent / "_work"


def configure_environment(tmp: Path) -> None:
    """Must run before pyspark starts its JVM: the JVM and the Python
    workers it forks read these at launch."""
    if not (ROOT / "xqspark" / "pipeline.py").is_file():
        sys.exit(f"perfbench: no xqspark package under {ROOT}; run from a checkout of the repo")
    tmp.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(ROOT))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # -XX:-UsePerfData: no hsperfdata file under /tmp, from the launcher
    # JVM that spark-submit runs first or from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            # the progress bar would interleave with the result line
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={tmp / 'warehouse'}",
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "pyspark-shell",
        ]
    )


def start_session(cpus: int):
    from xqspark.pipeline import build_session

    spark = build_session(cpus=cpus, app="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark, cpus: int) -> None:
    """One job with a task per core, so worker start-up and the core's
    imports happen in set-up and not in the first measured pass."""

    def touch(batches):
        import xqspark.core.api  # noqa: F401
        import xqspark.core.maincontent  # noqa: F401

        yield from batches

    spark.range(0, cpus * 4, numPartitions=cpus).mapInPandas(touch, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process the
    JVM started (the Python daemon and its workers) to end."""
    from pyspark import SparkContext

    from probes import descendants

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    left = descendants()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
