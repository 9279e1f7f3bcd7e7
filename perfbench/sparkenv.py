"""The benchmark's Spark session and process lifetime.

Every file Spark, the JVM and Python write during a run goes under
``.perfbench/`` in the checkout (``WORK``); ``stop_everything`` ends the
session, the JVM and every Python worker before the run exits.
"""

from __future__ import annotations

import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def isolate_env() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # spark-submit's launcher JVM; Spark's own JVM gets the same options
    # through its extraJavaOptions
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse", "spark")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    from workloads import model_corpus_env

    os.environ.pop("SPARK_GRAFT_BPE_CORPUS", None)  # would override the BPE corpus dir
    os.environ.update(model_corpus_env())


def declared_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares."""
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(event_log: str | None = None):
    from downloader_spark.session import get_spark

    n = nproc()
    conf = {
        "spark.driver.extraJavaOptions": (
            "-Xlog:all=warning:stderr:uptime -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=n, shuffle_partitions=max(n, 8), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(spark) -> None:
    """Stop the session and the JVM, then wait for every process the
    run started (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    from stats import descendants

    pids = descendants()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 15
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        for pid in pids:  # reap our own children
            try:
                os.waitpid(pid, 0)
            except OSError:
                pass
