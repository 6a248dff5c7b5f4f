"""Process set-up shared by the benchmark's entry points: keep every
file the run writes inside the checkout, and own the Spark session's
lifecycle (start, warm-up, restart, shutdown of the JVM)."""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def contain() -> None:
    """Point temp files, Spark scratch space and the Python workers'
    import path at the checkout. Call before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def dir_mib(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / (1024 * 1024)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Session:
    """One SparkSession at a time on one JVM. ``start`` returns the
    seconds spent in ``session.get_spark`` and in warming the Python
    workers with a 16-doc extraction."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None
        tmp = os.path.join(WORK, "tmp")
        # the driver heap stays at get_spark's default; only scratch
        # paths are redirected (-UsePerfData: no hsperfdata file under
        # the system /tmp)
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        }

    def start(self) -> tuple[float, float]:
        from docstrange_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores, extra=self.conf)
        t1 = time.perf_counter()
        self.warm()
        return t1 - t0, time.perf_counter() - t1

    def warm(self) -> None:
        import numpy as np

        from docstrange_spark import datagen
        from docstrange_spark.operators import extract

        pdf = datagen.scale_pdf(np.arange(16), seed=0)
        df = self.spark.createDataFrame(pdf, schema=datagen.SPAN_SCHEMA_DDL)
        noop(extract.extract(df, formats=("json",), include_spans=False))

    def restart(self, cores: int | None = None) -> tuple[float, float]:
        """Stop the session and start a new one (on ``cores`` task
        threads if given) on the same JVM."""
        self.spark.stop()
        self.cores = cores or self.cores
        return self.start()

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
