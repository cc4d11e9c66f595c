"""Session lifecycle, job calls and their tally, shared by the measured and
the traced run."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING_CALLS = 2  # calls at the low scaling level


class Tally:
    """Rows attempted and failures (error rows plus failed checks)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def add(self, outcome) -> None:
        self.attempted += outcome.rows
        self.failed += outcome.errors + len(outcome.failures)
        self.failures.extend(outcome.failures)
        if outcome.errors:
            self.failures.append(f"{outcome.errors} error rows")


class Bench:
    """The Spark session and the per-run work directory, which holds every
    input, output, temp file and Spark local dir of the run."""

    def __init__(self, work: str, procs: int):
        self.procs = procs
        self.run_dir = os.path.join(work, f"run-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        self.spark = None
        self.tally = Tally()
        # inherited by the JVM and, through it, by the Python workers
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = tempfile.tempdir = self.path("tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start(self, cores: int, event_dir: str | None = None) -> None:
        from ocr_table_extractor_to_csv_spark.session import get_spark

        self.stop()
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # a fixed 1 GiB heap: peak RSS then reflects the program, not
            # how far the JVM happened to grow a larger heap this run
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
            ),
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            app_name=f"perfbench-{cores}", master=f"local[{cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM behind it, wait for the JVM, and
        delete the run directory."""
        from pyspark import SparkContext

        try:
            self.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits at EOF on its stdin
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.run_dir, ignore_errors=True)

    def call(self, job, around=None):
        """One job call on fresh state, inside the context manager
        ``around`` if given; returns (wall seconds, check outcome)."""
        st = job.prepare(self.path("call"))
        with around or contextlib.nullcontext():
            t0 = time.perf_counter()
            job.call(self.spark, st)
            wall = time.perf_counter() - t0
        outcome = job.check(st)
        self.tally.add(outcome)
        shutil.rmtree(self.path("call"), ignore_errors=True)
        return wall, outcome

    def setup(self, job, cores: int, name: str, event_dir: str | None = None) -> float:
        """Session start + landing + one warm call; returns its seconds
        (the warm call's check runs after the clock stops)."""
        t0 = time.perf_counter()
        self.start(cores, event_dir)
        job.land(self.path(name))
        st = job.prepare(self.path("call"))
        job.call(self.spark, st)
        seconds = time.perf_counter() - t0
        self.tally.add(job.check(st))
        shutil.rmtree(self.path("call"), ignore_errors=True)
        return seconds

    def low_level_rate(self, job) -> tuple[int, float, list[float]]:
        """Weak-scaling base: the job on a url-hash ``low/procs`` share of
        the input at ``local[low]``, ``low = procs // 4``.  Returns
        (low, items per second, call walls).  The JVM is warm by now; the
        faster of the calls is the one that did not start the new session's
        Python workers."""
        low = max(1, self.procs // 4)
        share = job.share(low, self.procs)
        self.start(low)
        share.land(self.path("share"))
        walls = [self.call(share)[0] for _ in range(SCALING_CALLS)]
        self.stop()
        return low, share.items / min(walls), walls


def median_rate(items: int, walls: list[float]) -> float:
    return statistics.median(items / w for w in walls)
