"""Run context shared by the workloads: the Spark session, the scratch
directory, the tracer, operation accounting and the layer counters."""

from __future__ import annotations

import json
import os
import shutil
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import Ops, stage_delta, stage_map
from perfbench.trace import Tracer

WORK_DIR = ".perfbench_work"
BOOKKEEPING = "trace.bookkeeping"
HEAP = "1g"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class RunContext:
    """Everything one benchmark run owns. Create it with :meth:`start`
    and always :meth:`close` it: that stops Spark, waits for the JVM to
    exit and deletes the scratch directory."""

    def __init__(self, root: str, seed: int, trace: bool):
        self.root = root
        self.seed = seed
        self.tracer = Tracer(trace)
        self.ops = Ops()
        self.counters: dict[str, float] = defaultdict(float)
        self.work = os.path.join(root, WORK_DIR, self.tracer.run_id)
        self.spark = None
        self._job_seq = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def start(self) -> float:
        """Create the scratch dirs and the session; returns seconds spent."""
        t0 = time.perf_counter()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # everything the run writes stays under the scratch dir: Python
        # temp files, the JVM's temp dir, Spark's shuffle/spill dirs
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
        from cassandra_analytics_spark.session import get_session

        n = cpu_count()
        self.spark = get_session(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                # the UI's REST API feeds the stage deltas of traced runs
                "spark.ui.enabled": str(self.traced).lower(),
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                # a fixed-size heap: peak RSS then depends on the work,
                # not on when the JVM decided to grow the heap
                "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.sql.streaming.checkpointLocation": os.path.join(self.work, "ckpt"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def reset(self) -> None:
        """Forget operations, counters and spans recorded so far."""
        self.ops = Ops()
        self.counters.clear()
        self.tracer.spans.clear()

    def conditions(self) -> dict:
        import platform

        import pyspark

        sc = self.spark.sparkContext
        return {
            "cpus": cpu_count(),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "seed": self.seed,
            "storage": f"local disk under {WORK_DIR}/, no fsync, deleted after the run",
            "trace": int(self.traced),
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- layer attribution ------------------------------------------------
    @contextmanager
    def layer(self, name: str, stages: str | None = None):
        """A span around one call into a module. In traced runs, when
        ``stages`` names a counter prefix, the Spark jobs the call starts
        and the REST stage delta it causes are added to the counters
        ``<stages>.jobs`` and ``<stages>.<field>``."""
        if not self.traced or stages is None:
            with self.tracer.span(name):
                yield
            return
        sc = self.spark.sparkContext
        self._job_seq += 1
        group = f"perfbench-{self._job_seq}"
        # the tracer's own work gets its own span, so the layer spans plus
        # these cover the operation and the bookkeeping cost is visible
        with self.tracer.span(BOOKKEEPING):
            before = self.stage_snapshot()
            sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            with self.tracer.span(BOOKKEEPING):
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs = sc.statusTracker().getJobIdsForGroup(group)
                self.counters[f"{stages}.jobs"] += len(jobs)
                after = self.stage_snapshot()
                for key, v in stage_delta(before, after).items():
                    self.counters[f"{stages}.{key}"] += v

    def stage_snapshot(self) -> dict:
        sc = self.spark.sparkContext
        url = (
            f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
            "/stages?status=complete"
        )
        with urllib.request.urlopen(url, timeout=30) as resp:
            return stage_map(json.load(resp))

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the Spark JVM."""
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        return _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)

    def close(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                # the JVM exits when its stdin pipe closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
