"""Run plumbing shared by the three workloads: the per-run work directory,
the Spark session and KMS, KEK-cache flushing, tracing spans with Spark
job-group counts, and machine-state readings.

Nothing here starts a thread or process on import; ``Run`` owns every
resource a benchmark run opens and releases them in ``close``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
OUT_ROOT = os.path.join(REPO, ".perfbench_out")


PACKAGE = "parquet_modular_encryption_spark"


def rebind(original, replacement) -> None:
    """Point every name an engine module bound to ``original`` at
    ``replacement``, so calls made inside the engine go through it too."""
    for name, module in list(sys.modules.items()):
        if not name.startswith(PACKAGE) or module is None:
            continue
        for attr, value in list(vars(module).items()):
            if value is original:
                setattr(module, attr, replacement)


def task_slots(cap: int) -> int:
    """Spark task slots: at most ``cap`` and never more than the CPUs this
    process may run on."""
    return max(1, min(cap, len(os.sched_getaffinity(0))))


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def machine_state() -> dict:
    """loadavg, cumulative CPU steal ticks and MemAvailable, from /proc."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    mem_avail_mb = 0.0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                mem_avail_mb = int(line.split()[1]) / 1024.0
    return {"loadavg_1m": load1, "steal_ticks": steal, "mem_available_mb": mem_avail_mb}


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans at each layer boundary, kept in memory and written at the end.

    Each span runs its Spark jobs under its own job group, so the jobs,
    stages and tasks a span submitted are read back from the public
    ``statusTracker()`` when it closes. Counts are the span's own (self)
    counts. A disabled tracer records nothing and costs one branch per
    span.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._sc = None
        self.t0 = time.perf_counter()

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"pb-{span.id}", span.name)

    def _count(self, span: Span) -> None:
        if self._sc is None:
            return
        tracker = self._sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(f"pb-{span.id}"):
            span.jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                span.stages += 1
                span.tasks += stage.numTasks if stage else 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._group(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._group(parent)
            self._count(sp)
            self.bookkeeping_s += time.perf_counter() - sp.end

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - self.t0, 6),
                "end_s": round(s.end - self.t0, 6),
                "jobs": s.jobs,
                "stages": s.stages,
                "tasks": s.tasks,
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": rows}, fh, indent=1)


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Run:
    """Everything one benchmark invocation owns: a private work directory
    inside the checkout (temp files, Spark local dirs, generated data),
    the Spark session, and every KMS server started in the process.

    The work directory is removed by ``close``, so repeated runs leave no
    ``spark-*`` or ``blockmgr-*`` residue behind.
    """

    def __init__(self, workload: str, seconds: int, trace: bool) -> None:
        self.workload = workload
        self.seconds = seconds  # sets the amount of timed work
        self.tracer = Tracer(trace)
        os.makedirs(WORK_ROOT, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK_ROOT)
        self.data_dir = os.path.join(self.work, "data")
        self.tmp_dir = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp_dir)
        self.spark = None
        self.kms_servers: list = []
        self._restore_kms_start = None
        self._configure_env()

    def _configure_env(self) -> None:
        # Temp files of this process, its Python workers and the engine's
        # scratch dirs all land in the run's work dir.
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
        # mapInArrow / pandas-UDF workers import the engine package.
        paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def track_kms_servers(self) -> None:
        """Record every ``KmsServer`` started in this process (the engine's
        shared singleton and per-query private servers included), so KMS
        requests can be counted at the wire for any workload."""
        from parquet_modular_encryption_spark.crypto import kms_server

        original = kms_server.KmsServer.start
        servers = self.kms_servers

        def start(server):
            servers.append(server)
            return original(server)

        kms_server.KmsServer.start = start
        self._restore_kms_start = lambda: setattr(kms_server.KmsServer, "start", original)

    def kms_requests(self) -> int:
        """Wire-level wrap + unwrap requests so far, over every server."""
        return sum(sum(server.counters.values()) for server in self.kms_servers)

    def start_spark(self, slots_cap: int):
        from parquet_modular_encryption_spark.session import get_spark
        from parquet_modular_encryption_spark.sources.encrypted_native import (
            native_session_conf,
        )

        conf = native_session_conf() | {
            # no hsperfdata file in /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                f"perfbench-{self.workload}", cores=task_slots(slots_cap), extra_conf=conf
            )
        self.tracer.bind(self.spark)
        return self.spark

    def flush_key_caches(self) -> None:
        """Drop parquet-mr's KEK/KMS-client caches (60 s lifetime), so the
        next encrypted read or write is cold and its KMS count is exact."""
        jvm = self.spark.sparkContext._jvm
        jvm.org.apache.parquet.crypto.keytools.KeyToolkit.removeCacheEntriesForAllTokens()

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        try:
            if self.spark is not None:
                gateway = self.spark.sparkContext._gateway
                self.spark.stop()
                gateway.shutdown()
                # The JVM exits when its stdin pipe closes; wait for it.
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=60)
        finally:
            for server in self.kms_servers:
                with contextlib.suppress(OSError):
                    server.stop()
            if self._restore_kms_start:
                self._restore_kms_start()
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(WORK_ROOT)  # only when no other run is using it

