"""Engine lifecycle, process-tree measurement, deadlines, spans and plan
metrics for the benchmark.

Everything here observes the engine from outside: it starts the session
through the package's own ``get_spark``, reads CPU and memory of the
driver's process subtree from ``/proc``, and reads per-node SQL metrics
from the executed physical plan.  Nothing in the package is patched.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

# One driver, one job at a time, on local[4]: the closed loop every
# workload uses.
CPUS = 4
# Small enough for a shared host, large enough for every workload here.
DRIVER_MEM = "3g"
MB = 1024.0 * 1024.0


class OpTimeout(Exception):
    """An operation ran past its time limit (a hung job or dead worker)."""


class Deadline:
    """SIGALRM-based limits: one for the whole run, a tighter one per
    operation.  A blocking Spark call is interrupted by the alarm, so no
    wait in the benchmark is unbounded."""

    def __init__(self, total_s: float):
        self.end = time.monotonic() + total_s
        self._what = "run"
        signal.signal(signal.SIGALRM, self._fire)
        self._arm(total_s)

    def _fire(self, signum, frame):
        raise OpTimeout(self._what)

    @staticmethod
    def _arm(seconds: float) -> None:
        signal.setitimer(signal.ITIMER_REAL, max(seconds, 0.001))

    def remaining(self) -> float:
        return self.end - time.monotonic()

    @contextmanager
    def op(self, what: str, limit_s: float):
        limit = min(limit_s, self.remaining())
        if limit <= 0:
            raise OpTimeout(what)
        self._what = what
        self._arm(limit)
        try:
            yield
        finally:
            self._what = "run"
            self._arm(self.remaining())

    def cancel(self) -> None:
        signal.setitimer(signal.ITIMER_REAL, 0)


# --- process subtree --------------------------------------------------------
def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def subtree_pids() -> list[int]:
    pids, stack, seen = [], [os.getpid()], set()
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        seen.add(p)
        pids.append(p)
        stack += _children(p)
    return pids


def subtree_cpu_s() -> float:
    """utime+stime of this process and every descendant: the driver, the
    JVM and its Python workers."""
    tck = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for p in subtree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
            total += (int(rest[11]) + int(rest[12])) / tck
        except (OSError, IndexError):
            pass
    return total


def subtree_peak_rss_mb() -> float:
    """Sum of each live subtree process's resident high-water mark
    (VmHWM).  Shared pages of forked workers count once per process."""
    total_kb = 0
    for p in subtree_pids():
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_count() -> int:
    """Live ``pyspark.daemon`` processes minus the daemon itself."""
    n = sum(1 for p in subtree_pids() if "pyspark.daemon" in _cmdline(p))
    return max(0, n - 1)


# --- engine -----------------------------------------------------------------
class Engine:
    """The Spark session the benchmark drives, with everything it starts
    kept inside the checkout and stopped at the end."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.start_s = 0.0

    def start(self) -> None:
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            x for x in (ROOT, os.environ.get("PYTHONPATH")) if x
        )
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        # no /tmp/hsperfdata_* file: the run writes only inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        t0 = time.perf_counter()
        from ocr_corrector_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            cpus=CPUS,
            extra_conf={
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.hadoop.hadoop.tmp.dir": tmp,
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.start_s = time.perf_counter() - t0

    def gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3

    def stop(self) -> None:
        """Stop the session, then the JVM, then wait for every process the
        run started; whatever outlives a timeout is killed."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                pass  # a broken session still gets its JVM stopped below
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=5)
        _reap_descendants(timeout_s=5)

    def kill(self) -> None:
        """Last resort when stopping timed out: kill every descendant."""
        _reap_descendants(timeout_s=0)


def _reap_descendants(timeout_s: float) -> None:
    end = time.monotonic() + timeout_s
    while time.monotonic() < end:
        left = subtree_pids()[1:]
        if not left:
            return
        time.sleep(0.2)
    for p in subtree_pids()[1:]:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in subtree_pids()[1:]:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


# --- spans ------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, pass id), written out
    once at the end of a traced run.  Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_id: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "pass": pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def duration(self, rec: dict | None) -> float:
        return rec["end"] - rec["start"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --- executed-plan SQL metrics ----------------------------------------------
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _plan_children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # counted where it first ran
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def plan_nodes(plan) -> list[dict]:
    """Every physical node of an executed plan with its SQL metrics, times
    in seconds and sizes in bytes."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            metrics[kv._1()] = m.value() * _SCALE.get(m.metricType(), 1.0)
        out.append(
            {
                "cls": node.getClass().getSimpleName(),
                "desc": node.simpleString(25),
                "metrics": metrics,
            }
        )
        stack += _plan_children(node)
    return out


def run_for_plan(df) -> tuple[int, list[dict]]:
    """Execute ``df`` without converting rows (the noop-sink equivalent)
    and return its row count and executed-plan metrics."""
    qe = df._jdf.queryExecution()
    n = qe.toRdd().count()
    return n, plan_nodes(qe.executedPlan())


def metric_sum(nodes: list[dict], cls_suffix: str, name: str, desc: str | None = None) -> float:
    return sum(
        n["metrics"].get(name, 0.0)
        for n in nodes
        if n["cls"].endswith(cls_suffix) and (desc is None or desc in n["desc"])
    )


def node_count(nodes: list[dict], cls_names: tuple[str, ...]) -> int:
    return sum(1 for n in nodes if n["cls"] in cls_names)


def stages_in_group(sc, group: str) -> int:
    tracker = sc.statusTracker()
    stages = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(s for s in info.stageIds if tracker.getStageInfo(s) is not None)
    return len(stages)


# --- stats ------------------------------------------------------------------
def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
