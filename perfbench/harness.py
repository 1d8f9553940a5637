"""Process, session and measurement plumbing shared by every workload.

Everything the benchmark launches (the Spark JVM and its Python workers)
is started here and stopped here, and every file it writes lands under
the checkout's ``.perfbench/`` work directory.

Per-layer attribution is measured from outside the engine: a ``Tracer``
records spans around the benchmark's own calls into ``sptag_spark``, tags
the Spark jobs each span launches with a job group, and reads Spark's
status store (stage metrics) and SQL status store (executed plans) for
those jobs once the span ends.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# The engine's worker imports need the checkout on PYTHONPATH, and every
# temp file Spark, the JVM or Python makes must stay inside the checkout.
_LOCAL = os.path.join(WORK, "spark-local")
_TMP = os.path.join(WORK, "tmp")
DRIVER_MEM = "1g"


def prepare_environment() -> None:
    for d in (_LOCAL, _TMP):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = _LOCAL
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = _TMP
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def spark_conf() -> dict:
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={_TMP} -XX:-UsePerfData",
        "spark.local.dir": _LOCAL,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def start_session(cores: int):
    """Start (or restart, inside the running JVM) a local[cores] session
    with the engine's defaults (``sptag_spark.session.get_spark``) and
    shuffle partitions at twice the cores."""
    from sptag_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores,
                      shuffle_partitions=2 * cores,
                      extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    from sptag_spark.session import stop_spark

    stop_spark()


# -- process tree ----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _resident_kb(pid: int) -> int:
    """Proportional resident set (PSS): resident pages, with pages shared
    between processes split among them. The Python workers are forked
    from one daemon, so summing plain RSS would count every shared page
    once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


class RssSampler:
    """Peak resident memory (summed PSS) of the JVM plus every process
    under it (the Python daemon and its workers), sampled on a background
    thread."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        pid = jvm_pid()
        if pid is None:
            return
        total = sum(_resident_kb(p) for p in [pid, *descendants(pid)])
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def shutdown_jvm(timeout_s: float = 30.0) -> None:
    """Stop the session, the py4j gateway and the JVM, then wait until the
    JVM and every process it started (Python workers) have exited."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()   # the gateway server exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(1 for _, _, files in os.walk(path)
               for f in files if f.endswith(suffix))


# -- statistics ------------------------------------------------------------

def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- Spark job / stage / plan metrics ---------------------------------------

_EXCHANGE = re.compile(r"(?<!Reused)Exchange \(\d+\)")


def count_final_exchanges(plan: str) -> int:
    """Exchange nodes in the tree part of a formatted executed plan,
    skipping AQE's ``== Initial Plan ==`` subtrees (the final plan is what
    ran)."""
    tree = plan.split("\n\n", 1)[0]
    n, skip_indent = 0, None
    for line in tree.splitlines():
        indent = len(line) - len(line.lstrip(" +-:"))
        if skip_indent is not None and indent <= skip_indent:
            skip_indent = None
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        if skip_indent is None and _EXCHANGE.search(line):
            n += 1
    return n


class SparkMetrics:
    """Reads stage and SQL-execution metrics for a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _seq(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, group: str, task_skew: bool = False) -> dict:
        jobs = self.job_ids(group)
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(self._seq(self._store.job(j).stageIds()))
        out = {"jobs": len(jobs), "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
               "input_records": 0, "shuffle_write_bytes": 0,
               "task_skew": None}
        heaviest = None
        for s in sorted(stage_ids):
            try:
                sd = self._store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - skipped (never-run) stages
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1000.0
            out["gc_s"] += sd.jvmGcTime() / 1000.0
            out["input_records"] += sd.inputRecords()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            if sd.shuffleReadBytes() > 0 and (
                    heaviest is None
                    or sd.executorRunTime() > heaviest.executorRunTime()):
                heaviest = sd
        if task_skew and heaviest is not None:
            tasks = self._seq(self._store.taskList(
                heaviest.stageId(), heaviest.attemptId(), 100000))
            durs = [t.duration().get() for t in tasks
                    if t.duration().isDefined()]
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        return out

    def exchanges_since(self, first_execution_id: int) -> int:
        n = 0
        for e in self._seq(self._sql.executionsList()):
            if e.executionId() >= first_execution_id:
                n += count_final_exchanges(e.physicalPlanDescription())
        return n

    def scans_since(self, first_execution_id: int) -> dict:
        """Partitions read and rows output by the parquet scans of every
        SQL execution from ``first_execution_id`` on (SQL metrics of the
        ``Scan parquet`` plan nodes)."""
        out = {"partitions_read": 0, "rows_out": 0}
        names = {"number of partitions read": "partitions_read",
                 "number of output rows": "rows_out"}
        for e in self._seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid < first_execution_id:
                continue
            values = self._sql.executionMetrics(eid)
            for node in self._seq(self._sql.planGraph(eid).allNodes()):
                if not node.name().startswith("Scan parquet"):
                    continue
                for m in self._seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if m.name() in names and v.isDefined():
                        out[names[m.name()]] += int(v.get().replace(",", ""))
        return out

    def next_execution_id(self) -> int:
        ids = [e.executionId() for e in self._seq(self._sql.executionsList())]
        return max(ids) + 1 if ids else 0


# -- tracing ---------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, trace id) around the
    benchmark's calls into the engine, plus the Spark metrics of the jobs
    each span launched. Disabled tracers cost one branch per span."""

    def __init__(self, enabled: bool, spark_metrics=None):
        self.enabled = enabled
        self.metrics = spark_metrics
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id: str | None = None

    def new_trace(self) -> None:
        self.trace_id = uuid.uuid4().hex[:16]

    @contextmanager
    def span(self, name: str, task_skew: bool = False, plans: bool = False,
             scans: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "span_id": uuid.uuid4().hex[:16],
               "parent": parent["span_id"] if parent else None,
               "trace_id": self.trace_id, "start": time.time(), **attrs}
        sc = self.metrics.sc if self.metrics else None
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        first_exec = (self.metrics.next_execution_id()
                      if plans or scans else None)
        if sc:
            sc.setJobGroup(rec["span_id"], name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc:
                if prev_group:
                    sc.setJobGroup(prev_group, prev_group)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                rec["spark"] = self.metrics.collect(rec["span_id"], task_skew)
                if plans:
                    rec["exchanges"] = self.metrics.exchanges_since(first_exec)
                if scans:
                    rec["scans"] = self.metrics.scans_since(first_exec)
            self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its direct children's
        intervals."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == span["span_id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span["start"]), min(e, span["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
