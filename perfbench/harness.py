"""Shared machinery of the benchmark: run directories, the Spark session,
resource sampling, spans, Spark status reads and the run stamp.

Everything here observes the engine from outside: it calls the package's
public functions and reads Spark's own status (status tracker, status store,
query-execution listener, streaming progress, checkpoint logs).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PACKAGE = "pulsar_pekko_streams_example_spark"
OUT_DIR = ROOT / ".perfbench_out"
#: one client thread per core; the host this benchmark was sized on has 4
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class BenchError(RuntimeError):
    """A set-up or measurement step failed; the run prints no result."""


def require_package() -> None:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise BenchError(
            f"package {PACKAGE!r} not found next to the benchmark directory "
            f"({ROOT}); run from the root of a full checkout"
        )


def prepare_run_dir(workload: str, seed: int) -> Path:
    """Create this run's private work directory and point every temp-file
    user at it: Python's tempfile, the JVM's java.io.tmpdir, Spark's local
    dirs.  PYTHONPATH carries the checkout root so Python workers spawned by
    the JVM import the package and this benchmark, whatever the cwd."""
    work = OUT_DIR / "work" / f"{workload}-s{seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # the launcher JVM that spark-submit starts first: no files outside the run
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    return work


def start_session(app_name: str, work: Path, extra: dict[str, str] | None = None):
    """The engine session, built by the package's own factory."""
    from pulsar_pekko_streams_example_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        ),
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.streaming.minBatchesToRetain": "10000",
        "spark.ui.showConsoleProgress": "false",
        **(extra or {}),
    }
    spark = get_spark(app_name=app_name, cpus=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(values) -> float:
    return float(statistics.median(values))


def p90(values) -> float:
    """90th percentile, interpolated between the closest ranks."""
    return float(statistics.quantiles(values, n=10, method="inclusive")[8])


# --------------------------------------------------------------------------
# resource sampling
# --------------------------------------------------------------------------

def _children_index() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Peak of the summed RSS of this Python process and every process under
    it (the driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True, name="rss")

    def sample(self) -> int:
        kids = _children_index()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent), written when the run ends.
    Disabled, every call is a no-op, so untraced runs record nothing."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, **attrs})
        return sid

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval its
        child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)



# --------------------------------------------------------------------------
# Spark status reads
# --------------------------------------------------------------------------

def jvm_totals(spark, job_ids) -> dict[str, float]:
    """Jobs, stages, tasks, task busy time, GC, shuffle write and spill of
    the given jobs, read from the status tracker and the status store."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    jobs = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        stage_ids.update(int(s) for s in info.stageIds)
    out = {"jobs": jobs, "stages": 0, "tasks": 0, "task_busy_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a skipped stage has no attempt
            continue
        if st.numCompleteTasks() == 0 and st.numFailedTasks() == 0:
            continue  # skipped (reused shuffle), never ran
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["task_busy_s"] += st.executorRunTime() / 1000.0
        out["gc_s"] += st.jvmGcTime() / 1000.0
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
    return out


def all_job_ids(spark) -> list[int]:
    """Every job of the application that the status store still holds."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return sorted(int(jobs.apply(i).jobId()) for i in range(jobs.size()))


class QueryExecutionListener:
    """py4j implementation of Spark's QueryExecutionListener.  It keeps the
    observed metrics of every executed query whose observation name starts
    with ``prefix`` and, when ``phases`` is set, the query's own planning
    tracker (analysis / optimization / planning start and end, epoch ms) —
    read from the QueryExecution that actually ran, not the DataFrame's."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, prefix: str, phases: bool):
        self.prefix = prefix
        self.phases = phases
        self.seen: dict[str, dict] = {}
        self.errors: list[str] = []
        self._cv = threading.Condition()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        try:
            observed = qe.observedMetrics()
            keys = observed.keysIterator()
            mine = []
            while keys.hasNext():
                k = keys.next()
                if k.startswith(self.prefix):
                    mine.append(k)
            if not mine:
                return
            rec: dict = {}
            for k in mine:
                row = observed.apply(k)
                rec[k] = [None if row.isNullAt(i) else str(row.get(i))
                          for i in range(row.length())]
            if self.phases:
                tracked = qe.tracker().phases()
                rec["_phases"] = {
                    p: (tracked.apply(p).startTimeMs(), tracked.apply(p).endTimeMs())
                    for p in self.PHASES if tracked.contains(p)
                }
            with self._cv:
                for k in mine:
                    self.seen[k] = rec
                self._cv.notify_all()
        except Exception as e:  # noqa: BLE001 - listener bus swallows errors
            with self._cv:
                self.errors.append(f"{type(e).__name__}: {e}")
                self._cv.notify_all()

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def wait_for(self, names, timeout_s: float) -> None:
        deadline = time.monotonic() + timeout_s
        with self._cv:
            while not all(n in self.seen for n in names):
                left = deadline - time.monotonic()
                if left <= 0:
                    return
                self._cv.wait(left)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


@contextmanager
def query_listener(spark, prefix: str, phases: bool):
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = QueryExecutionListener(prefix, phases)
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        yield listener
    finally:
        manager.unregister(listener)


# --------------------------------------------------------------------------
# run stamp
# --------------------------------------------------------------------------

def steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def source_digest() -> str:
    """Content digest of the package sources: identifies the code under test
    where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def stamp(seed: int, sf: float | None, steal0: int, t0: float) -> dict:
    import pyspark

    wall = time.monotonic() - t0
    return {
        "cpus": CPUS,
        "commit": _commit(),
        "source_digest": source_digest(),
        "sf": sf,
        "seed": seed,
        "steal_sec": round((steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK"), 2),
        "run_wall_s": round(wall, 2),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "pyspark": pyspark.__version__,
    }


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(path.suffix + ".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str) + "\n")
    tmp.replace(path)
