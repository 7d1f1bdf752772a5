"""Workload ``stream_mix``: the delivery stream and the per-key ordered
stream, run side by side under one ``WorkloadManager``.

Delivery (the reference's parts 2-4): ``envelope_file_stream`` ->
``apply_processor`` -> ``with_engine_metrics`` -> ``RetryRouter.attach``.
Beside it a redelivery loop calls ``due_retries`` -> ``apply_processor`` ->
``route_batch`` on a fixed period.  The processor is seeded: 10% of messages
fail their first attempt, 0.1% always fail and must end in the DLQ.

Ordered (the reference's part 5): ``envelope_file_stream`` -> ``watermarked``
-> ``ordered_per_key(idle_timeout_ms=...)`` -> parquet sink, over 16,384
Zipf-popular keys whose ``seq`` grows across files; a small seeded share of
messages is re-sent in a later file as attempt 2.  Event time is the file's
due time, so bounded admission never late-drops a row.

A run has two phases.  (a) Drain: warm-up rounds, then ``DRAIN_ROUNDS``
measured rounds; in each, one backlog file lands in the delivery stream's
source, then one in the ordered stream's, each while both streams are idle,
and each is drained in one large micro-batch.  The throughput is the median
measured round's.
(b) Open loop: a generator thread writes one
parquet file per stream per period with pyarrow (no Spark) and renames it
into the stream's source directory; each file is timed from its due time to
the commit of the micro-batch that read it (file -> micro-batch from the
checkpoint source and offsets logs, commit time from the commit log).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import harness

ARROW_SCHEMA = pa.schema([
    ("message_id", pa.string()),
    ("event_id", pa.int64()),
    ("topic", pa.string()),
    ("key", pa.string()),
    ("seq", pa.int64()),
    ("attempt", pa.int64()),
    ("status", pa.string()),
    ("publish_time", pa.timestamp("us", tz="UTC")),
])


@dataclass(frozen=True)
class Shape:
    """Generator constants of one streaming workload."""

    rate_msgs_per_s: int      # open-loop input rate
    file_period_s: float      # open loop: one file per period
    backlog_msgs: int         # phase (a) backlog, one file
    keys: int
    zipf_s: float             # key popularity exponent (0 = uniform)
    setup_msgs: int = 50      # primer file: the first micro-batch
    # delivery stream
    fail_first_share: float = 0.0
    fail_always_share: float = 0.0
    max_attempts: int = 3
    redelivery_delay_s: int = 1
    redelivery_period_s: float = 5.0
    # ordered stream
    resend_share: float = 0.0
    resend_gap_files: int = 3   # a re-send lands 1..gap files later
    idle_timeout_ms: int = 5000
    watermark_delay: str = "1 second"

    @property
    def file_msgs(self) -> int:
        return round(self.rate_msgs_per_s * self.file_period_s)

    def scaled(self, smoke: bool) -> Shape:
        if not smoke:
            return self
        from dataclasses import replace

        return replace(self, backlog_msgs=min(self.backlog_msgs, 2000))


SHAPES = {
    "delivery": Shape(
        rate_msgs_per_s=200, file_period_s=0.1, backlog_msgs=6_000,
        keys=1024, zipf_s=0.0,
        fail_first_share=0.10, fail_always_share=0.001, max_attempts=2,
    ),
    "ordered": Shape(
        rate_msgs_per_s=100, file_period_s=0.1, backlog_msgs=1_000,
        keys=16384, zipf_s=1.1, resend_share=0.01,
    ),
}
#: phase (a): the streams of each warm-up round.  A stream's large
#: micro-batches get faster over the first five or so (delivery 2.3, 1.8,
#: 1.6, 1.5, 1.4 s; ordered 3.4, 3.1, 2.8, 2.7 s); two warm-up rounds take
#: the steepest part, and four made the median no steadier over five seeds
WARMUP_ROUNDS = (("delivery",), ("delivery", "ordered"))
#: measured rounds, each of both streams; the throughput is their median
DRAIN_ROUNDS = 3
#: ``route_batch`` batch ids of the redelivery loop start here, clear of the
#: stream's own micro-batch ids (idempotent writes overwrite by batch id)
REDELIVERY_BATCH_BASE = 1_000_000


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------

def _mix(seed: int, ids: np.ndarray) -> np.ndarray:
    """splitmix64 of (seed, id): a seeded, order-free per-message draw."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def failure_classes(seed: int, shape: Shape, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(always_fail, fail_first_attempt) masks, disjoint, per event id."""
    u = (_mix(seed, ids) % np.uint64(1_000_000)).astype(np.int64)
    always = u < round(shape.fail_always_share * 1_000_000)
    first = ~always & (u < round((shape.fail_always_share + shape.fail_first_share) * 1_000_000))
    return always, first


def delivery_processor(seed: int, shape: Shape, accumulators=None):
    """The seeded processor: deterministic verdict per (message, attempt).
    With ``accumulators`` (time, rows, failures) it also measures itself."""

    def fn(pdf: pd.DataFrame) -> pd.Series:
        t0 = time.perf_counter()
        always, first = failure_classes(seed, shape, pdf["event_id"].to_numpy())
        ok = ~(always | (first & (pdf["attempt"].to_numpy() == 1)))
        if accumulators is not None:
            spent, rows, failures = accumulators
            spent.add(time.perf_counter() - t0)
            rows.add(len(pdf))
            failures.add(int((~ok).sum()))
        return pd.Series(ok, index=pdf.index)

    return fn


class Feed:
    """Seeded message feed.  Keys follow a Zipf popularity law over
    ``shape.keys`` keys; each key's ``seq`` grows across files; a seeded
    share of messages is re-sent ``1..resend_gap_files`` files later as
    attempt 2.  Event times are stamped when a file is written."""

    def __init__(self, seed: int, shape: Shape, topic: str):
        self.shape = shape
        self.topic = topic
        self.rng = np.random.default_rng(seed)
        weights = 1.0 / np.arange(1, shape.keys + 1) ** shape.zipf_s
        self.key_p = weights / weights.sum()
        self.key_names = np.array([f"key-{k}" for k in range(shape.keys)], dtype=object)
        self.key_seq = np.zeros(shape.keys, dtype=np.int64)
        self.next_id = 0
        self.file_index = 0
        self.pending: dict[int, list[pd.DataFrame]] = {}
        self.resent: set[str] = set()

    def next_file(self, n: int) -> pd.DataFrame:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        keys = self.rng.choice(self.shape.keys, size=n, p=self.key_p)
        occurrence = pd.Series(keys).groupby(keys).cumcount().to_numpy()
        seq = self.key_seq[keys] + 1 + occurrence
        np.maximum.at(self.key_seq, keys, seq)
        df = pd.DataFrame({
            "message_id": [f"m-{i}" for i in ids],
            "event_id": ids,
            "topic": self.topic,
            "key": self.key_names[keys],
            "seq": seq,
            "attempt": np.ones(n, dtype=np.int64),
            "status": "pending",
        })
        if self.shape.resend_share:
            pick = self.rng.random(n) < self.shape.resend_share
            gaps = self.rng.integers(1, self.shape.resend_gap_files + 1, size=n)
            for gap in np.unique(gaps[pick]):
                rows = df[pick & (gaps == gap)].assign(attempt=2)
                self.pending.setdefault(self.file_index + int(gap), []).append(rows)
        df = pd.concat([df, *self.pending.pop(self.file_index, [])], ignore_index=True)
        self.resent.update(df.loc[df["attempt"] == 2, "message_id"])
        self.file_index += 1
        return df


def write_file(df: pd.DataFrame, event_time: float, staging: Path, dest: Path) -> None:
    """Write one input file with pyarrow and rename it into the source dir."""
    ts = pd.Timestamp(round(event_time * 1e6), unit="us", tz="UTC")
    table = pa.Table.from_pandas(df.assign(publish_time=ts), schema=ARROW_SCHEMA,
                                 preserve_index=False)
    tmp = staging / (dest.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, dest)


# --------------------------------------------------------------------------
# Spark-side observation
# --------------------------------------------------------------------------

def progress_listener_cls():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        """Keeps every micro-batch progress report (plain dicts)."""

        def __init__(self):
            self.progress: list[dict] = []
            self.input_rows: dict[str, int] = {}
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)
                name = p.get("name") or ""
                self.input_rows[name] = self.input_rows.get(name, 0) + p["numInputRows"]
            harness.log(f"{p.get('name')} batch {p['batchId']}: {p['numInputRows']} rows, "
                        f"{p.get('durationMs')}")

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def ended_at(self, name: str, rows: int) -> float:
            """Epoch end of the micro-batch of ``name`` that brought its
            input rows to ``rows`` (trigger start + trigger duration)."""
            seen = 0
            for p in self.of(name):
                seen += p["numInputRows"]
                if seen >= rows:
                    return (pd.Timestamp(p["timestamp"]).timestamp()
                            + p["durationMs"]["triggerExecution"] / 1000.0)
            raise harness.BenchError(f"{name} never reached {rows} input rows")

        def rows_of(self, name: str) -> int:
            with self._lock:
                return self.input_rows.get(name, 0)

        def of(self, name: str) -> list[dict]:
            with self._lock:
                return [p for p in self.progress if p.get("name") == name]

    return ProgressListener()


def file_batches(checkpoint: Path) -> dict[str, int]:
    """Input file name -> id of the micro-batch that read it.

    The checkpoint source log numbers its entries by source batch, which
    differs from the micro-batch id once no-data batches run (a watermark or
    timeout batch reads no file); the offsets log maps each micro-batch to
    the source batch it read up to."""
    source_batch: dict[str, int] = {}
    for f in (checkpoint / "sources" / "0").iterdir():
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                entry = json.loads(line)
                source_batch[Path(entry["path"]).name] = int(entry["batchId"])
    reader_of: dict[int, int] = {}
    offsets = sorted(int(f.name) for f in (checkpoint / "offsets").iterdir()
                     if f.name.isdigit())
    for b in offsets:
        log_offset = json.loads(
            (checkpoint / "offsets" / str(b)).read_text().splitlines()[2])["logOffset"]
        reader_of.setdefault(int(log_offset), b)
    return {name: reader_of[sb] for name, sb in source_batch.items() if sb in reader_of}


def commit_times(checkpoint: Path) -> dict[int, float]:
    """Micro-batch id -> commit time, from the checkpoint commit log."""
    out = {}
    for f in (checkpoint / "commits").iterdir():
        if f.name.isdigit():
            out[int(f.name)] = f.stat().st_mtime
    return out


def wait_idle(pipe, listener, kinds, timeout_s: float = 60, settle_s: float = 0.3) -> bool:
    """Wait until every stream waits for data and no micro-batch has ended
    for ``settle_s`` (a data batch that moved the watermark is followed by a
    no-data one)."""
    last = [None, 0.0]

    def quiet() -> bool:
        n = len(listener.progress)
        if n != last[0]:
            last[:] = [n, time.monotonic()]
        return (time.monotonic() - last[1] >= settle_s
                and all(pipe.manager.registry[k].status["message"] == "Waiting for data to arrive"
                        for k in kinds))

    return wait_until(quiet, timeout_s, 0.01)


def wait_until(cond, timeout_s: float, poll_s: float = 0.005) -> bool:
    deadline = time.monotonic() + timeout_s
    while not cond():
        if time.monotonic() > deadline:
            return False
        time.sleep(poll_s)
    return True


# --------------------------------------------------------------------------
# the two pipelines
# --------------------------------------------------------------------------

def make_router_cls():
    from pulsar_pekko_streams_example_spark.streaming.retry import RetryRouter

    class TimedRouter(RetryRouter):
        """RetryRouter whose ``route_batch`` calls are serialised at the
        Python level too (they already are by the ledger lease), so counter
        deltas per call are exact; each call is recorded as a span."""

        def setup_bench(self, tracer):
            self.tracer = tracer
            self.bench_lock = threading.Lock()
            self.final = 0          # messages in sink or DLQ for good
            self.calls = 0
            self.frontier_rows = 0  # rows routed by the redelivery loop
            self.retry_written = False

        def route_batch(self, batch, batch_id: int = 0):
            with self.bench_lock:
                before = dict(self.counters)
                t0 = time.time()
                super().route_batch(batch, batch_id)
                t1 = time.time()
                delta = {k: v - before[k] for k, v in self.counters.items()}
                self.final += delta["acks"] + delta["dlq"]
                self.calls += 1
                self.retry_written |= delta["retries"] > 0
                if batch_id >= REDELIVERY_BATCH_BASE:
                    self.frontier_rows += delta["acks"] + delta["retries"] + delta["dlq"]
            self.tracer.add("retry.route_batch", t0, t1, None, batch_id=batch_id)

    return TimedRouter


def kind_of(name: str) -> str:
    return name.split("-")[0]


class Pipeline:
    """Builds the streams (measured ones and set-up samples) through one
    ``WorkloadManager``; a workload named ``<kind>[-...]`` runs that kind's
    pipeline over ``<base>/<name>/src``."""

    def __init__(self, spark, base: Path, seed: int, shapes: dict[str, Shape],
                 tracer, trace: bool):
        from pulsar_pekko_streams_example_spark.streaming.workload import WorkloadManager

        self.spark, self.base, self.seed = spark, base, seed
        self.shapes, self.tracer = shapes, tracer
        self.routers: dict[str, object] = {}
        self.errors: list[str] = []
        self.accumulators = None
        if trace:
            sc = spark.sparkContext
            self.accumulators = (sc.accumulator(0.0), sc.accumulator(0), sc.accumulator(0))
        self.manager = WorkloadManager(spark, self._factory)

    def dirs(self, name: str) -> dict[str, Path]:
        root = self.base / name
        return {k: root / k for k in ("src", "ckpt", "sink", "retry", "dlq")}

    def _factory(self, workload):
        from pulsar_pekko_streams_example_spark.sources.streams import (
            envelope_file_stream,
            watermarked,
        )

        name = workload.workload_name
        shape = self.shapes[kind_of(name)]
        d = self.dirs(name)
        stream = envelope_file_stream(self.spark, workload.topic)
        if kind_of(name) == "delivery":
            from pulsar_pekko_streams_example_spark.streaming.metrics import with_engine_metrics
            from pulsar_pekko_streams_example_spark.streaming.processor import apply_processor

            router = make_router_cls()(
                sink_path=str(d["sink"]), retry_path=str(d["retry"]),
                dlq_path=str(d["dlq"]), redelivery_delay_s=shape.redelivery_delay_s,
                max_attempts=shape.max_attempts,
            )
            router.setup_bench(self.tracer)
            self.routers[name] = router
            processed = with_engine_metrics(apply_processor(stream, self.processor()))
            writer = router.attach(processed, str(d["ckpt"]))
        else:
            from pulsar_pekko_streams_example_spark.streaming.ordered_state import ordered_per_key

            ordered = ordered_per_key(
                watermarked(stream, shape.watermark_delay, guard_metrics="event_time_guard"),
                idle_timeout_ms=shape.idle_timeout_ms,
            )
            writer = (ordered.writeStream.format("parquet").option("path", str(d["sink"]))
                      .option("checkpointLocation", str(d["ckpt"])).outputMode("append"))
        return writer.queryName(name).start()

    def processor(self):
        return delivery_processor(self.seed, self.shapes["delivery"], self.accumulators)

    def start(self, name: str) -> tuple[float, float]:
        """Start a stream; returns (call start, call end) epoch seconds."""
        from pulsar_pekko_streams_example_spark.streaming.workload import Workload

        t0 = time.time()
        self.manager.start(Workload(name, topic=str(self.dirs(name)["src"])))
        t1 = time.time()
        self.tracer.add("workload.start", t0, t1, None, workload=name)
        return t0, t1

    def stop(self, name: str, drain: bool = True) -> float:
        t0 = time.time()
        self.manager.stop(name, drain=drain)
        t1 = time.time()
        self.tracer.add("workload.stop", t0, t1, None, workload=name)
        return t1 - t0


class Redelivery:
    """Benchmark-driven redelivery: due_retries -> apply_processor ->
    route_batch.  ``step`` runs it once; ``start`` runs it once per period
    beside the stream, the first period after the call."""

    def __init__(self, pipe: Pipeline, name: str):
        self.pipe, self.router = pipe, pipe.routers[name]
        self.period = pipe.shapes["delivery"].redelivery_period_s
        self.calls = 0
        self.stop_event = threading.Event()
        self.thread: threading.Thread | None = None

    def step(self) -> None:
        from pulsar_pekko_streams_example_spark.streaming.processor import apply_processor

        if not self.router.retry_written:
            return
        t0 = time.time()
        # snapshot: the frontier is materialised before routing, so routing's
        # own ledger writes cannot change it
        frontier = self.router.due_retries(self.pipe.spark, snapshot=True)
        self.pipe.tracer.add("retry.due_retries", t0, time.time(), None)
        if not frontier.isEmpty():
            batch = frontier.drop("available_at", "_batch_id")
            self.router.route_batch(apply_processor(batch, self.pipe.processor()),
                                    REDELIVERY_BATCH_BASE + self.calls)
            self.calls += 1

    def start(self) -> None:
        def loop() -> None:
            self.pipe.spark.sparkContext.setLocalProperty("spark.scheduler.pool", "redelivery")
            tick = time.time()
            while not self.stop_event.wait(max(0.0, tick + self.period - time.time())):
                tick = time.time()
                try:
                    self.step()
                except Exception as e:  # noqa: BLE001 - ends the run, reported
                    self.pipe.errors.append(f"redelivery loop: {type(e).__name__}: {e}")
                    return

        self.thread = threading.Thread(target=loop, name="redelivery", daemon=True)
        self.thread.start()

    def stop(self) -> None:
        self.stop_event.set()
        if self.thread is not None:
            self.thread.join(timeout=120)


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def _counts(ids: np.ndarray, total: int) -> np.ndarray:
    return np.bincount(ids[(ids >= 0) & (ids < total)], minlength=total)


def check_delivery(spark, pipe: Pipeline, name: str, total: int,
                   metrics_listener) -> tuple[dict, list]:
    """Exactly-once in sink + DLQ, DLQ equal to the always-fail set, and the
    engine metrics and router counters reconciling with the ledgers."""
    d = pipe.dirs(name)
    shape = pipe.shapes["delivery"]
    router = pipe.routers[name]
    always, first = failure_classes(pipe.seed, shape, np.arange(total, dtype=np.int64))

    def ids(path: Path) -> np.ndarray:
        if not path.exists():
            return np.array([], dtype=np.int64)
        return spark.read.parquet(str(path)).select("event_id").toPandas()["event_id"].to_numpy()

    sink, dlq = ids(d["sink"]), ids(d["dlq"])
    sink_n, dlq_n = _counts(sink, total), _counts(dlq, total)
    seen = sink_n + dlq_n
    failures = {
        "delivery_lost": int((seen == 0).sum()),
        "delivery_duplicated": int((seen > 1).sum()),
        "delivery_misrouted": int(((dlq_n > 0) & ~always).sum() + ((sink_n > 0) & always).sum()),
        "delivery_stray": int(((sink < 0) | (sink >= total)).sum()
                              + ((dlq < 0) | (dlq >= total)).sum()),
    }
    errors = []
    totals = metrics_listener.totals()
    for k, v in {"processed": total, "failures": int((always | first).sum())}.items():
        if totals[k] != v:
            errors.append(f"engine metrics {k}={totals[k]}, ledgers say {v}")
    want = {
        "acks": total - int(always.sum()),
        "dlq": int(always.sum()),
        "resolved": int(first.sum()),
        "retries": int(first.sum()) + (shape.max_attempts - 1) * int(always.sum()),
    }
    for k, v in want.items():
        if router.counters[k] != v:
            errors.append(f"router counter {k}={router.counters[k]}, ledgers say {v}")
    return failures, errors


def check_ordered(spark, pipe: Pipeline, name: str, feed: Feed, progress: list[dict],
                  metrics_listener) -> tuple[dict, list]:
    """Every message emitted once (a re-sent one twice, the second flagged
    ``is_redelivery``), per-key ``processing_index`` gap-free within each
    cursor epoch, in order unless flagged, and zero watermark drops."""
    out = spark.read.parquet(str(pipe.dirs(name)["sink"])).toPandas()
    total = feed.next_id
    ev = out["message_id"].str.slice(2).astype(np.int64).to_numpy()
    n = _counts(ev, total)
    resent = np.zeros(total, dtype=bool)
    resent[[int(m[2:]) for m in feed.resent]] = True
    want_n = np.where(resent, 2, 1)
    red = out["is_redelivery"].to_numpy(dtype=bool)
    red_n = _counts(ev[red], total)
    # each cursor epoch numbers its key's rows 0..k-1: per key the indices
    # are contiguous from 0 and no index occurs more often than the one
    # before it
    counts = (out.groupby(["key", "processing_index"]).size().rename("c").reset_index()
              .sort_values(["key", "processing_index"]))
    by_key = counts.groupby("key")
    bad_index = ((counts["c"] > by_key["c"].shift(1).fillna(np.inf))
                 | (by_key["processing_index"].diff().fillna(1) != 1)
                 | (by_key["processing_index"].transform("min") != 0))
    failures = {
        "ordered_lost": int((n == 0).sum()),
        "ordered_duplicated": int((n > want_n).sum()),
        "ordered_partial": int(((n > 0) & (n < want_n)).sum()),
        "ordered_misflagged": int(((red_n != resent) & (n == want_n)).sum()),
        "ordered_out_of_order": int((~out["in_order"].to_numpy(dtype=bool) & ~red).sum()),
        "ordered_index_gaps": int(bad_index.sum()),
        "ordered_stray": int(((ev < 0) | (ev >= total)).sum()),
    }
    errors = []
    dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                  for p in progress for op in p.get("stateOperators", []))
    if dropped:
        errors.append(f"{dropped} rows dropped by the watermark")
    guard = metrics_listener.guard_totals()
    if guard["dropped"]:
        errors.append(f"event-time guard dropped {guard['dropped']} rows")
    return failures, errors


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------

def layer_metrics(progress: dict[str, list[dict]], pipe: Pipeline, gen: dict,
                  starts: list[float], stops: list[float], jvm: dict, tracer) -> dict:
    layers: dict[str, float] = {f"jvm.{k}": v for k, v in jvm.items()}

    def dur(p: dict, k: str) -> float:
        return p.get("durationMs", {}).get(k, 0) or 0

    every = [p for ps in progress.values() for p in ps]
    layers.update({
        "sources.latest_offset_ms": sum(dur(p, "latestOffset") for p in every),
        "sources.get_batch_ms": sum(dur(p, "getBatch") for p in every),
        "sources.input_rows": sum(p["numInputRows"] for p in every),
        "streaming.batches": len(every),
        "streaming.query_planning_ms": sum(dur(p, "queryPlanning") for p in every),
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in every),
        "streaming.commit_ms": sum(dur(p, "commitOffsets") + dur(p, "walCommit")
                                   for p in every),
        "workload.start_s": harness.median(starts),
        "workload.stop_s": harness.median(stops),
        "generator.late_max_s": gen["late_max_s"],
        "generator.backlog_files_max": gen["backlog_files_max"],
    })
    for name, ps in progress.items():
        for p in ps:
            t_end = (pd.Timestamp(p["timestamp"]).timestamp()
                     + dur(p, "triggerExecution") / 1000.0)
            tracer.add("micro_batch", t_end - dur(p, "triggerExecution") / 1000.0, t_end,
                       None, stream=name, batch_id=p["batchId"], rows=p["numInputRows"])
    router = pipe.routers["delivery"]
    spent, rows, failures = pipe.accumulators
    layers.update({
        "processor.fn_s": spent.value,
        "processor.rows": rows.value,
        "processor.failures": failures.value,
        "retry.route_batch_s": tracer.total("retry.route_batch"),
        "retry.route_batch_calls": router.calls,
        "retry.due_retries_s": tracer.total("retry.due_retries"),
        "retry.frontier_rows": router.frontier_rows,
        "retry.redelivered": router.counters["resolved"],
        "retry.dlq": router.counters["dlq"],
    })
    ops = [(p["stateOperators"][0], p["numInputRows"])
           for p in progress["ordered"] if p.get("stateOperators")]
    layers.update({
        "ordered_state.keys_per_batch": harness.median(
            [o["numRowsUpdated"] for o, n in ops if n] or [0]),
        "ordered_state.state_rows": ops[-1][0]["numRowsTotal"] if ops else 0,
        "ordered_state.update_ms": sum(o.get("allUpdatesTimeMs", 0) for o, _ in ops),
        "ordered_state.commit_ms": sum(o.get("commitTimeMs", 0) for o, _ in ops),
        "ordered_state.memory_mb": max((o.get("memoryUsedBytes", 0) for o, _ in ops),
                                       default=0) / 1e6,
        "ordered_state.expired": sum(o.get("numRowsRemoved", 0) for o, _ in ops),
    })
    return layers


def latencies(ckpt: Path, due: dict[str, float]) -> tuple[dict[str, float], int]:
    """Per open-loop file: commit time of the batch that read it, and the
    number of files that never committed."""
    batch_of, committed = file_batches(ckpt), commit_times(ckpt)
    commit_of = {f: committed[batch_of[f]] for f in due
                 if f in batch_of and batch_of[f] in committed}
    return commit_of, len(due) - len(commit_of)


def run(seed: int, seconds: int, trace: bool, work: Path, smoke: bool, tracer) -> dict:
    shapes = {k: s.scaled(smoke) for k, s in SHAPES.items()}
    kinds = list(shapes)
    staging = work / "staging"
    staging.mkdir(parents=True)

    t_setup = time.monotonic()
    from pulsar_pekko_streams_example_spark.streaming.metrics import install

    spark = harness.start_session("perfbench-stream_mix", work)
    spark.range(1).count()
    session_s = time.monotonic() - t_setup
    harness.log(f"session up in {session_s:.2f}s")

    progress_listener = progress_listener_cls()
    spark.streams.addListener(progress_listener)
    pipe = Pipeline(spark, work / "streams", seed, shapes, tracer, trace)
    topics = {k: f"persistent://perfbench/stream_mix/{k}" for k in kinds}

    # inputs of the measured streams, generated before they start: a primer
    # file (the first micro-batch, timed as set-up), the backlog, the open loop
    feeds, backlog, open_files, primer = {}, {}, {}, {}
    rounds = [*WARMUP_ROUNDS, *[kinds] * DRAIN_ROUNDS]
    n_open = max(1, round(seconds / shapes[kinds[0]].file_period_s))
    for k in kinds:
        shape = shapes[k]
        feeds[k] = Feed(seed + (0 if k == "delivery" else 1), shape, topics[k])
        primer[k] = feeds[k].next_file(shape.setup_msgs)
        backlog[k] = [feeds[k].next_file(shape.backlog_msgs)
                      for r in rounds if k in r]
        open_files[k] = [feeds[k].next_file(shape.file_msgs) for _ in range(n_open)]
    backlog_rows = {k: len(primer[k]) + sum(len(f) for f in backlog[k]) for k in kinds}
    total_rows = {k: backlog_rows[k] + sum(len(f) for f in open_files[k]) for k in kinds}
    # one event time for the primer and every backlog: after the primer's
    # micro-batch, the backlogs do not move the watermark
    t_event = time.time() - shapes[kinds[0]].file_period_s
    for k in kinds:
        src = pipe.dirs(k)["src"]
        src.mkdir(parents=True)
        write_file(primer[k], t_event, staging, src / "primer.parquet")
        for i, df in enumerate(backlog[k]):
            write_file(df, t_event, staging, staging / f"{k}-backlog-{i}")
    done = {
        "delivery": lambda: pipe.routers["delivery"].final,
        "ordered": lambda: progress_listener.rows_of("ordered"),
    }

    def reached(target: dict[str, int]) -> bool:
        return bool(pipe.errors) or all(done[k]() >= target[k] for k in kinds)

    metrics_listener = install(spark)
    jobs_before = max(harness.all_job_ids(spark), default=-1)

    # set-up: WorkloadManager.start until every stream commits its first batch
    starts = []
    t0 = time.time()
    for k in kinds:
        a, b = pipe.start(k)
        starts.append(b - a)
    if not wait_until(lambda: all((pipe.dirs(k)["ckpt"] / "commits" / "0").exists()
                                  for k in kinds), 120):
        raise harness.BenchError("the streams never committed a first micro-batch")
    stream_setup_s = time.time() - t0
    setup_s = session_s + stream_setup_s
    harness.log(f"streams up in {stream_setup_s:.2f}s")
    # phase (a): drain rounds.  One stream at a time, so neither backlog
    # micro-batch runs beside the other: the backlog file is renamed into the
    # source while both streams are idle, and timed until the micro-batch
    # that read it ends.  A round's rate is its messages over both times.
    rates, drain_s = [], []
    target = {k: len(primer[k]) for k in kinds}
    landed = {k: 0 for k in kinds}
    for r, members in enumerate(rounds):
        spent, rows = {}, 0
        for k in members:
            if not wait_idle(pipe, progress_listener, kinds):
                raise harness.BenchError("the streams never went idle before a drain round")
            i = landed[k]
            landed[k] += 1
            t_a = time.time()
            os.replace(staging / f"{k}-backlog-{i}", pipe.dirs(k)["src"] / f"backlog-{i}.parquet")
            target[k] += len(backlog[k][i])
            rows += len(backlog[k][i])
            # first pass only: redeliveries start after the drain
            if not wait_until(lambda: bool(pipe.errors)
                              or progress_listener.rows_of(k) >= target[k], 150, 0.01) \
                    or pipe.errors:
                raise harness.BenchError("; ".join(pipe.errors) or "backlog not drained in 150 s")
            t_end = progress_listener.ended_at(k, target[k])
            tracer.add("phase.drain", t_a, t_end, None, round=r, stream=k)
            spent[k] = t_end - t_a
        drain_s.append(spent)
        rates.append(rows / sum(spent.values()))
        harness.log(f"drain round {r}: {rates[-1]:.1f} msg/s in {spent}")
    # the backlog's redeliveries, stepped here with the streams idle, so no
    # lease wait lands in the drain or the open loop
    redelivery = Redelivery(pipe, "delivery")
    if not wait_until(lambda: redelivery.step() or reached(backlog_rows), 120, 1.0) \
            or pipe.errors:
        raise harness.BenchError("; ".join(pipe.errors) or "backlog redeliveries not final")

    # phase (b): open loop, one file per stream per period, timed from its due time
    due: dict[str, dict[str, float]] = {k: {} for k in kinds}
    late: list[float] = []
    period = shapes[kinds[0]].file_period_s

    def generator() -> None:
        t0 = time.time() + period
        for i in range(n_open):
            t_due = t0 + i * period
            pause = t_due - time.time()
            if pause > 0:
                time.sleep(pause)
            for k in kinds:
                fname = f"open-{i:05d}.parquet"
                write_file(open_files[k][i], t_due, staging, pipe.dirs(k)["src"] / fname)
                due[k][fname] = t_due
            late.append(time.time() - t_due)

    gen = threading.Thread(target=generator, name="generator")
    t_b = time.time()
    gen.start()
    redelivery.start()
    gen.join()
    complete = wait_until(lambda: reached(total_rows), 120, 0.01)
    t_done = time.time()
    tracer.add("phase.open_loop", t_b, t_done, None)
    harness.log(f"open loop done, complete={complete}")
    stops = [pipe.stop(k) for k in kinds]
    redelivery.stop()
    jobs = [j for j in harness.all_job_ids(spark) if j > jobs_before]
    spark.streams.removeListener(progress_listener)

    lat: dict[str, list[float]] = {}
    errors = list(pipe.errors)
    all_commits: dict[str, float] = {}
    for k in kinds:
        commit_of, unmatched = latencies(pipe.dirs(k)["ckpt"], due[k])
        lat[k] = [commit_of[f] - due[k][f] for f in commit_of]
        all_commits.update({f"{k}/{f}": t for f, t in commit_of.items()})
        if unmatched:
            errors.append(f"{unmatched} {k} open-loop files never committed")
    # generator backlog: files due but not yet committed, at each due time
    due_all = sorted((t, f"{k}/{f}") for k in kinds for f, t in due[k].items())
    backlog_max = max((sum(1 for t2, f2 in due_all[: i + 1]
                           if all_commits.get(f2, float("inf")) > t)
                       for i, (t, _) in enumerate(due_all)), default=0)
    if not complete:
        errors.append(f"inputs not all processed in time: "
                      f"{ {k: (done[k](), total_rows[k]) for k in kinds} }")

    progress = {k: progress_listener.of(k) for k in kinds}
    f_del, e_del = check_delivery(spark, pipe, "delivery", feeds["delivery"].next_id,
                                  metrics_listener)
    f_ord, e_ord = check_ordered(spark, pipe, "ordered", feeds["ordered"], progress["ordered"],
                                 metrics_listener)
    failures = {**f_del, **f_ord}
    errors += e_del + e_ord
    every_lat = lat["delivery"] + lat["ordered"]
    gen_stats = {"late_max_s": max(late, default=0.0), "backlog_files_max": backlog_max}
    result = {
        "attempted": feeds["delivery"].next_id + total_rows["ordered"],
        "failed": sum(failures.values()),
        "failures": {k: v for k, v in failures.items() if v},
        "check_errors": errors,
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": harness.median(rates[len(WARMUP_ROUNDS):]),
            "latency_mean_s": sum(every_lat) / len(every_lat) if every_lat else float("nan"),
        },
        "detail": {
            "session_s": round(session_s, 3),
            "stream_setup_s": round(stream_setup_s, 3),
            "drain_s": [{k: round(v, 3) for k, v in d.items()} for d in drain_s],
            "drain_msgs_per_s": [round(v, 1) for v in rates],
            "backlog_msgs": backlog_rows,
            "open_loop_files": {k: len(due[k]) for k in kinds},
            "open_loop_rate_msgs_per_s": {k: shapes[k].rate_msgs_per_s for k in kinds},
            "latency_samples": len(every_lat),
            "latency_p50_s": {k: round(harness.median(v), 3)
                              for k, v in {**lat, "all": every_lat}.items() if v},
            "latency_p90_s": {k: round(harness.p90(v), 3)
                              for k, v in {**lat, "all": every_lat}.items() if v},
            "micro_batches": {k: len(v) for k, v in progress.items()},
            "generator": gen_stats,
            "tail_s": round(t_done - t_b - n_open * period, 3),
        },
        "sf": None,
        "spark": spark,
    }
    if trace:
        result["layers"] = layer_metrics(progress, pipe, gen_stats, starts, stops,
                                         harness.jvm_totals(spark, jobs), tracer)
    return result
