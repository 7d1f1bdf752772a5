"""Control plane: dynamic workload discovery → per-workload streaming queries.

Reference: ``WorkloadManagementService`` (``part4/WorkloadManagementService.scala``)
— a registry of running streams (TrieMap ``:105-106``), backpressured
start/stop queues (``:118-152``), a 5-second discovery tick (``:161-202``),
set-difference reconciliation (``:44-50``), duplicate-start filtering
(``:122-124``) and graceful drain-then-shutdown (``part1/PulsarPekkoSource.scala:75-113``).

Spark-first: one ``StreamingQuery`` per workload; the registry is a dict on
the driver (control state is tiny — it was a TrieMap in the reference too);
reconciliation is set difference over workload names (its SQL form is the
``reconciliation`` anti-join query in plans/core_queries.py); graceful stop =
``processAllAvailable()`` then ``stop()``.  Each workload gets its own FAIR
scheduler pool so a busy workload can't starve the others (the reference's
per-stream dispatcher isolation).
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery


@dataclass(frozen=True)
class Workload:
    """part4/WorkloadManagementService.scala:35-42 — equality by name only.

    The name IS the identity: the registry keys on it, reconciliation diffs
    on it, the dup-filter compares it.  A NULL/empty name would give the
    workload no identity at all (it could never be targeted for deletion,
    and every nameless workload would collide), so construction fails closed
    (round-9 control-plane sweep).

    Duplicate names with CONFLICTING configs in one requested set collapse
    by equality-by-name — first inserted wins (Python set semantics, pinned
    by test) — the same collapse the reference's case-class equality
    produces in its Set[Workload].
    """

    workload_name: str
    topic: str  # source identifier (path/topic)

    def __post_init__(self) -> None:
        if not isinstance(self.workload_name, str) or not self.workload_name:
            raise ValueError(
                f"workload_name must be a non-empty string, got {self.workload_name!r}"
            )

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Workload) and other.workload_name == self.workload_name

    def __hash__(self) -> int:
        return hash(self.workload_name)


@dataclass
class WorkloadReport:
    """part4/WorkloadManagementService.scala:44-50.

    ``start_errors`` / ``stop_errors`` carry the tick's per-workload
    failures (errors-as-data): one poisoned workload must not abort the
    rest of the reconciliation — the reference's queues run under a
    resume supervision strategy (L10), not stop-the-world."""

    requested: set[Workload]
    existing: set[Workload]
    start_errors: dict[str, str] = field(default_factory=dict)
    stop_errors: dict[str, str] = field(default_factory=dict)

    @property
    def workloads_to_start(self) -> set[Workload]:
        return self.requested - self.existing

    @property
    def workloads_to_delete(self) -> set[Workload]:
        return self.existing - self.requested


StreamFactory = Callable[[Workload], StreamingQuery]


@dataclass
class WorkloadManager:
    """L1–L6: start/stop queues collapse into direct (locked) registry ops —
    Spark's StreamingQuery.start is already async; queue backpressure was a
    Pekko materialization concern that has no analog here."""

    spark: SparkSession
    stream_factory: StreamFactory
    registry: dict[str, StreamingQuery] = field(default_factory=dict)
    discovery_errors: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    #: the live discovery loop, if any — run_discovery_loop is start-once
    #: while it is alive (the reference's ``started`` AtomicBoolean)
    _discovery_thread: threading.Thread | None = field(
        default=None, repr=False, compare=False
    )

    def running(self) -> set[str]:
        with self._lock:
            return set(self.registry)

    def start(self, workload: Workload) -> bool:
        """L1 with T6 duplicate filter: no-op if the name is registered.

        Starts are SERIAL (the registry lock is held across the factory
        call) — deliberate parity, not coarseness: the reference's start
        queue is one materialized stream that creates workloads one at a
        time (``part4/WorkloadManagementService.scala:118-132``, a
        ``Source.queue`` through a single ``createAStreamForAWorkload``
        flow), and its dup-filter reads the registry on the same serial
        path.  Serializing start against the filter also CLOSES the
        check-then-create race the reference shrugs off ("isn't sufficient
        but is good enough for a demo", ``:121-124``): here a duplicate
        start is impossible, not merely unlikely."""
        with self._lock:
            if workload.workload_name in self.registry:
                return False
            # per-workload FAIR pool — the per-stream dispatcher isolation
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", workload.workload_name
            )
            try:
                query = self.stream_factory(workload)
            finally:
                self.spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
            self.registry[workload.workload_name] = query
            return True

    def stop(self, workload_name: str, drain: bool = True) -> bool:
        """L2 + L6 graceful shutdown: drain in-flight work, then stop.

        If ``query.stop()`` itself fails, the query is RE-REGISTERED before
        the error propagates: popping it and then losing the stop would
        leave an ACTIVE stream no tick can ever target again (a zombie
        consuming the topic forever, round-9 control-plane sweep).  Kept
        registered, the next reconcile tick simply retries the delete —
        desired-state convergence instead of a leak.

        Pop-then-drain window, same as the reference: the name leaves the
        registry BEFORE the drain completes (the reference's deletion is
        ``runningWorkload.remove`` then ``drainAndShutdown``,
        ``part4/WorkloadManagementService.scala:138-147``), so a start of
        the same name issued DURING the drain would create a successor
        while the predecessor flushes.  Under the single discovery tick —
        the intended sole mutator — stop and start of one name never
        overlap; out-of-band manual calls share the reference's window
        (and a successor reusing the same checkpoint fails loud on the
        checkpoint lock rather than double-consuming)."""
        with self._lock:
            query = self.registry.pop(workload_name, None)
        if query is None:
            return False
        if drain and query.isActive:
            try:
                query.processAllAvailable()  # complete() + drain analog
            except Exception:
                pass
        try:
            query.stop()  # close() analog
        except Exception:
            with self._lock:
                # setdefault: if a concurrent start() already took the name,
                # the new query wins — the failed-stop one is surfaced to the
                # caller via the raise either way
                self.registry.setdefault(workload_name, query)
            raise
        return True

    def reconcile(self, requested: set[Workload]) -> WorkloadReport:
        """L3/L4 one discovery tick: diff desired vs running, apply both sides.

        Per-workload isolation: a stream factory that raises (broker down
        for ONE topic, a misconfigured workload) must not abort the tick —
        pre-fix, set-iteration order decided which healthy workloads
        silently never started.  Failures land in the report's
        ``start_errors`` / ``stop_errors`` and the next tick retries them
        (the failed start never registered; the failed stop stays
        registered)."""
        with self._lock:
            existing_names = set(self.registry)
        existing = {Workload(n, "") for n in existing_names}
        report = WorkloadReport(requested=set(requested), existing=existing)
        for w in report.workloads_to_start:
            try:
                self.start(w)
            except Exception as e:
                report.start_errors[w.workload_name] = f"{type(e).__name__}: {e}"
        for w in report.workloads_to_delete:
            try:
                self.stop(w.workload_name)
            except Exception as e:
                report.stop_errors[w.workload_name] = f"{type(e).__name__}: {e}"
        return report

    #: ring buffer of the most recent discovery-tick failures (L10
    #: supervision observability: resumed, not swallowed)
    MAX_DISCOVERY_ERRORS = 16

    def run_discovery_loop(
        self,
        get_requested: Callable[[], set[Workload]],
        interval_s: float = 5.0,
        stop_event: threading.Event | None = None,
        restart_join_timeout_s: float = 120.0,
    ) -> threading.Thread:
        """L3 discovery tick (Source.tick 5 s analog) on a daemon thread.

        The loop SURVIVES tick failures (a flaky ``get_requested`` config
        store, a reconcile error): pre-fix one transient exception killed
        the daemon thread and the control plane silently stopped converging
        forever — the worst failure mode a reconciler can have.  Reference:
        the discovery tick runs under a resume supervision strategy
        (part4/WorkloadManagementService.scala:161-202 + L10).  Failures are
        recorded on ``self.discovery_errors`` (newest last, bounded).

        START-ONCE (the reference's ``started`` AtomicBoolean,
        ``part4/WorkloadManagementService.scala:109-110``): a second call
        while a loop is LIVE returns the existing thread instead of
        spawning a competitor — two ticks racing reconcile would double
        every start/stop error and fight over the registry for no
        convergence gain.  The returned thread may therefore be the
        EXISTING loop, running its own ``get_requested``/``interval_s``
        (check identity with ``is`` if it matters); passing an explicit
        ``stop_event`` in that case is an ERROR rather than a silent no-op
        — an Event that controls nothing is the footgun, not the reuse.
        A call after the previous loop was told to stop WAITS for its
        final tick to finish (join happens outside the registry lock — the
        dying tick's reconcile needs it) and then starts a fresh loop, so
        two reconciles never run concurrently even across a
        set-event-then-restart with no join in between — restartable, like
        re-running the service.  That wait is BOUNDED (round-12):
        ``restart_join_timeout_s`` caps how long the caller blocks behind
        a predecessor whose final reconcile is hung inside a query stop;
        on expiry the call RAISES with the still-draining thread in the
        message rather than blocking a control plane forever.  The raise
        changes NO state (the predecessor keeps draining, nothing was
        started), so a caller facing a merely-SLOW stop — a busy cluster
        draining a large in-flight micro-batch — simply retries once the
        drain completes; the default is sized generously above any healthy
        query-stop time for exactly that caller.  An
        already-SET ``stop_event`` is rejected up front: a loop built on
        it would exit before running a single reconcile — a silent no-op
        masquerading as a started control plane."""
        if stop_event is not None and stop_event.is_set():
            raise ValueError(
                "stop_event is already set: the discovery loop would exit "
                "before its first reconcile — pass a fresh Event (or none)"
            )
        while True:
            with self._lock:
                prior = self._discovery_thread
                if prior is None or not prior.is_alive():
                    stop_event = stop_event or threading.Event()

                    def loop(ev: threading.Event = stop_event) -> None:
                        while not ev.is_set():
                            try:
                                self.reconcile(get_requested())
                            except Exception as e:
                                self.discovery_errors.append(
                                    f"{type(e).__name__}: {e}"
                                )
                                del self.discovery_errors[
                                    : -self.MAX_DISCOVERY_ERRORS
                                ]
                            ev.wait(interval_s)

                    t = threading.Thread(
                        target=loop, daemon=True, name="workload-discovery"
                    )
                    t.stop_event = stop_event  # type: ignore[attr-defined]
                    self._discovery_thread = t
                    t.start()
                    return t
                if not prior.stop_event.is_set():
                    if stop_event is not None and stop_event is not prior.stop_event:
                        raise RuntimeError(
                            "a discovery loop is already live; the passed "
                            "stop_event would control nothing — stop the "
                            "existing loop via its thread's .stop_event first, "
                            "or call without stop_event to reuse it"
                        )
                    return prior
            # prior was told to stop but is still finishing its final tick:
            # wait OUTSIDE the lock (that tick's reconcile acquires it),
            # then re-check — a successor never overlaps its predecessor.
            # BOUNDED: a final tick hung inside a query stop must not
            # block the restart caller indefinitely — raise with the
            # draining thread named so the operator can see what's stuck
            prior.join(timeout=restart_join_timeout_s)
            if prior.is_alive():
                raise TimeoutError(
                    f"previous discovery loop {prior.name!r} is still "
                    f"draining its final reconcile after "
                    f"{restart_join_timeout_s}s; not starting a successor "
                    "(two reconciles must never overlap) — retry once the "
                    "stall clears, or investigate the hung workload stop"
                )

    def shutdown_all(self) -> dict[str, str]:
        """L9 coordinated shutdown: drain + stop every registered query.
        One failing stop must not strand the rest; failures are returned
        (name → error) and the failed queries stay registered for a retry."""
        errors: dict[str, str] = {}
        for name in list(self.running()):
            try:
                self.stop(name)
            except Exception as e:
                errors[name] = f"{type(e).__name__}: {e}"
        return errors
