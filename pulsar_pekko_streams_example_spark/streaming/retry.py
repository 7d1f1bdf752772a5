"""Retry/DLQ delivery semantics (S6/S7) without a broker.

Reference behavior: ack on success (``part2/PekkoStreamGenerator.scala:62-75``),
negative-ack on failure → broker redelivers after 10 s
(``:77-87`` + ``util/PulsarClientWrapper.scala:171``), up to effectively
unbounded attempts.

Spark has no broker nack; the idiomatic replacement is delivery-state-as-data:

- success rows  → the sink table (offset commit analog: the micro-batch
  checkpoint makes this exactly-once per sink partition file)
- failure rows  → a retry table with ``available_at = now + delay`` and
  ``attempt + 1``; a re-ingestion pass filters ``available_at <= now``
- rows exceeding ``max_attempts`` → the DLQ table

Everything is a plain DataFrame write inside ``foreachBatch`` (streaming) or
a direct call (batch) — idempotent, checkpointable, and at scale the retry
table is tiny relative to the main stream (≤ failure rate × traffic).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Columns every retry-ledger row carries regardless of envelope payload —
#: the schema ``due_retries`` returns when the ledger has never been written
#: (payload columns ride along WHEN present; the lifecycle columns are the
#: declared contract, so an empty frontier supports ``select("attempt")`` /
#: ``select("available_at")`` exactly like a populated one).  ``_batch_id``
#: is the partition column of every micro-batch write (``_write``).
FRONTIER_SCHEMA = (
    "message_id string, attempt long, ok boolean, "
    "available_at timestamp, _batch_id int, _redelivered boolean"
)


#: target size of one consolidated archive file written by the sink fold
_ARCHIVE_TARGET_BYTES = 1 << 30  # ~1 GiB


def _archive_file_count(archived_bytes: int) -> int:
    """Consolidated-file count for a sink fold: one file per ~1 GiB of
    archived bytes, floor 1 — small folds stay a single file (the
    small-files bound), a year of folded history splits into readable
    ~1 GiB units instead of one monster file."""
    return max(1, (archived_bytes + _ARCHIVE_TARGET_BYTES - 1) // _ARCHIVE_TARGET_BYTES)


@dataclass
class RetryRouter:
    """Routes processed rows (with ok/error columns) to sink / retry / DLQ."""

    sink_path: str
    retry_path: str
    dlq_path: str
    redelivery_delay_s: int = 10  # PulsarClientWrapper.scala:171
    max_attempts: int = 5
    #: terminal-SUCCESS index for the retry frontier (defaults to
    #: ``<retry_path>-resolved``).  An acked REDELIVERY (attempt > 1) must
    #: stop the redelivery loop the way the broker's ack does — but the
    #: retry ledger is append-only and the sink is the full traffic, far
    #: too big to anti-join on every frontier scan.  Only messages that
    #: previously FAILED can ever be in the frontier, so recording just the
    #: attempt>1 acks keeps the exclusion index bounded by the failure
    #: rate, like the DLQ.
    resolved_path: str = ""
    #: how long ``route_batch`` and the maintenance ops wait for the ledger
    #: lease before failing cleanly (see ``_lease``)
    lease_timeout_s: float = 60.0
    #: live in-process delivery counters (the reference's success/error/
    #: retry counter gauges, ``util/MetricsCollector.scala``): incremented
    #: by every ``route_batch`` from the SAME aggregate pass that gates the
    #: ledger writes, so they cost no extra job.  THIS process's view only —
    #: a driver restart resets them; the ledgers are the durable truth
    #: (``status()`` reports both side by side).
    counters: dict = field(
        default_factory=lambda: {
            "batches": 0, "acks": 0, "retries": 0, "dlq": 0, "resolved": 0,
        },
        repr=False,
        compare=False,
    )
    _counters_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    def _resolved(self) -> str:
        return self.resolved_path or self.retry_path + "-resolved"

    def _lease_path(self) -> str:
        return self.retry_path + ".lease"

    @staticmethod
    def _flock_nb_retry(fd: int, deadline: float) -> bool:
        """Try-acquire an exclusive ``flock`` on ``fd``, retrying every
        50 ms until ``deadline`` (``time.monotonic()`` terms).  Returns
        whether the lock was acquired — the one polling loop shared by the
        mutator lease (long deadline, raises on expiry at the call site)
        and ``status()``'s reader try-lock (sub-second budget, returns the
        contended shape on expiry)."""
        import fcntl

        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return True
            except OSError:
                if time.monotonic() >= deadline:
                    return False
                time.sleep(0.05)

    @contextmanager
    def _lease(self, op: str):
        """Advisory exclusive lease serializing every ledger mutator.

        The maintenance ops (``compact``, ``requeue_dlq``, ``compact_sink``)
        swap whole directories with two renames; a ``route_batch`` racing a
        swap could write into a directory that is renamed away mid-batch.
        The docstring-only "call between micro-batches" contract is
        MECHANICAL: every mutator takes this lease, so concurrent callers
        serialize, and a caller that cannot acquire it within
        ``lease_timeout_s`` fails with a clean error naming the holder —
        both ledgers untouched.

        The mutex is ``flock`` on a persistent lock file, not the file's
        existence: a holder that CRASHES has its lock released by the
        KERNEL, so the next acquirer proceeds immediately — no stale-lease
        file to remove by hand (the old ``O_CREAT|O_EXCL`` protocol's one
        manual recovery step).  The file's content is a diagnostic record
        of the latest holder.  NEVER delete the lock file: recreation
        gives a second inode, and two processes flocking different inodes
        do not exclude each other.  Same-filesystem assumption as
        ``_swap_ledger``'s local renames (a multi-driver deployment needs
        a real lock service, same as it needs atomic object-store
        renames)."""
        path = self._lease_path()
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        fd = os.open(path, os.O_CREAT | os.O_RDWR)
        try:
            if not self._flock_nb_retry(
                fd, time.monotonic() + self.lease_timeout_s
            ):
                try:
                    with open(path) as f:
                        holder = f.read()
                except OSError:
                    holder = "<unreadable>"
                raise TimeoutError(
                    f"ledger lease {path} still held by [{holder}] "
                    f"after {self.lease_timeout_s}s while acquiring "
                    f"for {op!r}; the holder is ALIVE (a crashed "
                    "holder's lock is released by the kernel)"
                )
            os.ftruncate(fd, 0)
            os.write(fd, f"pid={os.getpid()} op={op} t={time.time():.3f}".encode())
            if op != "recover_swaps":
                # debris under the lease means a PREVIOUS holder died
                # mid-swap (a finished op always cleans up): every mutator
                # self-heals before touching the ledgers, so a crashed
                # maintenance window never needs hand-run directory surgery
                self._recover_swaps_locked()
            yield
        finally:
            os.close(fd)  # releases the flock; the file stays as a record

    def _write(self, df: DataFrame, path: str, batch_id: int) -> None:
        """Idempotent micro-batch write: partition by batch id with dynamic
        overwrite, so a REPLAYED batch (crash between sink write and offset
        commit) overwrites its own partition instead of duplicating —
        foreachBatch's at-least-once becomes effectively-once."""
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    def route_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """foreachBatch body: one call per micro-batch.

        NULL-safe delivery accounting (round-8 streaming sweep): a naive
        ``filter(ok)`` / ``filter(~ok)`` split LOSES rows whose ``ok`` is
        NULL under three-valued logic — they vanish from both branches and
        the message is silently dropped.  A NULL verdict means the processor
        never decided, which is a failure (the reference turns every
        exception into ProcessFailure); a NULL ``attempt`` means the counter
        was lost in transit and is treated as the first attempt, so the
        message still gets its full retry budget instead of skipping both
        the retry and DLQ filters.  Invariant: every input row lands in
        exactly one of sink / retry / DLQ."""
        with self._lease("route_batch"):
            self._route_batch_locked(batch, batch_id)

    def _route_batch_locked(self, batch: DataFrame, batch_id: int) -> None:
        batch = self._with_surrogate_ids(batch).persist()
        try:
            ok = F.coalesce(F.col("ok"), F.lit(False))
            att = F.coalesce(F.col("attempt"), F.lit(1))
            # rows re-ingested from the retry ledger carry _redelivered=true
            # (stamped by due_retries); requeue_dlq resets attempt to 1, so
            # the counter alone cannot tell a revived redelivery from a
            # first delivery
            redelivered = (
                F.coalesce(F.col("_redelivered"), F.lit(False))
                if "_redelivered" in batch.columns
                else F.lit(False)
            )
            acks, nacks = batch.filter(ok), batch.filter(~ok)

            # ONE aggregate job decides which ledger writes run, instead of
            # a limit(1).count() guard job per branch — per-micro-batch job
            # overhead is the floor of the redelivery drain loop's wall, so
            # the guards ride a single pass over the persisted batch
            is_retry = ~ok & (att < F.lit(self.max_attempts))
            n = batch.select(
                F.count(F.when(ok, 1)).alias("acks"),
                F.count(F.when(ok & ((att > 1) | redelivered), 1)).alias("resolved"),
                F.count(F.when(is_retry, 1)).alias("retries"),
                F.count(F.when(~ok & ~is_retry, 1)).alias("dlq"),
            ).first()
            with self._counters_lock:
                self.counters["batches"] += 1
                for k in ("acks", "retries", "dlq", "resolved"):
                    self.counters[k] += n[k]

            # an acked REDELIVERY terminates its retry lifecycle: record it
            # in the resolved index so the frontier stops returning the
            # (append-only) superseded retry rows — pre-fix, a delivered
            # message re-entered due_retries forever and every maintenance
            # pass re-delivered it (at-least-once became unbounded, with a
            # duplicate sink row per pass).  Bounded: only ids that failed
            # at least once can appear here.  ``attempt > 1`` alone misses
            # requeued messages acked on their FIRST redelivery (requeue
            # resets the counter), hence the OR with the transport flag.
            resolved = acks.filter((att > 1) | redelivered).select("message_id")
            # the flag is transport metadata, not message state: drop it
            # before every ledger write so sink/retry/DLQ schemas stay
            # batch-independent (parquet directory reads do not schema-merge)
            acks, nacks = acks.drop("_redelivered"), nacks.drop("_redelivered")
            if n.acks:
                self._write(acks, self.sink_path, batch_id)
            if n.resolved:
                self._write(resolved, self._resolved(), batch_id)

            retry = nacks.filter(att < self.max_attempts).withColumn(
                "attempt", att + F.lit(1)
            ).withColumn(
                "available_at",
                F.current_timestamp() + F.expr(f"INTERVAL {self.redelivery_delay_s} SECONDS"),
            )
            if n.retries:
                self._write(retry, self.retry_path, batch_id)

            if n.dlq:
                self._write(nacks.filter(att >= self.max_attempts), self.dlq_path, batch_id)
        finally:
            batch.unpersist()

    # columns whose values change across delivery attempts of the SAME
    # message — excluded from the anonymous-message surrogate id below
    _MUTABLE = (
        "message_id", "attempt", "available_at", "ok", "error", "_batch_id",
        "_redelivered",
    )

    def _with_surrogate_ids(self, batch: DataFrame) -> DataFrame:
        """Give NULL-``message_id`` rows a deterministic content-derived id.

        Message identity is load-bearing for the delivery ledger: the retry
        frontier windows on it and the DLQ exclusion anti-joins on it.  With
        NULL ids, every anonymous message falls into ONE window partition —
        only one of them would ever be redelivered, and its stale attempts
        could never be superseded (NULL never equi-joins the DLQ), so the
        survivor loops forever.  A surrogate hashed from the attempt-stable
        columns restores the lifecycle: distinct-content anonymous messages
        retry and terminate independently, identical-content ones coalesce
        (they are genuinely indistinguishable, and at-least-once delivery of
        the content still holds).  Deterministic, so redeliveries of the
        same anonymous message map to the same surrogate.

        Multiplicity caveat (driver ADVICE r8): N byte-identical anonymous
        failures coalesce onto ONE surrogate, so the retry frontier
        redelivers one of them — callers whose duplicates are
        meaning-bearing must carry a broker-side unique field in the
        envelope (raw ``__messageId`` bytes, or publish_time + partition
        offset).  Any such column participates automatically: the surrogate
        hashes EVERY attempt-stable column present in the batch (everything
        outside ``_MUTABLE``), so distinct broker identities yield distinct
        surrogates with no configuration."""
        if "message_id" not in batch.columns:
            return batch
        stable = sorted(c for c in batch.columns if c not in self._MUTABLE)
        content = (
            F.to_json(F.struct(*[F.col(c) for c in stable]))
            if stable
            # no attempt-stable columns at all: nothing distinguishes the
            # anonymous messages — one shared surrogate is the honest answer
            else F.lit("")
        )
        surrogate = F.concat(F.lit("anon-"), F.sha2(content, 256))
        return batch.withColumn(
            "message_id", F.coalesce(F.col("message_id"), surrogate)
        )

    def due_retries(
        self, spark: SparkSession, as_of=None, snapshot: bool = True
    ) -> DataFrame:
        """Re-ingestion scan: rows whose redelivery delay has elapsed.

        The retry table is an append-only ledger (idempotent batch writes
        never delete), so a naive scan would re-deliver superseded attempts
        forever.  Three filters make the scan a delivery FRONTIER instead:
        only the LATEST attempt per message (earlier attempts are history,
        not work), never a message that already reached the DLQ (terminal
        failure), and never a message whose redelivery was ACKED (terminal
        success, the resolved index — the broker-ack analog; round-9 fix:
        without it, every delivered redelivery re-entered the frontier
        forever).  A duplicate failure of an already-resolved id stays
        excluded — its content is in the sink, which is all at-least-once
        promises.

        Every returned row is stamped ``_redelivered = true``: anything read
        from the retry ledger IS a redelivery, and ``route_batch`` needs the
        flag to terminate requeued messages acked on their first (attempt-1)
        redelivery — the counter alone cannot carry that fact after
        ``requeue_dlq`` resets it.  Feed the rows back through the processor
        with the flag intact.  A missing ledger returns an EMPTY frontier
        with the same lifecycle schema as a populated one
        (``FRONTIER_SCHEMA``), so downstream projections never break on the
        empty path alone.

        The frontier is MATERIALIZED at call time (``localCheckpoint``),
        affordable because it is bounded by the failure rate, not the
        traffic.  A frame LAZY over the ledger directory is unsafe to route:
        ``route_batch``'s retry-ledger write makes Spark re-cache every
        persisted plan that reads that path, so its later DLQ write re-reads
        the NEW ledger and the same message lands in both.  The snapshot is
        also swap-proof — the maintenance lease serializes WRITERS only, and
        a lazy frame's file listing dies with a maintenance swap (Spark
        raises FAILED_READ_FILE rather than reading stale data).
        ``snapshot=False`` returns the lazy frame for a caller that only
        aggregates it at once (``status()``'s frontier count).
        """
        # a crash INSIDE a ledger swap leaves the directory missing between
        # the two renames — without recovery that reads as an EMPTY frontier
        # (silent no-delivery) rather than an error, so heal first.
        # BEST-EFFORT here (round-12): a reader must not BLOCK on the
        # mutator lease for debris that is merely deferred (a sibling .old
        # the filesystem refuses to discard is a survivable steady state
        # now, and a live mutator heals on its own) — only the
        # missing-directory cases below, where correctness depends on
        # waiting out an in-flight swap, take the blocking path, and they
        # scope the trigger to debris of the ledger actually missing.
        if self._swap_debris():
            self._try_recover_swaps()
        if not os.path.exists(self.retry_path):
            # root missing is ambiguous: genuinely-empty ledger, or a swap
            # that started AFTER the debris check above (TOCTOU).  A swap
            # can only unroot the ledger via rename(root → .old), so a
            # mid-swap missing root ALWAYS has debris ON THIS ROOT —
            # re-checking here closes the race: recover_swaps blocks on the
            # lease until an in-flight op finishes (and heals a dead one),
            # after which a still-missing root really is the empty ledger.
            if any(r == self.retry_path for r, _ in self._swap_debris()):
                self.recover_swaps()
            if not os.path.exists(self.retry_path):
                return spark.createDataFrame([], FRONTIER_SCHEMA)
        df = self._latest_attempts(spark.read.parquet(self.retry_path))
        # terminal states win over any stale retry row: DLQ (failure) and
        # the resolved index (an acked redelivery — the broker-ack analog)
        for terminal in (self.dlq_path, self._resolved()):
            if not os.path.exists(terminal) and any(
                r == terminal for r, _ in self._swap_debris()
            ):
                # same TOCTOU as the root above: a terminal ledger mid-swap
                # (a live requeue's DLQ rename) reads as "no terminals" and
                # the anti-join is silently skipped — exhausted messages
                # would transiently re-enter the frontier.  Missing + debris
                # ON THIS TERMINAL ⇒ wait out / heal the swap, then trust
                # the re-check (debris elsewhere — e.g. a deferred sink
                # sibling — must not make every frontier read take the
                # lease: that terminal is just legitimately absent).
                self.recover_swaps()
            if os.path.exists(terminal):
                done = spark.read.parquet(terminal).select("message_id")
                df = df.join(done, ["message_id"], "left_anti")
        cutoff = F.lit(as_of).cast("timestamp") if as_of is not None else F.current_timestamp()
        out = df.filter(F.col("available_at") <= cutoff).withColumn(
            "_redelivered", F.lit(True)
        )
        return out.localCheckpoint(eager=True) if snapshot else out

    @staticmethod
    def _latest_attempts(df: DataFrame) -> DataFrame:
        """Latest attempt per message — the ledger's frontier projection.

        Deliberately ``groupBy + max_by`` rather than a
        ``row_number() over (partition by message_id)`` window: windows get
        NO map-side partial aggregation, so the window form shuffles the
        ENTIRE attempt history on every scan, while ``max_by`` is a
        declarative aggregate that partial-combines per input partition —
        each mapper forwards one candidate row per message it saw, and the
        shuffle tracks the number of live messages, not the number of
        failures ever recorded.  Ties on ``attempt`` (idempotent replays of
        the same delivery) carry identical lifecycle content, so either row
        is correct — same contract the window form had."""
        payload = [c for c in df.columns if c != "message_id"]
        return df.groupBy("message_id").agg(
            F.max_by(F.struct(*payload), F.col("attempt")).alias("_latest")
        ).select("message_id", "_latest.*")

    def status(
        self, spark: SparkSession, as_of=None, count_sink: bool = False
    ) -> dict:
        """One-call operational snapshot of the delivery lifecycle — the
        numbers a runbook or dashboard wants before/after a maintenance
        window (the broker analog is topic stats + subscription backlog).

        Returns ledger row counts (``retry_rows`` is the append-only
        history; ``frontier`` is what ``due_retries`` would actually
        redeliver as of ``as_of``), terminal depths (``dlq``,
        ``resolved``), compaction pressure (``retry_rows - frontier`` rows
        are superseded history a ``compact()`` would drop), plus the two
        health facts recovery cares about: interrupted-swap debris (should
        always be empty — mutators heal it on sight; a heal the filesystem
        refuses is surfaced in ``debris_heal_errors`` rather than failing
        the poll — the one state that needs an operator) and the latest lease
        record (diagnostic only: content does not mean HELD, the flock
        does), and this process's live ``counters`` (see the field doc —
        in-process speed vs ledger-derived truth, side by side).

        Every ledger counted by default is FAILURE-RATE-bounded, so the
        call stays cheap on a long deployment.  The sink is the full
        traffic — counting it scans every partition's footers — so
        ``sink_rows`` is None unless ``count_sink=True`` (fine on a test
        corpus, a deliberate act on 100 TB).

        NON-BLOCKING (round-11): the call TRY-acquires the ledger lease —
        contended (a live ``compact``/``requeue_dlq``/``route_batch`` holds
        it), it returns PROMPTLY with ``maintenance_in_progress`` set to
        the holder's lease record and the ledger counts None, instead of
        the old behavior of stalling a dashboard poll up to
        ``lease_timeout_s`` behind the maintenance window.  Acquired, it
        heals any debris and RELEASES the lease before counting: the flock
        is held only for the (filesystem-cheap) debris scan + heal, never
        across the Spark count jobs — a slow ``count_sink=True`` footer
        scan must not starve ``route_batch`` past its lease timeout and
        fail the live stream.  The counts therefore run lock-free, same as
        every other reader — but unlike the data-path readers (whose
        contract IS fail-loud/re-poll), a dashboard poll must never raise
        under routine maintenance, so a mutator winning the race mid-count
        is absorbed by a bounded internal retry (3 attempts, ~0.1 s apart —
        the swap is atomic, so the next listing sees the new layout); a
        mutator that keeps winning past the budget degrades the call to the
        same contended shape as a lost try-lock (all counts None,
        ``maintenance_in_progress`` = the latest lease record), never an
        exception and never silently partial numbers (the counts are
        all-or-None as a unit).  Two more honest caveats:
        ``maintenance_in_progress`` is the holder's lease RECORD, written
        just after acquisition — a status call racing that microsecond gap
        can surface the previous op's record (content is diagnostic, the
        flock is the truth); and the in-process ``counters`` are returned
        either way.  Reader-vs-reader contention (round-12): two concurrent
        ``status()`` polls contend on this same flock, and status never
        writes a holder record — so the loser would report the PREVIOUS
        MUTATOR's record as ``maintenance_in_progress``, a false
        "maintenance live" on a dashboard.  A status holder keeps the lock
        only for the filesystem-cheap debris scan, so the try-lock is
        RETRIED briefly (50 ms attempts inside a ~0.25 s deadline) before
        returning the contended shape: reader-vs-reader contention
        resolves inside the retries, while a real mutator outlives them
        and the contended report stays honest.  A record whose op name is a mutator op
        (``compact``/``compact_sink``/``requeue_dlq``/``route_batch``) that
        still surfaces here should be read with that stale-content caveat
        in mind."""

        def _count(path: str) -> int:
            if not os.path.exists(path):
                return 0
            return spark.read.parquet(path).count()

        def _lease_record() -> str | None:
            if not os.path.exists(self._lease_path()):
                return None
            try:
                with open(self._lease_path()) as f:
                    return f.read() or None
            except OSError:
                return "<unreadable>"

        with self._counters_lock:
            counters = dict(self.counters)
        parent = os.path.dirname(self._lease_path())
        if parent:
            os.makedirs(parent, exist_ok=True)
        # a reader's try-lock: held ONLY for the debris scan/heal below,
        # and WITHOUT writing a holder record — last_lease keeps reporting
        # the latest mutator, as documented
        fd = os.open(self._lease_path(), os.O_CREAT | os.O_RDWR)
        try:
            # try-lock with a brief (~0.25 s) retry window (see docstring):
            # a concurrent status() holds the flock for milliseconds, so
            # the retries absorb reader-vs-reader contention; a real
            # mutator holds it for its whole maintenance window, outlives
            # the budget, and the contended shape is honest
            if not self._flock_nb_retry(fd, time.monotonic() + 0.25):
                return {
                    "retry_rows": None,
                    "frontier": None,
                    "dlq": None,
                    "resolved": None,
                    "sink_rows": None,
                    "swap_debris_found": None,
                    "debris_heal_errors": None,
                    "last_lease": _lease_record(),
                    "maintenance_in_progress": _lease_record(),
                    "counters": counters,
                }
            # debris under the held lease: this field reports what the
            # status call FOUND — a non-empty value means the previous op
            # crashed mid-swap and this very call repaired it (or tried:
            # a heal the filesystem refuses — a fold's old partition that
            # will not remove — lands in debris_heal_errors instead of
            # failing the poll, and the debris stays for the next heal)
            debris = [root + tag for root, tag in self._swap_debris()]
            debris += self._fold_debris()
            heal_errors: list[str] = []
            if debris:
                heal_errors = self._recover_swaps_locked()["heal_errors"]
        finally:
            os.close(fd)  # release BEFORE the Spark jobs (see docstring)

        def _counts_once() -> dict:
            # one pollable unit: a mutator swapping a ledger directory
            # mid-call invalidates ALL of these listings together, so they
            # retry together rather than returning a mixed-epoch snapshot
            frontier = self.due_retries(spark, as_of=as_of, snapshot=False).count()
            return {
                "retry_rows": _count(self.retry_path),
                "frontier": frontier,
                "dlq": _count(self.dlq_path),
                "resolved": _count(self._resolved()),
                "sink_rows": _count(self.sink_path) if count_sink else None,
            }

        # bounded internal retry (the dashboard's never-raise contract):
        # a compact/fold swapping the ledger between this reader's file
        # listing and its count job surfaces as an AnalysisException /
        # FileNotFound from Spark — transient by construction, the swap is
        # atomic and the next listing sees the new layout.  Retry the count
        # block a few times (same ~short-budget philosophy as
        # _flock_nb_retry); a mutator that keeps winning the race is
        # indistinguishable from live maintenance, so the fallback is the
        # same honest contended shape the try-lock path returns (counts
        # None, maintenance_in_progress = the latest lease record) — never
        # an exception out of a status poll, and never silently partial
        # numbers (the counts are all-or-None).
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import PySparkException

        counted: dict | None = None
        for attempt in range(3):
            try:
                counted = _counts_once()
                break
            except (PySparkException, Py4JJavaError):
                if attempt == 2:
                    break
                time.sleep(0.1)
        if counted is None:
            counted = {
                "retry_rows": None,
                "frontier": None,
                "dlq": None,
                "resolved": None,
                "sink_rows": None,
            }
        return {
            **counted,
            "swap_debris_found": debris,
            "debris_heal_errors": heal_errors,
            "last_lease": _lease_record(),
            "maintenance_in_progress": (
                None if counted["retry_rows"] is not None else _lease_record()
            ),
            "counters": counters,
        }

    def compact(self, spark: SparkSession, archive_to: str | None = None) -> dict:
        """Rewrite the retry ledger down to its delivery frontier.

        The ledger is append-only (idempotent batch writes never delete), so
        it grows with TIME — every failed attempt of every message is a row
        forever — while ``due_retries`` re-derives the frontier from the
        full history on every re-ingestion scan.  On a long-running
        deployment the scan cost is O(all failures ever) for a frontier
        bounded by the messages CURRENTLY awaiting redelivery.  Compaction
        keeps exactly the rows ``due_retries`` could ever return again —
        the latest attempt per message, minus messages already terminal in
        the DLQ — and drops superseded history, so scan cost tracks the
        live frontier.  ``due_retries`` is invariant across a compaction
        (pinned by test).

        Concurrency with ``route_batch`` is MECHANICAL: both take the ledger
        lease, so a racing batch serializes (or fails cleanly at the lease
        timeout) instead of interleaving with the directory swap.  History
        is DROPPED by design; ``archive_to`` is the mechanical form of
        "archive first if the audit trail matters": the full pre-compaction
        ledger is APPENDED there (rows keep their ``_batch_id`` as a plain
        column) before anything moves, under the same lease.  The archive
        is an append-only audit pile: a crash between the archive write and
        the swap means the re-run appends a second snapshot — duplicates in
        an audit trail are benign, a hole is not, so the write sits on the
        crash-safe side of the swap.  Every snapshot is stamped with a
        ``_compacted_at`` timestamp (one value per compaction run), so the
        pile is queryable per maintenance window and a frontier row that
        survives N compactions — archived N times by design — is
        distinguishable from genuine history by its N distinct stamps
        (group by ``_compacted_at`` to read one snapshot; piles started
        before the stamp existed need ``mergeSchema`` to see it).
        Surviving rows keep their
        ``_batch_id`` partition, so a replayed micro-batch still overwrites
        its own partition after compaction (the idempotence contract is
        preserved).

        Crash-safe swap ORDER (round-9 advice): the retry ledger swaps
        FIRST, the resolved index is deleted after.  The compacted ledger
        equals the frontier, which anti-joined the resolved index — so once
        the ledger swap lands, no resolved id has ledger rows left and the
        whole index is dead weight (deleting it outright also keeps it from
        inheriting the unbounded growth it exists to solve).  A crash
        between the two steps leaves the index present but irrelevant
        (anti-joining ids with no ledger rows is a no-op) and re-running
        converges.  The PRE-fix order — index first — was the dangerous one:
        a crash then deleted the terminal-success evidence while the
        uncompacted ledger still held the superseded rows, so delivered
        messages re-entered the frontier and duplicated sink rows."""
        import shutil

        with self._lease("compact"):
            if not os.path.exists(self.retry_path):
                # ledger empty ⇒ frontier empty ⇒ the resolved index keeps
                # nothing out; clear it so it cannot grow unboundedly
                shutil.rmtree(self._resolved(), ignore_errors=True)
                return {"kept": 0, "dropped": 0, "archived": 0}
            df = spark.read.parquet(self.retry_path)
            total = df.count()
            frontier = self._latest_attempts(df)
            for terminal in (self.dlq_path, self._resolved()):
                if os.path.exists(terminal):
                    done = spark.read.parquet(terminal).select("message_id")
                    frontier = frontier.join(done, ["message_id"], "left_anti")
            frontier = frontier.persist()
            try:
                kept = frontier.count()
                if archive_to is not None:
                    # current_timestamp() is query-constant: every row of
                    # this snapshot carries the SAME stamp, and a later
                    # compaction's snapshot carries a different one
                    df.withColumn(
                        "_compacted_at", F.current_timestamp()
                    ).write.mode("append").parquet(archive_to)
                self._swap_ledger(self.retry_path, frontier, ".compact")
                shutil.rmtree(self._resolved(), ignore_errors=True)
            finally:
                frontier.unpersist()
            return {"kept": kept, "dropped": total - kept, "archived": total if archive_to is not None else 0}

    @staticmethod
    def committed_batch_ids(checkpoint: str) -> list[int]:
        """Batch ids the streaming checkpoint has COMMITTED (sink write +
        offset commit both durable): the file names under
        ``<checkpoint>/commits/``.  Everything STRICTLY BELOW the newest id
        is replay-safe history.  The newest committed batch itself will not
        replay either, but ``compact_sink`` still refuses a cutoff AT it —
        a deliberate one-batch safety margin, cheap because the margin is a
        single partition, robust against a commit file observed while the
        engine is still finalizing the next batch."""
        commits = os.path.join(checkpoint, "commits")
        if not os.path.isdir(commits):
            return []
        return sorted(int(f) for f in os.listdir(commits) if f.isdigit())

    def compact_sink(
        self,
        spark: SparkSession,
        up_to_batch_id: int,
        archive_batch_id: int = -1,
        checkpoint: str | None = None,
        force: bool = False,
    ) -> dict:
        """Merge old per-micro-batch sink partitions into one archive
        partition — the small-files bound for long-running deployments.

        The idempotent sink layout writes one ``_batch_id=k`` directory per
        micro-batch; after a million micro-batches the directory listing
        alone dominates read planning.  Batches ``<= up_to_batch_id`` fold
        into the single ``_batch_id=archive_batch_id`` partition (merging
        with any previous archive); newer partitions keep their layout so
        replay idempotence still holds for them.

        SAFETY — derived, not trusted: ``up_to_batch_id`` must be strictly
        below any batch the stream could still replay — an archived batch
        that replays would write its partition afresh next to the archived
        copy and DUPLICATE rows.  Pass ``checkpoint`` (the streaming query's
        checkpointLocation) and the bound is read from its ``commits/``
        directory: cutoffs at or above the newest committed batch id are
        REFUSED.  ``force=True`` is the explicit override for callers who
        can assert the bound themselves (e.g. the stream is permanently
        stopped); calling with neither is an error — the silent-duplication
        footgun the old trust-the-caller contract left open.

        COST — O(archived), not O(sink) (round-11): the fold is
        PARTITION-SCOPED.  Only the ``_batch_id <= up_to_batch_id``
        directories are read — a DIRECT multi-path read of exactly those
        directories, not a filtered root scan, so live partitions are
        neither opened NOR LISTED (a pruned root scan would still list
        every partition for discovery: O(#partitions) planning on the
        million-micro-batch sink this op exists for).  Their rows are
        written to a staging directory inside the sink root (dot-prefixed,
        invisible to Spark readers), and the old directories are then
        removed and the staging renamed in as the archive partition.  Live
        partitions are byte-untouched — same files, same mtimes — so
        maintenance cost tracks the archived history, never the sink.  Crash safety comes
        from a manifest commit point instead of ``compact``'s whole-root
        two-rename: the manifest is written (atomic rename) only after the
        staging directory is complete, recovery rolls FORWARD from a
        manifest and DISCARDS an orphan staging directory, and every crash
        window is idempotent under re-run (``_complete_fold_locked``).
        A removal the filesystem refuses ABORTS the fold loudly with the
        manifest kept (never a duplicated layout; already-removed
        partitions' rows stay dark in the staging until recovery — see
        ``_complete_fold_locked``), the live stream keeps running (the
        lease self-heal DEFERS a stuck fold instead of failing
        ``route_batch``), and a new fold refuses to start over the
        unhealed debris.
        The ledger lease still serializes the fold against a concurrent
        ``route_batch``.  READER WINDOW: a reader scanning the FULL sink
        concurrently with the fold can transiently see the archived slice
        absent — between the old-directory removals and the staging rename
        neither copy is listed (live partitions stay byte-untouched
        throughout, so live-partition readers are unaffected — pinned by
        test); readers take no lease, so this is inherent to directory
        renames — schedule folds off a full-scan reader's window.  At true
        100 TB sink scale prefer a transactional table format's OPTIMIZE
        (which also closes that reader window); this is the
        dependency-free equivalent for parquet-directory sinks."""
        if archive_batch_id > up_to_batch_id:
            # the archive partition must itself sit inside the archived
            # range (conventionally negative): if it named a LIVE batch id,
            # that batch's replay would overwrite the partition — archived
            # rows included — and silently DELETE them.  Not forceable:
            # there is no deployment where this layout is safe.
            raise ValueError(
                f"archive_batch_id={archive_batch_id} is above the cutoff "
                f"{up_to_batch_id}: folding history into a partition a live "
                "batch could replay-overwrite would lose the archived rows; "
                "use an id at/below the cutoff (conventionally negative)"
            )
        if checkpoint is None:
            if not force:
                raise ValueError(
                    "compact_sink refuses to trust a bare cutoff: pass "
                    "checkpoint= (the streaming checkpointLocation) so the "
                    "replay-safety bound is derived from its commits/ "
                    "directory, or force=True to assert the bound yourself"
                )
        else:
            committed = self.committed_batch_ids(checkpoint)
            newest = committed[-1] if committed else None
            if (newest is None or up_to_batch_id >= newest) and not force:
                raise ValueError(
                    f"up_to_batch_id={up_to_batch_id} is not strictly below "
                    f"the newest committed batch ({newest}) in "
                    f"{checkpoint}/commits — an archived batch that replays "
                    "duplicates its rows; lower the cutoff, or force=True "
                    "only if the stream is stopped for good"
                )
        with self._lease("compact_sink"):
            return self._compact_sink_locked(spark, up_to_batch_id, archive_batch_id)

    #: in-root staging / commit-point names for the partition-scoped sink
    #: fold — dot-prefixed, so Spark's file listing never sees them and a
    #: reader of the live sink is undisturbed by an in-flight fold
    _FOLD_NEW = ".sink-compact.new"
    _FOLD_MANIFEST = ".sink-compact.manifest"

    def _sink_partitions(self) -> dict[int, str]:
        """``{batch_id: dirname}`` for the sink's hive-layout partitions,
        from the directory listing alone — no Spark job, no file opened."""
        if not os.path.isdir(self.sink_path):
            return {}
        out: dict[int, str] = {}
        for name in os.listdir(self.sink_path):
            if name.startswith("_batch_id="):
                try:
                    out[int(name.split("=", 1)[1])] = name
                except ValueError:
                    pass
        return out

    def _compact_sink_locked(
        self, spark: SparkSession, up_to_batch_id: int, archive_batch_id: int
    ) -> dict:
        import json

        root = self.sink_path
        if not os.path.exists(root):
            return {"archived": 0, "partitions_before": 0, "partitions_after": 0}
        # the lease's self-heal runs before this, so debris here means a
        # PRIOR fold is stuck on a filesystem error (its heal was deferred
        # rather than allowed to fail route_batch/status).  Starting a new
        # fold over it would os.replace the old manifest and rmtree the old
        # staging — abandoning a committed plan whose staging may be the
        # ONLY copy of already-removed partitions' rows.  Refuse loudly.
        debris = self._fold_debris()
        if debris:
            # RuntimeError, not OSError: this is a PRECONDITION failure that
            # holds until an operator heals the filesystem — a maintenance
            # driver's backoff-and-retry loop for transient OSErrors must
            # not spin on it
            raise RuntimeError(
                f"unhealed sink-fold debris {debris}: a prior fold is stuck "
                "on a filesystem error; resolve it and run recover_swaps() "
                "before starting a new fold"
            )
        parts = self._sink_partitions()
        if not parts:
            return {"archived": 0}  # no partition written yet: nothing to fold
        parts_before = len(parts)
        old_ids = sorted(k for k in parts if k <= up_to_batch_id)
        if not old_ids or old_ids == [archive_batch_id]:
            # nothing below the cutoff beyond the archive itself — a no-op,
            # with not a single directory touched
            return {
                "archived": 0,
                "partitions_before": parts_before,
                "partitions_after": parts_before,
            }
        # read the OLD directories directly — not a filter over the root:
        # a pruned root scan still LISTS every live partition for discovery
        # (O(#partitions) planning on a million-micro-batch sink, the very
        # regime this op serves), while a direct multi-path read lists and
        # opens only the folded directories.  The partition column is
        # dir-derived, so these files carry no _batch_id — exactly the
        # shape the staging write needs
        pruned = spark.read.parquet(
            *(os.path.join(root, parts[k]) for k in old_ids)
        )
        # rows already in the archive partition are re-folds, not newly
        # archived: count them from that one directory's footers BEFORE the
        # fold (metadata-only), so n_archived = staged - prior needs no
        # second full pass over the old data
        prior_archive = 0
        if archive_batch_id in parts:
            prior_archive = spark.read.parquet(
                os.path.join(root, parts[archive_batch_id])
            ).count()
        staging = os.path.join(root, self._FOLD_NEW)
        manifest = os.path.join(root, self._FOLD_MANIFEST)
        # no staging/manifest cleanup here: the debris refusal above
        # guarantees neither exists when a fold starts (Spark's own
        # mode("overwrite") below would clobber a directory regardless)
        # drop the partition column (hive layout derives it from the dir
        # name, matching the live partitions' files); coalesce — not
        # repartition — streams the old partitions into a FEW consolidated
        # files with no shuffle, which is the whole small-files point.  The
        # file count is sized from the archived bytes on disk (listing only
        # the old directories — still O(archived)): one file per ~1 GiB so
        # a year of folded history never becomes a single monster file
        archived_bytes = 0
        for k in old_ids:
            d = os.path.join(root, parts[k])
            for name in os.listdir(d):
                p = os.path.join(d, name)
                if os.path.isfile(p):
                    archived_bytes += os.path.getsize(p)
        (
            # defensive drop: the direct-path read yields no _batch_id (it
            # is dir-derived), and Spark's drop of a missing column is a
            # no-op — kept so a data column of that name can never leak
            # into the archive files
            pruned.drop("_batch_id")
            .coalesce(_archive_file_count(archived_bytes))
            .write.mode("overwrite")
            .parquet(staging)
        )
        # the ONE data pass is the write above; the archived count comes
        # from the staging footers (metadata-only read).  Zero-row old
        # partitions (never produced by route_batch, but cheap to tolerate)
        # leave a staging dir with no part files, which is detected from
        # the LISTING — not a broad except around the read, which would
        # also swallow a transient read failure and commit the fold while
        # reporting a bogus (even negative) archived count.  A real read
        # failure now propagates BEFORE the manifest commit point: the
        # fold aborts with the live layout authoritative and an orphan
        # staging dir that recovery discards.
        if any(name.endswith(".parquet") for name in os.listdir(staging)):
            staged_total = spark.read.parquet(staging).count()
        else:
            staged_total = 0
        n_archived = staged_total - prior_archive
        # the manifest is the fold's COMMIT POINT: written atomically only
        # after the staging directory is complete, it instructs recovery to
        # roll forward; a crash before this line leaves live data untouched
        # and an orphan staging dir that recovery discards
        plan = {
            "archive": f"_batch_id={archive_batch_id}",
            "remove": [parts[k] for k in old_ids],
        }
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(plan, f)
        os.replace(tmp, manifest)
        self._complete_fold_locked(root)
        return {
            "archived": n_archived,
            "partitions_before": parts_before,
            "partitions_after": len(self._sink_partitions()),
        }

    def _complete_fold_locked(self, root: str) -> dict:
        """Finish (or discard) a partition-scoped sink fold from the layout
        alone — the fold's analog of ``_recover_swaps_locked``.

        The manifest is the commit point, so every crash window is
        unambiguous:

        - no manifest: any staging directory may be a partial write — it is
          DISCARDED and the live layout stands untouched;
        - manifest + staging: the staging was complete when the manifest
          landed — roll FORWARD (remove the listed old partitions, rename
          the staging in as the archive partition, drop the manifest);
        - manifest, no staging: the rename already landed — the archive
          directory IS the folded data (it is skipped in the remove list),
          so only leftover listed directories and the manifest are removed.

        Idempotent: re-running after a crash at any step converges on the
        folded layout, and live partitions are never touched.

        Removals are LOUD (round-12): each listed directory is verified
        GONE after its rmtree, and a survivor aborts the fold BEFORE the
        staging rename and BEFORE the manifest drop.  The failure modes
        this op is aimed at — an NFS-busy file, an EACCES on a big remote
        filesystem — used to be swallowed by ``ignore_errors=True``: the
        surviving live-named old partition AND the renamed-in archive would
        then both hold its rows, permanently and silently, with the
        manifest (the retry signal) already deleted.  Failing with the
        manifest intact means recovery simply re-runs the removals, and the
        staging is only renamed in once every old copy is verifiably gone —
        no window ever exposes both copies to a reader.  The cost of that
        guarantee: partitions whose removal DID land before the abort stay
        dark (their rows live only in the dot-prefixed staging, invisible
        to readers) until the filesystem error is resolved and recovery
        re-run — dark-but-recoverable is the chosen trade over
        duplicated-forever.  Callers that must not fail on this (the lease
        self-heal serving ``route_batch``, a ``status()`` poll) catch the
        raise and DEFER: see ``_recover_swaps_locked``."""
        import json
        import shutil

        staging = os.path.join(root, self._FOLD_NEW)
        manifest = os.path.join(root, self._FOLD_MANIFEST)
        try:
            # a half-written manifest never commits (json + atomic replace),
            # so a .tmp is always debris
            os.remove(manifest + ".tmp")
        except FileNotFoundError:
            pass
        # any OTHER removal failure above propagates: debris the heal
        # cannot clear but silently reports cleared would block every
        # future fold (the debris refusal in _compact_sink_locked) while
        # recover_swaps/status claim a clean heal — the error must reach
        # heal_errors, which the raise accomplishes at every catch site
        if not os.path.exists(manifest):
            if os.path.exists(staging):
                shutil.rmtree(staging, ignore_errors=True)
                if os.path.exists(staging):
                    raise OSError(
                        f"could not discard orphan fold staging {staging}; "
                        "resolve the filesystem error — folds are refused "
                        "until this debris clears"
                    )
                return {"completed": [], "discarded": [staging]}
            return {"completed": [], "discarded": []}
        with open(manifest) as f:
            plan = json.load(f)
        staged = os.path.exists(staging)
        target = os.path.join(root, plan["archive"])
        survivors = []
        for name in plan["remove"]:
            if name == plan["archive"] and not staged:
                # the staging already renamed in: this directory holds the
                # folded rows — removing it would lose them
                continue
            old_dir = os.path.join(root, name)
            shutil.rmtree(old_dir, ignore_errors=True)
            if os.path.exists(old_dir):
                survivors.append(name)
        if survivors:
            # fail LOUD with the manifest (and staging) intact: committing
            # here would leave the surviving old partition and the archive
            # both holding the same rows with the retry signal gone; kept,
            # the next recovery pass re-runs the removals and converges
            raise OSError(
                "sink fold could not remove old partition(s) "
                f"{survivors} under {root}; the fold manifest is kept so "
                "recovery retries the removal — resolve the filesystem "
                "error and re-run recover_swaps()/compact_sink()"
            )
        if staged:
            os.rename(staging, target)
        os.remove(manifest)
        return {"completed": [target], "discarded": []}

    def _fold_debris(self) -> list[str]:
        """In-root fold debris (staging dir / manifest) left by a crashed
        ``compact_sink`` — the partition-scoped counterpart of
        ``_swap_debris``'s sibling-directory scan."""
        found = []
        for root in self._ledger_roots():
            for name in (
                self._FOLD_MANIFEST,
                self._FOLD_MANIFEST + ".tmp",
                self._FOLD_NEW,
            ):
                p = os.path.join(root, name)
                if os.path.exists(p):
                    found.append(p)
        return found

    def requeue_dlq(self, spark: SparkSession, batch_id: int, where=None) -> int:
        """Move DLQ-terminal messages back into the retry frontier — the
        operational "the bug is fixed, redeliver" path.

        The broker analog is re-subscribing a consumer to the dead-letter
        topic; with delivery-state-as-data it is a ledger move: selected DLQ
        rows re-enter the retry table with a RESET attempt counter (they get
        a full fresh budget — the exhausted count described the old bug) and
        an immediate ``available_at``, and are REMOVED from the DLQ (a
        message is never in two terminal/pending states at once; leaving
        them would also re-exclude their surrogates from ``due_retries``
        forever).

        The revived ids are purged from BOTH ledgers in the move: their
        STALE retry-ledger rows carry higher attempt numbers than the fresh
        attempt-1 row, so leaving them would make ``due_retries``'
        latest-attempt frontier pick the exhausted attempt and re-DLQ the
        message on its first redelivery.  ``where`` is an optional
        Column/SQL-string filter selecting which dead messages to revive
        (default: all); ``batch_id`` labels the requeued rows' partition
        (use one no micro-batch will replay, e.g. a negative maintenance
        counter).  Returns the number requeued.  Concurrency with
        ``route_batch`` is mechanical via the ledger lease (see ``_lease``).

        Crash-safe ordering (round-9 advice): resolved-index purge FIRST,
        then the retry-ledger swap, then the DLQ swap.  Any prefix of that
        sequence leaves the revived ids still DLQ-masked (the frontier
        anti-joins the DLQ), so a crash at any point is dormant — no
        duplicate delivery — and RE-RUNNING the requeue finds the ids still
        in the DLQ and converges.  The pre-fix order purged the resolved
        index LAST: a crash after the DLQ swap left the id gone from the
        DLQ but still resolved-masked, a re-run found no DLQ rows to
        revive, and the message was excluded from the frontier forever."""
        with self._lease("requeue_dlq"):
            return self._requeue_dlq_locked(spark, batch_id, where)

    def _requeue_dlq_locked(self, spark: SparkSession, batch_id: int, where) -> int:
        if not os.path.exists(self.dlq_path):
            return 0
        dlq = spark.read.parquet(self.dlq_path)
        revive = dlq.filter(where) if where is not None else dlq
        revive = revive.persist()
        try:
            n = revive.count()
            if n == 0:
                return 0
            requeued = (
                revive.drop("_batch_id", "available_at")
                .withColumn("attempt", F.lit(1).cast("long"))
                .withColumn("ok", F.lit(False).cast("boolean"))
                .withColumn("available_at", F.current_timestamp())
                .withColumn("_batch_id", F.lit(batch_id))
            )
            ids = revive.select("message_id")
            # 1. unmask: a stale resolved entry (the id was once acked as a
            # duplicate redelivery) would hide the revived rows from the
            # frontier forever — clear it before anything else so a crash
            # mid-sequence can only leave the ids DLQ-masked (recoverable
            # by re-running), never resolved-masked (permanent)
            if os.path.exists(self._resolved()):
                self._swap_ledger(
                    self._resolved(),
                    spark.read.parquet(self._resolved()).join(
                        ids, ["message_id"], "left_anti"
                    ),
                    ".requeue",
                )
            # 2. revive: fresh attempt-1 rows replace the ids' stale
            # exhausted-attempt history in the retry ledger
            if os.path.exists(self.retry_path):
                old_retry = spark.read.parquet(self.retry_path)
                new_retry = old_retry.join(
                    ids, ["message_id"], "left_anti"
                ).unionByName(requeued.select(*old_retry.columns))
            else:
                new_retry = requeued
            self._swap_ledger(self.retry_path, new_retry, ".requeue")
            # 3. release: dropping the DLQ rows makes the revived ids
            # frontier-visible — the last step, so every earlier crash
            # point is dormant rather than duplicating
            remaining = dlq.join(ids, ["message_id"], "left_anti")
            self._swap_ledger(self.dlq_path, remaining, ".requeue")
        finally:
            revive.unpersist()
        return n

    def _ledger_roots(self) -> tuple[str, ...]:
        return tuple(
            dict.fromkeys(
                (self.retry_path, self.dlq_path, self._resolved(), self.sink_path)
            )
        )

    def _swap_debris(self) -> list[tuple[str, str]]:
        """(root, tag) pairs whose ``_swap_ledger`` left ``.old``/``.new``
        directories behind — the signature of a crash INSIDE a swap (a
        finished swap always removes both)."""
        import glob as globlib

        found = []
        for root in self._ledger_roots():
            esc = globlib.escape(root)
            tags = set()
            for suffix in (".old", ".new"):
                for d in globlib.glob(esc + ".*" + suffix):
                    tags.add(d[len(root) : -len(suffix)])
            found.extend((root, tag) for tag in sorted(tags))
        return found

    def recover_swaps(self) -> dict:
        """Deterministically finish (or discard) a ``_swap_ledger`` that a
        crash interrupted — the mechanical replacement for "rename the
        ``.old`` directory back by hand".

        The swap protocol is: write the replacement to ``<root>.<tag>.new``
        (complete before anything moves), rename ``<root>`` →
        ``<root>.<tag>.old``, rename ``.new`` → ``<root>``, remove
        ``.old``.  Each crash window therefore leaves a state that is
        UNAMBIGUOUS from the directory layout alone:

        - ``<root>`` present: the swap either never landed (a partial
          ``.new`` from a crash mid-write) or fully landed (a leftover
          ``.old`` from a crash mid-cleanup).  The live directory is
          authoritative either way — debris is discarded.
        - ``<root>`` missing, ``.new`` present: crashed between the two
          renames.  ``.new`` is complete by protocol order, so the swap is
          COMPLETED (``.new`` → ``<root>``).  The worst pre-recovery
          window: a vanished retry ledger reads as an EMPTY frontier, i.e.
          silent no-delivery, not an error.
        - ``<root>`` missing, only ``.old``: the swap's intended result was
          the empty (missing-directory) state — the ``.old`` is removed.

        Completion lands exactly the state the crashed op would have left
        after that swap, and every between-swap prefix is already pinned
        dormant-and-convergent (requeue/compact crash tests), so recovery
        composes with a re-run of the interrupted op.  Runs automatically
        whenever a mutator acquires the ledger lease, and from
        ``due_retries`` when it sees debris; call it directly after
        restoring a crashed deployment if you want the report.

        The report's ``heal_errors`` lists what the filesystem REFUSED:
        sibling-debris discards are benign-deferred (readers never see a
        sibling directory; the debris stays and the next heal retries) and
        a fold stuck on an un-removable old partition keeps its manifest
        for retry — both degrade maintenance without failing the mutator
        that tripped the heal.  Only a completion RENAME failure raises:
        a swapped-but-dark ledger must never be silent."""
        with self._lease("recover_swaps"):
            return self._recover_swaps_locked()

    def _try_recover_swaps(self) -> None:
        """Best-effort, non-blocking heal for READERS (``due_retries``'s
        opportunistic first pass): try-acquire the lease WITHOUT retries or
        a holder record and heal if it lands.  Contended means a live
        mutator holds the ledger — it heals on its own path, and a reader
        blocking up to ``lease_timeout_s`` behind it (or failing loudly at
        the timeout) for an opportunistic heal would reintroduce the
        reader-starvation the non-blocking ``status()`` removed.  The
        correctness-critical heals (a MISSING ledger directory that may be
        mid-swap) still use the blocking ``recover_swaps``."""
        import fcntl

        parent = os.path.dirname(self._lease_path())
        if parent:
            os.makedirs(parent, exist_ok=True)
        fd = os.open(self._lease_path(), os.O_CREAT | os.O_RDWR)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return
            self._recover_swaps_locked()
        finally:
            os.close(fd)

    def _recover_swaps_locked(self) -> dict:
        import shutil

        completed, discarded = [], []
        heal_errors: list[str] = []

        def _discard(d: str) -> None:
            # sibling debris is INVISIBLE to readers (never under a ledger
            # root), so a discard the filesystem refuses is benign-deferred
            # — reported in heal_errors and retried at the next heal —
            # rather than allowed to fail the mutator that tripped the heal
            # (route_batch must not die for un-removable garbage).  The
            # COMPLETION rename below stays loud: without it the swapped
            # ledger is dark.
            try:
                shutil.rmtree(d)
                discarded.append(d)
            except OSError as e:
                heal_errors.append(f"{d}: {e}")

        for root, tag in self._swap_debris():
            old, new = root + tag + ".old", root + tag + ".new"
            if os.path.exists(root):
                for d in (old, new):
                    if os.path.exists(d):
                        _discard(d)
            elif os.path.exists(new):
                os.rename(new, root)
                completed.append(root)
                if os.path.exists(old):
                    _discard(old)
            elif os.path.exists(old):
                _discard(old)
        # partition-scoped sink folds leave IN-ROOT debris (staging dir /
        # manifest) rather than sibling .old/.new directories; finish or
        # discard those from their own commit-point protocol.  A fold heal
        # the filesystem refuses (an old partition that will not remove —
        # _complete_fold_locked raises rather than commit a duplicated
        # layout) is DEFERRED, not propagated: the debris stays for the
        # next heal and the error is reported in ``heal_errors``, so a
        # stuck sink-maintenance removal degrades that fold — it does not
        # take down route_batch (whose new-partition writes never depend
        # on fold completion) or a status() poll.  The ops that DO depend
        # on a healed fold check for themselves: _compact_sink_locked
        # refuses to start over unhealed fold debris.
        if self._fold_debris():
            for root in self._ledger_roots():
                if os.path.isdir(root):
                    try:
                        report = self._complete_fold_locked(root)
                    except OSError as e:
                        heal_errors.append(str(e))
                        continue
                    completed.extend(report["completed"])
                    discarded.extend(report["discarded"])
        return {
            "completed": completed,
            "discarded": discarded,
            "heal_errors": heal_errors,
        }

    def _swap_ledger(self, path: str, df: DataFrame, tag: str) -> None:
        """Atomically replace the ledger at ``path`` with ``df`` (two local
        renames).  An empty ``df`` leaves the valid MISSING state — an
        empty parquet directory has no footers and cannot be read back."""
        import shutil

        df = df.persist()
        try:
            kept = df.count()
            old = path + tag + ".old"
            shutil.rmtree(old, ignore_errors=True)
            if kept == 0:
                if os.path.exists(path):
                    os.rename(path, old)
            else:
                tmp = path + tag + ".new"
                shutil.rmtree(tmp, ignore_errors=True)
                df.write.mode("overwrite").partitionBy("_batch_id").parquet(tmp)
                if os.path.exists(path):
                    os.rename(path, old)
                os.rename(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
        finally:
            df.unpersist()

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire the router into a streaming query via foreachBatch."""
        return (
            stream_df.writeStream.foreachBatch(self.route_batch)
            .option("checkpointLocation", checkpoint)
        )
