"""Hostile-input sweep for the STREAMING layer (round-8 verdict ask #5).

The ten-fixture batch sweep (tests/test_degenerate_parity.py) poisons the
registry's batch corpora; this file feeds the same classes of poison —
NULL keys/seqs/verdicts, corrupt payload bytes, hostile event times —
through the streaming paths, where the failure modes are worse than a wrong
row: one bad message can KILL the query (int(NaN) in the stateful
processor), silently LOSE messages (three-valued-logic routing), silently
ACK failures (NaN verdict astype(bool) is truthy), or silently drop the
whole rest of the stream (watermark poisoned by one far-future timestamp).

Reference semantics at stake: S7's redelivery loop
(part2/PekkoStreamGenerator.scala:77-87) must never lose a message between
ack/retry/DLQ; K2's Key_Shared ordering
(part5/OrderedStreamGenerator.scala:137-161) must stay serial per key even
for malformed members of the key's queue.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from examples._common import seed_messages
from pulsar_pekko_streams_example_spark.sources.streams import (
    bounded_event_time,
    envelope_file_stream,
    watermarked,
)
from pulsar_pekko_streams_example_spark.streaming import RetryRouter, apply_processor
from pulsar_pekko_streams_example_spark.streaming import retry as retry_mod
from pulsar_pekko_streams_example_spark.streaming.ordered_state import ordered_per_key


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


ENVELOPE = (
    "message_id string, event_id long, topic string, key string, seq long, "
    "attempt long, status string, publish_time timestamp"
)


def _envelopes(spark, rows):
    """rows: (message_id, key, seq, attempt) — rest filled with benign values."""
    return spark.createDataFrame(
        [
            (mid, 0, "persistent://t/ns/topic-0", key, seq, att, "success", None)
            for (mid, key, seq, att) in rows
        ],
        schema=ENVELOPE,
    )


# ---------------------------------------------------------------------------
# K2 ordered state under poison
# ---------------------------------------------------------------------------


def test_ordered_per_key_survives_null_seq(spark, tmpdir):
    """A message with NULL seq (no position claim) must not kill the query:
    Arrow hands the null-bearing long column to pandas as float64+NaN, and
    the pre-fix int(NaN) raised inside applyInPandasWithState, failing the
    stream.  Contract: the row is processed serially (consumes a
    processing_index), emits seq NULL / in_order False, and the key's
    cursor is untouched — later positioned messages still read in-order."""
    src = os.path.join(tmpdir, "src")
    _envelopes(
        spark,
        [
            ("m1", "k1", 1, 1),
            ("m-null", "k1", None, 1),
            ("m2", "k1", 2, 1),
            ("m3", "k1", 3, 1),
        ],
    ).coalesce(1).write.parquet(src)

    q = (
        ordered_per_key(envelope_file_stream(spark, src))
        .writeStream.format("memory")
        .queryName("null_seq_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = sorted(spark.table("null_seq_out").collect(), key=lambda r: r.processing_index)
    assert len(rows) == 4  # nothing lost, stream alive
    positionless = [r for r in rows if r.seq is None]
    assert [r.message_id for r in positionless] == ["m-null"]
    assert not positionless[0].in_order and not positionless[0].is_redelivery
    # cursor undisturbed: the positioned rows are a gap-free in-order pass
    positioned = [r for r in rows if r.seq is not None]
    assert [r.seq for r in positioned] == [1, 2, 3]
    assert all(r.in_order for r in positioned)
    assert [r.processing_index for r in rows] == list(range(4))  # serial


def test_ordered_per_key_null_key_forms_serial_group(spark, tmpdir):
    """NULL keys group together (Spark's groupBy NULL semantics), so keyless
    messages still process serially relative to one another — the analog of
    a broker routing empty-keyed messages to a single consumer."""
    src = os.path.join(tmpdir, "src")
    _envelopes(
        spark,
        [
            ("n1", None, 1, 1),
            ("n2", None, 2, 1),
            ("k1-1", "k1", 1, 1),
            ("n3", None, 3, 1),
        ],
    ).coalesce(1).write.parquet(src)

    q = (
        ordered_per_key(envelope_file_stream(spark, src))
        .writeStream.format("memory")
        .queryName("null_key_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.table("null_key_out").collect()
    assert len(rows) == 4
    keyless = sorted((r for r in rows if r.key is None), key=lambda r: r.processing_index)
    assert [r.seq for r in keyless] == [1, 2, 3]
    assert [r.processing_index for r in keyless] == [0, 1, 2]  # serial group
    assert all(r.in_order for r in keyless)


def test_process_key_null_attempt_is_inert():
    """NULL attempt must not perturb the cursor: only seq drives it.  Driven
    at the logic level (same style as the TWS-parity test) so the pin stays
    cheap."""
    from pulsar_pekko_streams_example_spark.streaming import ordered_state as OS

    class FakeGroupState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    pdf = pd.DataFrame(
        [("m1", 1, None), ("m2", 2, 1)], columns=["message_id", "seq", "attempt"]
    )
    st = FakeGroupState()
    (out,) = OS._process_key(("k",), iter([pdf]), st)
    assert list(out["seq"]) == [1, 2]
    assert list(out["in_order"]) == [True, True]
    assert st.get == (2, 2)


# ---------------------------------------------------------------------------
# S7 routing under poison: no message may vanish
# ---------------------------------------------------------------------------


def test_retry_router_conserves_null_ok_and_null_attempt(spark, tmpdir):
    """Delivery conservation: every input row lands in exactly one of
    sink / retry / DLQ.  Pre-fix, filter(ok)/filter(~ok) dropped NULL-ok
    rows from BOTH branches (the three-valued-logic trap pinned for batch
    in round 5 — incremental_daily_revenue), and NULL-attempt rows skipped
    both the retry and the DLQ filter: silently lost messages."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )
    batch = spark.createDataFrame(
        [
            ("m-ok", 1, True),
            ("m-fail", 1, False),
            ("m-null-ok", 1, None),          # processor never decided
            ("m-null-att", None, False),     # attempt counter lost in transit
            ("m-null-both", None, None),
            ("m-exhausted", 3, False),       # straight to DLQ
        ],
        "message_id string, attempt long, ok boolean",
    )
    router.route_batch(batch, batch_id=1)

    sink = spark.read.parquet(router.sink_path)
    retry = spark.read.parquet(router.retry_path)
    dlq = spark.read.parquet(router.dlq_path)
    assert sink.count() + retry.count() + dlq.count() == 6  # conservation
    assert {r.message_id for r in sink.collect()} == {"m-ok"}
    assert {r.message_id for r in dlq.collect()} == {"m-exhausted"}
    by_id = {r.message_id: r for r in retry.collect()}
    assert set(by_id) == {"m-fail", "m-null-ok", "m-null-att", "m-null-both"}
    # NULL attempt is treated as attempt 1, so the retry carries attempt 2
    # and the message keeps its full retry budget
    assert by_id["m-null-att"].attempt == 2
    assert by_id["m-null-both"].attempt == 2
    assert by_id["m-null-ok"].attempt == 2


def test_retry_router_null_ok_eventually_reaches_dlq(spark, tmpdir):
    """A message whose processor never returns a verdict must still follow
    the S7 terminal path: retry cycles, then DLQ — never an infinite loop
    and never a silent drop."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=2,
    )
    batch = spark.createDataFrame(
        [("m-undecided", None, None)], "message_id string, attempt long, ok boolean"
    )
    router.route_batch(batch, batch_id=1)
    for cycle in range(2, 5):
        due = router.due_retries(spark, as_of="2100-01-01 00:00:00")
        if not due.count():
            break
        router.route_batch(
            due.drop("available_at", "_batch_id").withColumn(
                "ok", F.lit(None).cast("boolean")
            ),
            batch_id=cycle,
        )
    dlq = spark.read.parquet(router.dlq_path)
    assert [r.message_id for r in dlq.collect()] == ["m-undecided"]
    assert router.due_retries(spark, as_of="2100-01-01 00:00:00").count() == 0


def test_retry_router_null_message_id_gets_stable_surrogate(spark, tmpdir):
    """Message identity is load-bearing for the retry frontier (window on
    message_id) and the DLQ exclusion (anti-join on message_id).  Two
    DISTINCT anonymous failures must retry and terminate independently —
    without the content-derived surrogate they collapse into one window
    partition (only one ever redelivered) and NULL never equi-joins the
    DLQ (the survivor loops forever)."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=2,
    )
    batch = spark.createDataFrame(
        [(None, "payload-A", 1, False), (None, "payload-B", 1, False)],
        "message_id string, body string, attempt long, ok boolean",
    )
    router.route_batch(batch, batch_id=1)

    due = router.due_retries(spark, as_of="2100-01-01 00:00:00")
    rows = due.collect()
    # BOTH anonymous messages are in the frontier, under distinct surrogates
    assert len(rows) == 2
    assert {r.body for r in rows} == {"payload-A", "payload-B"}
    assert all(r.message_id and r.message_id.startswith("anon-") for r in rows)
    assert len({r.message_id for r in rows}) == 2

    # redelivery of the same anonymous content maps to the SAME surrogate,
    # so the lifecycle terminates: second failure reaches the DLQ and the
    # frontier drains to empty
    router.route_batch(
        due.drop("available_at", "_batch_id").withColumn(
            "message_id", F.lit(None).cast("string")  # still anonymous on the wire
        ).withColumn("ok", F.lit(False)),
        batch_id=2,
    )
    dlq = spark.read.parquet(router.dlq_path)
    assert dlq.count() == 2 and {r.body for r in dlq.collect()} == {"payload-A", "payload-B"}
    assert router.due_retries(spark, as_of="2100-01-01 00:00:00").count() == 0


def test_retry_router_broker_identity_disambiguates_anonymous_dups(spark, tmpdir):
    """Byte-identical anonymous messages coalesce onto one surrogate (the
    documented trade-off) — but when the envelope carries ANY broker-side
    unique field (raw __messageId bytes, a partition offset), it enters the
    surrogate hash automatically and the duplicates retry independently.
    Pins the ADVICE-r8 remedy: delivery multiplicity is preserved with no
    router configuration, just a distinguishing column on the wire."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=2,
    )
    # identical payloads; only the broker-assigned raw id differs
    batch = spark.createDataFrame(
        [
            (None, "same-payload", b"\x01\x02", 1, False),
            (None, "same-payload", b"\x03\x04", 1, False),
        ],
        "message_id string, body string, __messageId binary, attempt long, ok boolean",
    )
    router.route_batch(batch, batch_id=1)
    due = router.due_retries(spark, as_of="2100-01-01 00:00:00")
    rows = due.collect()
    assert len(rows) == 2, "broker identity must keep duplicate payloads distinct"
    assert len({r.message_id for r in rows}) == 2

    # without the broker field, the same two failures are indistinguishable
    # and coalesce — the documented at-least-once-of-content behavior
    router2 = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink2"),
        retry_path=os.path.join(tmpdir, "retry2"),
        dlq_path=os.path.join(tmpdir, "dlq2"),
        redelivery_delay_s=0,
        max_attempts=2,
    )
    router2.route_batch(batch.drop("__messageId"), batch_id=1)
    assert router2.due_retries(spark, as_of="2100-01-01 00:00:00").count() == 1


# ---------------------------------------------------------------------------
# T1/T4 processor verdicts under poison
# ---------------------------------------------------------------------------


def test_apply_processor_null_verdict_is_failure(spark):
    """A NaN/None verdict is a failure, not an ack: pre-fix,
    Series.astype(bool) mapped NaN to True and silently ACKED the rows the
    processor failed to decide."""
    df = spark.range(6).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
    )

    def undecided_on_even(pdf: pd.DataFrame) -> pd.Series:
        s = (pdf["event_id"] % 2 != 0).astype("object")
        s[pdf["event_id"] % 2 == 0] = None
        return s

    rows = {r.message_id: r for r in apply_processor(df, undecided_on_even).collect()}
    assert len(rows) == 6
    for mid, r in rows.items():
        i = int(mid.split("-")[1])
        if i % 2 == 0:
            assert r.ok is False and "NullVerdict" in r.error, r
        else:
            assert r.ok is True and r.error is None, r


def test_apply_processor_reprocesses_a_frontier_that_carries_verdicts(spark):
    """Reprocessing the retry frontier directly — apply_processor over a
    frame that already carries ok/error from its LAST attempt — must drop
    the stale verdicts and re-decide, not build a duplicate-field output
    schema (StructType.add does not dedupe; pre-fix the duplicate 'ok'
    broke mapInPandas column binding at runtime and every caller had to
    remember drop('ok','error') itself)."""
    df = spark.range(4).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
        F.lit(False).alias("ok"),  # the stale last-attempt verdict
        F.lit("old failure").alias("error"),
    )
    out = apply_processor(df, lambda pdf: pdf["event_id"] % 2 == 0)
    assert out.columns.count("ok") == 1 and out.columns.count("error") == 1
    rows = {r.message_id: r.ok for r in out.collect()}
    # verdicts are RE-decided, not inherited from the stale column
    assert rows == {"m-0": True, "m-1": False, "m-2": True, "m-3": False}


def test_simulated_processor_fails_null_event_ids(spark):
    """A NULL event_id arrives in the Arrow batch as NaN, and NaN % m != 0
    is True — pre-fix the simulated processor silently ACKED a message
    that cannot even be identified.  A missing id is a failure, the same
    NULL-is-failure contract the router enforces."""
    from pulsar_pekko_streams_example_spark.streaming.processor import (
        simulated_processor,
    )

    df = spark.createDataFrame(
        [("m-ok", 7), ("m-null", None), ("m-fail", 10)],
        "message_id string, event_id long",
    )
    rows = {
        r.message_id: r.ok
        for r in apply_processor(df, simulated_processor()).collect()
    }
    assert rows == {"m-ok": True, "m-null": False, "m-fail": False}


def test_watermarked_rejects_metering_without_a_guard(spark, tmpdir):
    """bounds=None disables the guard, so guard_metrics would attach NO
    observation: pre-fix the combination was silently accepted and
    guard_totals() reported zero drops while the bare watermark may have
    been dropping rows — the exact books-don't-balance outcome the
    metering exists to prevent."""
    from pulsar_pekko_streams_example_spark.sources.streams import (
        envelope_file_stream,
        watermarked,
    )

    src = os.path.join(tmpdir, "src")
    seed_messages(spark, 4).write.parquet(src)
    stream = envelope_file_stream(spark, src)
    with pytest.raises(ValueError, match="bounds=None disables it"):
        watermarked(stream, "10 minutes", bounds=None, guard_metrics="g")


def test_file_stream_rejects_a_zero_admission_bound(spark, tmpdir):
    """max_files_per_trigger=0 (a computed bound that bottomed out) must
    fail loud: pre-fix the falsy check skipped the option and the stream
    ran UNBOUNDED — the opposite of the full throttle the caller asked
    for."""
    from pulsar_pekko_streams_example_spark.sources.streams import (
        envelope_file_stream,
    )

    src = os.path.join(tmpdir, "src")
    seed_messages(spark, 4).write.parquet(src)
    with pytest.raises(ValueError, match="must be positive"):
        envelope_file_stream(spark, src, max_files_per_trigger=0)


def test_apply_processor_misaligned_verdicts_fail_safe(spark):
    """A processor returning a Series on a FOREIGN index (e.g. after
    reset_index) aligns to NaN everywhere — every row must come back as a
    failure, never as an ack; and a wrong-LENGTH verdict list fails the
    whole batch through the ProcessFailure path."""
    # one partition → one Arrow batch, so the wrong-LENGTH case below is
    # genuinely wrong (per-row partitions would make a 1-verdict list valid)
    df = spark.range(5).coalesce(1).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
    )

    def foreign_index(pdf: pd.DataFrame) -> pd.Series:
        return pd.Series([True] * len(pdf), index=range(10_000, 10_000 + len(pdf)))

    rows = apply_processor(df, foreign_index).collect()
    assert len(rows) == 5
    assert all((not r.ok) and "NullVerdict" in r.error for r in rows)

    def wrong_length(pdf: pd.DataFrame):
        return [True]  # list of length 1 for an N-row batch

    rows = apply_processor(df, wrong_length).collect()
    assert len(rows) == 5
    assert all(not r.ok for r in rows)
    assert all(r.error for r in rows)


def test_apply_processor_scalar_return_fails_closed(spark):
    """A processor returning a bare scalar must fail the batch, never ack it:
    pd.Series(scalar, index) BROADCASTS, so pre-fix a buggy processor
    returning True (or any non-empty string) silently ACKED every row —
    the exact opposite of the reference's every-non-answer-is-a-
    ProcessFailure contract (driver ADVICE r8)."""
    df = spark.range(4).coalesce(1).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
    )

    for scalar in (True, "ok", 1):
        rows = apply_processor(df, lambda pdf, s=scalar: s).collect()
        assert len(rows) == 4
        assert all(not r.ok for r in rows), f"scalar {scalar!r} acked rows"
        assert all(r.error and "one verdict per row" in r.error for r in rows)

    # a 1-char string must not sneak through as a length-1 sequence ack
    # either, and a length-matching STRING (4 chars for 4 rows) must not be
    # treated as 4 per-row verdicts
    rows = apply_processor(df, lambda pdf: "acks").collect()
    assert all(not r.ok and "one verdict per row" in r.error for r in rows)


def test_apply_processor_string_verdicts_fail_closed(spark):
    """A per-row verdict SERIES of strings must fail the batch, never ack:
    astype(bool) maps every non-empty string — including "false" and error
    prose — to True, so a processor leaking a string column would silently
    ACK the lot.  Booleans and 0/1 numerics are the accepted verdict
    dtypes; bool-with-gaps (object) keeps routing gaps to NullVerdict."""
    df = spark.range(4).coalesce(1).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
        F.lit("false").alias("status"),
    )

    rows = apply_processor(df, lambda pdf: pdf["status"]).collect()
    assert all(not r.ok and "must be boolean" in r.error for r in rows)

    # numeric 0/1 convention still passes
    rows = {r.message_id: r for r in
            apply_processor(df, lambda pdf: (pdf["event_id"] % 2)).collect()}
    assert rows["m-1"].ok and not rows["m-0"].ok


def test_engine_metrics_balance_with_null_verdicts(spark, tmpdir):
    """G4 accounting under poison: successes + failures must equal processed
    even when verdicts are NULL — pre-fix, NULL-ok rows counted in processed
    but in neither outcome, so the books didn't balance and the metrics
    disagreed with the router's NULL-is-failure contract.  Driven through
    the real observe() + StreamingQueryListener path."""
    import time

    from pulsar_pekko_streams_example_spark.streaming import metrics as M

    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    spark.createDataFrame(
        [("a", True), ("b", False), ("c", None), ("d", None)],
        "message_id string, ok boolean",
    ).coalesce(1).write.parquet(os.path.join(src, "f0"))

    listener = M.install(spark)
    try:
        stream = spark.readStream.schema("message_id string, ok boolean").parquet(
            src + "/*"
        )
        q = (
            M.with_engine_metrics(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline and listener.totals()["batches"] < 1:
            time.sleep(0.5)
        totals = listener.totals()
        assert totals["processed"] == 4
        assert totals["successes"] == 1
        assert totals["failures"] == 3  # the two NULL verdicts count here
        assert totals["successes"] + totals["failures"] == totals["processed"]
    finally:
        M.uninstall(spark, listener)


def test_route_outcomes_null_verdict_is_nack(spark):
    """T2 split conservation: ack ∪ nack must cover every processed row;
    NULL verdicts go to nack (pre-fix they vanished from both branches)."""
    from pulsar_pekko_streams_example_spark.streaming.processor import route_outcomes

    df = spark.createDataFrame(
        [("a", True), ("b", False), ("c", None)], "message_id string, ok boolean"
    )
    acks, nacks = route_outcomes(df)
    assert {r.message_id for r in acks.collect()} == {"a"}
    assert {r.message_id for r in nacks.collect()} == {"b", "c"}


# ---------------------------------------------------------------------------
# S1 payload decode under poison
# ---------------------------------------------------------------------------


def test_to_envelope_flags_undecodable_payloads(spark):
    """Corrupt-record policy over hostile payload bytes: NULL payload, empty
    bytes, whitespace, invalid UTF-8, malformed JSON, JSON null — all must
    come through as corrupt=true rows (errors-as-data; the stream never
    fails and no undecodable payload masquerades as a decoded one), while
    the one valid payload decodes."""
    from pulsar_pekko_streams_example_spark.sources.pulsar import to_envelope

    rows = [
        ("a1", b'{"name": "ok", "numPublishes": 3}'),
        ("a2", None),
        ("a3", b""),
        ("a4", b"   "),
        ("a5", b"\xff\xfe broken utf8"),
        ("a6", b'{"name": unquoted}'),
        ("a7", b"null"),
    ]
    raw = spark.createDataFrame(
        [(v, "k", "t", mid.encode(), None, None) for (mid, v) in rows],
        "value binary, __key string, __topic string, __messageId binary, "
        "__publishTime timestamp, __eventTime timestamp",
    )
    out = {bytes.fromhex(r.message_id).decode(): r for r in to_envelope(raw).collect()}
    assert len(out) == 7  # every message surfaced, stream-safe
    assert not out["a1"].corrupt
    assert out["a1"].payload.name == "ok" and out["a1"].payload.numPublishes == 3
    for mid in ("a2", "a3", "a4", "a5", "a6", "a7"):
        assert out[mid].corrupt, f"{mid} should be corrupt"
        # an undecodable payload never presents decoded fields
        p = out[mid].payload
        assert p is None or p.name is None


# ---------------------------------------------------------------------------
# Watermark poisoning by hostile event times
# ---------------------------------------------------------------------------


def test_far_future_timestamp_poisons_watermark_without_guard(spark, tmpdir):
    """Demonstrates the engine behavior the bounded_event_time guard exists
    for: one year-9999 message in batch 1 advances the watermark past every
    legitimate event, and batch 2's perfectly normal rows are dropped as
    late — silently.  This pins the hazard so an engine-version change in
    the semantics is noticed."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def batch(ids, ts_expr):
        return spark.range(*ids).select(
            F.col("id").cast("string").alias("message_id"),
            F.concat(F.lit("k"), (F.col("id") % 3).cast("string")).alias("key"),
            ts_expr.alias("publish_time"),
        )

    normal_ts = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(
        secs=F.col("id") * 60
    )
    batch((0, 10), normal_ts).unionByName(
        batch((100, 101), F.lit("9999-01-01 00:00:00").cast("timestamp"))
    ).coalesce(1).write.parquet(src, mode="append")

    stream = spark.readStream.schema(
        "message_id string, key string, publish_time timestamp"
    ).parquet(src)
    windowed = (
        stream.withWatermark("publish_time", "10 minutes")
        .groupBy(F.window("publish_time", "5 minutes").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "key", "n")
    )

    def drain():
        q = (
            windowed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # batch 2: normal rows an hour later — still years before the poisoned
    # watermark, so the engine treats them as hopelessly late
    batch((200, 260), normal_ts + F.expr("INTERVAL 1 HOUR")).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain()

    got = spark.read.parquet(out_dir)
    # the first 10 events' windows were closed by the poisoned watermark...
    assert got.filter(F.col("ws") < "2024-01-02").agg(F.sum("n")).collect()[0][0] == 10
    # ...and batch 2's 60 legitimate events were dropped entirely
    assert got.agg(F.sum("n")).collect()[0][0] == 10


def test_bounded_event_time_guard_keeps_stream_sane(spark, tmpdir):
    """Same poisoned feed, with the guard: the year-9999 row is excluded
    before the watermark, so every legitimate event in both batches is
    aggregated — no silent loss."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def batch(ids, ts_expr):
        return spark.range(*ids).select(
            F.col("id").cast("string").alias("message_id"),
            F.concat(F.lit("k"), (F.col("id") % 3).cast("string")).alias("key"),
            ts_expr.alias("publish_time"),
        )

    normal_ts = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(
        secs=F.col("id") * 60
    )
    batch((0, 10), normal_ts).unionByName(
        batch((100, 101), F.lit("9999-01-01 00:00:00").cast("timestamp"))
    ).unionByName(
        batch((300, 301), F.lit(None).cast("timestamp"))  # timeless event
    ).coalesce(1).write.parquet(src, mode="append")

    stream = spark.readStream.schema(
        "message_id string, key string, publish_time timestamp"
    ).parquet(src)
    windowed = (
        bounded_event_time(stream)
        .withWatermark("publish_time", "10 minutes")
        .groupBy(F.window("publish_time", "5 minutes").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "key", "n")
    )

    def drain():
        q = (
            windowed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    batch((200, 260), normal_ts + F.expr("INTERVAL 1 HOUR")).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain()
    # close the tail windows with an in-bounds heartbeat
    batch((400, 401), F.lit("2024-01-02 00:00:00").cast("timestamp")).coalesce(
        1
    ).write.parquet(src, mode="append")
    drain()

    got = spark.read.parquet(out_dir)
    # all 70 legitimate events aggregated; poisoned + timeless excluded
    assert (
        got.filter(F.col("ws") < "2024-01-02").agg(F.sum("n")).collect()[0][0] == 70
    )


def test_watermarked_helper_default_path_survives_poison(spark, tmpdir):
    """The library's front-door watermark (``watermarked``, guard ON by
    default) over the same poisoned feed the canary test uses: the
    year-9999 row and the NULL-timestamp row are excluded before the
    watermark, so every legitimate event in both batches aggregates — a
    user composing ``watermarked(stream, delay)`` can no longer reach the
    total-loss behavior pinned by
    test_far_future_timestamp_poisons_watermark_without_guard."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def batch(ids, ts_expr):
        return spark.range(*ids).select(
            F.col("id").cast("string").alias("message_id"),
            F.concat(F.lit("k"), (F.col("id") % 3).cast("string")).alias("key"),
            ts_expr.alias("publish_time"),
        )

    normal_ts = F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(
        secs=F.col("id") * 60
    )
    batch((0, 10), normal_ts).unionByName(
        batch((100, 101), F.lit("9999-01-01 00:00:00").cast("timestamp"))
    ).unionByName(
        batch((300, 301), F.lit(None).cast("timestamp"))
    ).coalesce(1).write.parquet(src, mode="append")

    stream = spark.readStream.schema(
        "message_id string, key string, publish_time timestamp"
    ).parquet(src)
    windowed = (
        watermarked(stream, "10 minutes")  # default bounds — the front door
        .groupBy(F.window("publish_time", "5 minutes").alias("w"), "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "key", "n")
    )

    def drain():
        q = (
            windowed.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    batch((200, 260), normal_ts + F.expr("INTERVAL 1 HOUR")).coalesce(1).write.parquet(
        src, mode="append"
    )
    drain()
    batch((400, 401), F.lit("2024-01-02 00:00:00").cast("timestamp")).coalesce(
        1
    ).write.parquet(src, mode="append")
    drain()

    got = spark.read.parquet(out_dir)
    assert (
        got.filter(F.col("ws") < "2024-01-02").agg(F.sum("n")).collect()[0][0] == 70
    )


def test_watermarked_opt_out_is_bare_watermark(spark, tmpdir):
    """``bounds=None`` must be a genuine opt-out: no guard filter, rows with
    hostile timestamps reach the watermark operator untouched (the caller
    asked for engine semantics; the library must not second-guess)."""
    src = os.path.join(tmpdir, "in")
    os.makedirs(src)
    spark.createDataFrame(
        [("a", "9999-01-01 00:00:00"), ("b", None)],
        "message_id string, ts_raw string",
    ).select(
        "message_id", F.col("ts_raw").cast("timestamp").alias("publish_time")
    ).coalesce(1).write.parquet(src, mode="append")

    stream = spark.readStream.schema(
        "message_id string, publish_time timestamp"
    ).parquet(src)
    bare = watermarked(stream, "10 minutes", bounds=None)
    # no filter was injected: the plan below the watermark is the raw scan
    assert "Filter" not in bare._jdf.queryExecution().analyzed().toString().split(
        "EventTimeWatermark"
    )[-1]
    guarded = watermarked(stream, "10 minutes")
    assert "Filter" in guarded._jdf.queryExecution().analyzed().toString()


# ---------------------------------------------------------------------------
# Full envelope pipeline, poisoned end to end
# ---------------------------------------------------------------------------


def test_envelope_pipeline_conserves_poisoned_backlog(spark, tmpdir):
    """source → processor → router over a backlog where every poison class
    appears at once (NULL key/seq/attempt/status/publish_time + a processor
    that cannot decide some rows): the pipeline neither fails nor loses a
    message — sink + retry + DLQ account for every seeded envelope."""
    src = os.path.join(tmpdir, "src")
    rows = [
        ("p1", "k1", 1, 1),
        ("p2", None, None, None),
        ("p3", "k1", None, 1),
        ("p4", None, 2, 2),
        ("p5", "k2", 2, 5),  # fails (seq 2) at its last allowed attempt
        ("p6", "k2", 2, 1),
    ]
    _envelopes(spark, rows).coalesce(1).write.parquet(src)

    def flaky(pdf: pd.DataFrame) -> pd.Series:
        # undecided wherever the key is missing; fail seq 2; ack the rest
        s = pd.Series(True, index=pdf.index, dtype="object")
        s[pdf["key"].isna()] = None
        s[pdf["seq"] == 2] = False
        return s

    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=5,
    )
    q = (
        router.attach(
            apply_processor(envelope_file_stream(spark, src), flaky),
            os.path.join(tmpdir, "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    sink = spark.read.parquet(router.sink_path)
    retry = spark.read.parquet(router.retry_path)
    dlq = spark.read.parquet(router.dlq_path)
    assert sink.count() + retry.count() + dlq.count() == len(rows)
    assert {r.message_id for r in sink.collect()} == {"p1", "p3"}
    assert {r.message_id for r in dlq.collect()} == {"p5"}  # attempt 5 == max
    assert {r.message_id for r in retry.collect()} == {"p2", "p4", "p6"}


def test_metrics_listener_survives_foreign_observation():
    """A foreign observation that reuses the engine_metrics name but not its
    columns must not raise inside the listener: the event bus swallows
    listener exceptions, so a KeyError would silently drop the batch's row
    from the ledger — the books would stop balancing with no error
    anywhere.  Malformed observations are recorded as data instead."""
    from types import SimpleNamespace

    from pulsar_pekko_streams_example_spark.streaming.metrics import MetricsListener

    listener = MetricsListener()

    def progress_event(batch_id, observed):
        return SimpleNamespace(
            progress=SimpleNamespace(batchId=batch_id, observedMetrics=observed)
        )

    listener.onQueryProgress(
        progress_event(0, {"engine_metrics": {"rows_seen": 9}})  # foreign shape
    )
    listener.onQueryProgress(
        progress_event(
            1, {"engine_metrics": {"processed": 5, "successes": 3, "failures": 2}}
        )
    )
    listener.onQueryProgress(progress_event(2, None))  # no observations at all

    totals = listener.totals()
    assert totals["processed"] == 5 and totals["batches"] == 1
    assert totals["malformed_batches"] == 1
    assert listener.malformed[0]["batch_id"] == 0


def test_metrics_listener_rejects_null_valued_observation_fields():
    """Matching NAMES are not enough: a foreign observation can carry our
    field names with NULL values (e.g. a max over an empty batch) — Row
    access returns None without raising, so pre-fix the None landed in the
    ledger and totals() raised TypeError at REPORT time in the caller, far
    from the offending batch.  Value-malformed rows are recorded as data,
    same as shape-malformed ones."""
    from types import SimpleNamespace

    from pulsar_pekko_streams_example_spark.streaming.metrics import MetricsListener

    listener = MetricsListener()

    def progress_event(batch_id, observed):
        return SimpleNamespace(
            progress=SimpleNamespace(batchId=batch_id, observedMetrics=observed)
        )

    listener.onQueryProgress(
        progress_event(
            0, {"engine_metrics": {"processed": None, "successes": 1, "failures": 0}}
        )
    )
    listener.onQueryProgress(
        progress_event(
            1, {"engine_metrics": {"processed": "5", "successes": 3, "failures": 2}}
        )
    )
    listener.onQueryProgress(
        progress_event(
            2, {"engine_metrics": {"processed": 5, "successes": 3, "failures": 2}}
        )
    )
    totals = listener.totals()  # must not raise
    assert totals["processed"] == 5 and totals["batches"] == 1
    assert totals["malformed_batches"] == 2


def test_malformed_engine_row_does_not_skip_guard_observation():
    """Observations are collected independently: a malformed engine_metrics
    row in a batch must NOT short-circuit that batch's VALID guard row
    (round-10 advice — pre-fix the shared early return silently
    undercounted guard_totals(), the exact unbalanced accounting the guard
    metering exists to prevent)."""
    from types import SimpleNamespace

    from pulsar_pekko_streams_example_spark.streaming.metrics import MetricsListener

    listener = MetricsListener()
    listener.onQueryProgress(
        SimpleNamespace(
            progress=SimpleNamespace(
                batchId=0,
                observedMetrics={
                    "engine_metrics": {"rows_seen": 9},  # foreign shape
                    "event_time_guard": {"scanned": 10, "in_bounds": 7},
                },
            )
        )
    )
    g = listener.guard_totals()
    assert (g["scanned"], g["in_bounds"], g["dropped"], g["batches"]) == (10, 7, 3, 1)
    assert listener.totals()["malformed_batches"] == 1
    # and symmetrically: a malformed guard row never blocks the engine row
    listener.onQueryProgress(
        SimpleNamespace(
            progress=SimpleNamespace(
                batchId=1,
                observedMetrics={
                    "engine_metrics": {"processed": 5, "successes": 3, "failures": 2},
                    "event_time_guard": {"late": 1},  # foreign shape
                },
            )
        )
    )
    assert listener.totals()["processed"] == 5
    assert listener.totals()["malformed_batches"] == 2
    assert listener.guard_totals()["batches"] == 1
    # BOTH observations foreign in ONE batch: two malformed records, ONE
    # affected batch — malformed_batches counts batches, not records
    listener.onQueryProgress(
        SimpleNamespace(
            progress=SimpleNamespace(
                batchId=2,
                observedMetrics={
                    "engine_metrics": {"x": 1},
                    "event_time_guard": {"y": 2},
                },
            )
        )
    )
    assert len(listener.malformed) == 4  # per-record detail preserved
    assert listener.totals()["malformed_batches"] == 3  # batches 0, 1, 2


# ---------------------------------------------------------------------------
# L1–L5 control plane under poison (round-9 sweep)
# ---------------------------------------------------------------------------


class _FakeQuery:
    """Stand-in StreamingQuery for control-plane tests: the manager only
    touches isActive / processAllAvailable / stop."""

    def __init__(self, fail_stop: bool = False):
        self.isActive = True
        self.fail_stop = fail_stop

    def processAllAvailable(self):
        pass

    def stop(self):
        if self.fail_stop:
            raise RuntimeError("broker connection lost mid-stop")
        self.isActive = False


def test_workload_nameless_identity_fails_closed():
    """The name IS the identity (part4/WorkloadManagementService.scala:35-42
    equality by name): a NULL/empty/non-string name would make the workload
    untargetable by reconciliation (it could never be deleted) and collide
    every nameless workload onto one registry key — construction must
    refuse."""
    from pulsar_pekko_streams_example_spark.streaming.workload import Workload

    for bad in (None, "", 7):
        with pytest.raises(ValueError):
            Workload(bad, "topic")


def test_workload_conflicting_duplicates_collapse_first_wins():
    """Duplicate names with CONFLICTING configs in one requested set collapse
    by equality-by-name — first inserted wins.  Pins the set semantics the
    reconciler inherits (same collapse the reference's case-class equality
    produces in Set[Workload], dup-filter at
    part4/WorkloadManagementService.scala:122-124)."""
    from pulsar_pekko_streams_example_spark.streaming.workload import Workload

    a1 = Workload("a", "topic-1")
    a2 = Workload("a", "topic-2")
    assert a1 == a2 and len({a1, a2}) == 1
    assert next(iter({a1, a2})).topic == "topic-1"
    assert next(iter({a2, a1})).topic == "topic-2"


def test_reconcile_isolates_poisoned_factory(spark):
    """One workload whose stream factory raises (broker down for ONE topic)
    must not abort the tick: pre-fix, set-iteration order decided which
    HEALTHY workloads silently never started.  The failure is data on the
    report, and the next tick retries the poisoned one."""
    from pulsar_pekko_streams_example_spark.streaming.workload import (
        Workload,
        WorkloadManager,
    )

    broker_down = {"poison"}

    def factory(w):
        if w.workload_name in broker_down:
            raise RuntimeError("no broker for topic")
        return _FakeQuery()

    mgr = WorkloadManager(spark=spark, stream_factory=factory)
    req = {Workload("poison", "t"), Workload("good1", "t"), Workload("good2", "t")}
    report = mgr.reconcile(req)
    assert mgr.running() == {"good1", "good2"}
    assert set(report.start_errors) == {"poison"}
    assert "no broker" in report.start_errors["poison"]

    # broker recovers → the SAME requested set converges on the next tick
    broker_down.clear()
    report = mgr.reconcile(req)
    assert mgr.running() == {"good1", "good2", "poison"}
    assert not report.start_errors


def test_stop_failure_keeps_query_managed_until_it_succeeds(spark):
    """A query whose stop() throws must STAY registered: pre-fix it was
    popped first, leaving an ACTIVE stream no tick could ever target again
    (a zombie consuming the topic forever).  Kept registered, reconcile
    retries the delete each tick until the stop lands."""
    from pulsar_pekko_streams_example_spark.streaming.workload import (
        Workload,
        WorkloadManager,
    )

    q = _FakeQuery(fail_stop=True)
    mgr = WorkloadManager(spark=spark, stream_factory=lambda w: q)
    assert mgr.start(Workload("angry", "t"))

    report = mgr.reconcile(set())  # desired: gone
    assert mgr.running() == {"angry"}, "failed stop must not unmanage the query"
    assert "angry" in report.stop_errors and q.isActive

    # shutdown_all reports instead of stranding the rest
    errors = mgr.shutdown_all()
    assert "angry" in errors and mgr.running() == {"angry"}

    q.fail_stop = False  # broker back → the retry converges
    report = mgr.reconcile(set())
    assert mgr.running() == set() and not report.stop_errors and not q.isActive


def test_discovery_loop_survives_transient_tick_failures(spark):
    """One flaky get_requested() (config store hiccup) must not kill the
    discovery daemon: pre-fix the thread died on the first exception and the
    control plane silently stopped converging FOREVER — the worst failure
    mode a reconciler can have.  The loop resumes (L10 supervision), records
    the error, and later ticks still converge; a workload that appears and
    vanishes between ticks is started then stopped."""
    import threading
    import time as _time

    from pulsar_pekko_streams_example_spark.streaming.workload import (
        Workload,
        WorkloadManager,
    )

    mgr = WorkloadManager(spark=spark, stream_factory=lambda w: _FakeQuery())
    ticks = []

    def get_requested():
        ticks.append(1)
        n = len(ticks)
        if n == 2:
            raise RuntimeError("config store flaked")
        if n < 4:
            return {Workload("ephemeral", "t")}  # appears...
        return {Workload("steady", "t")}  # ...and vanishes

    ev = threading.Event()
    t = mgr.run_discovery_loop(get_requested, interval_s=0.02, stop_event=ev)
    deadline = _time.time() + 10
    while _time.time() < deadline and mgr.running() != {"steady"}:
        _time.sleep(0.05)
    ev.set()
    t.join(5)
    assert mgr.running() == {"steady"}
    assert t.is_alive() is False
    assert any("config store flaked" in e for e in mgr.discovery_errors)
    assert len(mgr.discovery_errors) <= mgr.MAX_DISCOVERY_ERRORS


def test_discovery_loop_is_start_once_while_alive(spark):
    """The reference guards the management service with a start-once
    AtomicBoolean (part4/WorkloadManagementService.scala:109-110): a second
    run_discovery_loop while a loop is LIVE must return the existing thread
    — two ticks would race reconcile over the same registry — while a call
    AFTER the loop stopped starts a fresh one (restartable service)."""
    import threading
    import time as _time

    from pulsar_pekko_streams_example_spark.streaming.workload import WorkloadManager

    mgr = WorkloadManager(spark=spark, stream_factory=lambda w: _FakeQuery())
    ev = threading.Event()
    t1 = mgr.run_discovery_loop(lambda: set(), interval_s=0.01, stop_event=ev)
    t2 = mgr.run_discovery_loop(lambda: set(), interval_s=0.01)
    assert t2 is t1  # no competitor spawned; t1.stop_event still governs

    # an explicit stop_event against a live loop is an ERROR, not a silent
    # no-op: an Event that controls nothing is the footgun
    with pytest.raises(RuntimeError, match="already live"):
        mgr.run_discovery_loop(
            lambda: set(), interval_s=0.01, stop_event=threading.Event()
        )

    # set-then-restart WITHOUT a join: the successor must wait out the
    # predecessor's final tick (never two concurrent reconciles) and then
    # start fresh
    ev.set()
    ev2 = threading.Event()
    t3 = mgr.run_discovery_loop(lambda: set(), interval_s=0.01, stop_event=ev2)
    assert t3 is not t1 and not t1.is_alive() and t3.is_alive()
    ev2.set()
    t3.join(5)
    assert not t3.is_alive()
    _time.sleep(0)  # yield — no stray thread should still be ticking
    assert threading.active_count() < 200


def test_discovery_restart_rejects_set_event_and_bounds_the_join(spark):
    """Two round-12 hardenings of the restart path.  (1) An already-SET
    stop_event is rejected up front: a loop built on it would exit before
    a single reconcile — a control plane that LOOKS started but converges
    nothing.  (2) The successor's wait for the predecessor's final tick is
    BOUNDED: a tick hung inside a query stop must raise at
    restart_join_timeout_s (naming the draining thread), not block the
    caller forever; once the stall clears, the restart succeeds."""
    import threading

    from pulsar_pekko_streams_example_spark.streaming.workload import WorkloadManager

    mgr = WorkloadManager(spark=spark, stream_factory=lambda w: _FakeQuery())

    pre_set = threading.Event()
    pre_set.set()
    with pytest.raises(ValueError, match="already set"):
        mgr.run_discovery_loop(lambda: set(), interval_s=0.01, stop_event=pre_set)

    entered, gate = threading.Event(), threading.Event()
    calls = {"n": 0}

    def hanging_tick():
        calls["n"] += 1
        if calls["n"] >= 2:
            entered.set()
            gate.wait(20)  # a reconcile stuck inside a hung query stop
        return set()

    ev = threading.Event()
    t1 = mgr.run_discovery_loop(hanging_tick, interval_s=0.01, stop_event=ev)
    assert entered.wait(10)
    ev.set()  # told to stop, but the final tick is hung
    with pytest.raises(TimeoutError, match="still draining"):
        mgr.run_discovery_loop(
            lambda: set(), interval_s=0.01, restart_join_timeout_s=0.2
        )
    assert t1.is_alive()  # the draining predecessor was not abandoned

    gate.set()  # stall clears; the predecessor finishes its final tick
    t1.join(10)
    assert not t1.is_alive()
    ev2 = threading.Event()
    t2 = mgr.run_discovery_loop(lambda: set(), interval_s=0.01, stop_event=ev2)
    assert t2 is not t1 and t2.is_alive()
    ev2.set()
    t2.join(5)
    assert not t2.is_alive()


def test_discovery_error_ring_is_bounded(spark):
    """A permanently failing tick must not grow driver memory without bound:
    the error ring keeps only the newest MAX_DISCOVERY_ERRORS entries."""
    import threading

    from pulsar_pekko_streams_example_spark.streaming.workload import WorkloadManager

    mgr = WorkloadManager(spark=spark, stream_factory=lambda w: _FakeQuery())
    n = {"i": 0}

    def always_fails():
        n["i"] += 1
        raise RuntimeError(f"tick {n['i']}")

    ev = threading.Event()
    t = mgr.run_discovery_loop(always_fails, interval_s=0.0, stop_event=ev)
    import time as _time

    deadline = _time.time() + 10
    while _time.time() < deadline and n["i"] < 40:
        _time.sleep(0.02)
    ev.set()
    t.join(5)
    assert n["i"] >= 40
    assert len(mgr.discovery_errors) == mgr.MAX_DISCOVERY_ERRORS
    # newest last: the ring holds the most recent errors, not the first ones
    assert mgr.discovery_errors[-1] == f"tick {n['i']}" or mgr.discovery_errors[
        -1
    ].startswith("RuntimeError")


def test_reconcile_same_name_new_config_does_not_restart(spark):
    """Equality-by-name across ticks: a requested workload whose name is
    already running but whose topic/config CHANGED is NOT restarted — the
    running query keeps its original config (reference: Set difference over
    name-equality, part4/WorkloadManagementService.scala:44-50).  Pinned so
    a future 'restart on config drift' feature is a deliberate change."""
    from pulsar_pekko_streams_example_spark.streaming.workload import (
        Workload,
        WorkloadManager,
    )

    made = []

    def factory(w):
        made.append((w.workload_name, w.topic))
        return _FakeQuery()

    mgr = WorkloadManager(spark=spark, stream_factory=factory)
    mgr.reconcile({Workload("w1", "topic-OLD")})
    report = mgr.reconcile({Workload("w1", "topic-NEW")})
    assert made == [("w1", "topic-OLD")], "config drift must not restart"
    assert not report.workloads_to_start and not report.workloads_to_delete


def test_ordered_per_key_idle_timeout_expires_cursor(spark, tmpdir):
    """State sizing at scale: with idle_timeout_ms set, a key's cursor
    lapses once the WATERMARK passes its last event time + TTL — the state
    store stays bounded on unbounded key spaces, expiry is deterministic
    under replay, and (unlike a processing-time TTL, where Spark re-batches
    unconditionally) Trigger.AvailableNow backfills still terminate.  The
    documented trade-off is pinned both ways: a redelivery AFTER the lapse
    reads as a fresh first delivery (is_redelivery False), while WITHOUT
    the timeout the same sequence is flagged (the exact-flagging
    default)."""

    def ts(hours):
        return F.lit("2024-01-01 00:00:00").cast("timestamp") + F.expr(
            f"INTERVAL {hours} HOURS"
        )

    def envelopes_at(rows, hours):
        return _envelopes(spark, rows).withColumn("publish_time", ts(hours))

    def run(with_ttl):
        d = os.path.join(tmpdir, "ttl" if with_ttl else "nottl")
        src, out_dir, ckpt = (os.path.join(d, p) for p in ("in", "out", "ckpt"))
        os.makedirs(src)

        def drain():
            stream = watermarked(envelope_file_stream(spark, src), "10 minutes")
            q = (
                ordered_per_key(
                    stream, idle_timeout_ms=3_600_000 if with_ttl else None
                )
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        envelopes_at(
            [("a1", "k1", 1, 1), ("a2", "k1", 2, 1), ("a3", "k1", 3, 1)], hours=0
        ).coalesce(1).write.parquet(src, mode="append")
        drain()
        # heartbeat on ANOTHER key, 3 h later: the watermark passes k1's
        # last event + 1 h TTL, and k1 gets no data this trigger, so its
        # cursor is the timed-out invocation and is removed
        envelopes_at([("hb", "k-other", 1, 1)], hours=3).coalesce(1).write.parquet(
            src, mode="append"
        )
        drain()
        # the would-be redelivery: seq 2 again on k1, after the lapse
        envelopes_at([("a2-redux", "k1", 2, 2)], hours=4).coalesce(1).write.parquet(
            src, mode="append"
        )
        drain()
        rows = {r.message_id: r for r in spark.read.parquet(out_dir).collect()}
        assert len(rows) == 5  # conservation either way
        return rows

    ttl_rows = run(with_ttl=True)
    lapsed = ttl_rows["a2-redux"]
    assert not lapsed.is_redelivery and lapsed.in_order  # fresh cursor
    # the lapse is OBSERVABLE, not silent: the post-expiry redelivery runs
    # under a cursor created THAT batch (round-10, fresh_cursor flag),
    # while the first delivery of the original batch was fresh too (cursor
    # born with it) — downstream tells the two apart by delivery history
    assert lapsed.fresh_cursor and ttl_rows["a1"].fresh_cursor

    exact_rows = run(with_ttl=False)
    exact = exact_rows["a2-redux"]
    assert exact.is_redelivery  # default: flagged across any idle gap
    assert not exact.fresh_cursor  # long-lived cursor: not a lapse


def test_retry_ledger_compaction_preserves_frontier(spark, tmpdir):
    """compact() drops superseded attempts and DLQ-terminal messages from
    the append-only retry ledger without changing what due_retries returns
    — the re-ingestion scan cost tracks the LIVE frontier instead of every
    failure ever recorded.  Post-compaction, routing and idempotent batch
    replay keep working (surviving rows keep their _batch_id partitions)."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=4,
    )

    def fail_batch(rows, batch_id):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=batch_id,
        )

    # three failure generations for m-loop (attempts 1..3 in the ledger as
    # attempts 2..4 after aging), m-dead exhausts into the DLQ, m-once fails once
    fail_batch([("m-loop", 1, False), ("m-once", 1, False)], 1)
    fail_batch([("m-loop", 2, False), ("m-dead", 4, False)], 2)
    fail_batch([("m-loop", 3, False)], 3)

    AS_OF = "2100-01-01 00:00:00"
    before = {
        (r.message_id, r.attempt) for r in router.due_retries(spark, as_of=AS_OF).collect()
    }
    total_before = spark.read.parquet(router.retry_path).count()
    stats = router.compact(spark)
    after = {
        (r.message_id, r.attempt) for r in router.due_retries(spark, as_of=AS_OF).collect()
    }
    assert after == before == {("m-loop", 4), ("m-once", 2)}
    assert stats["kept"] == 2 and stats["dropped"] == total_before - 2
    assert spark.read.parquet(router.retry_path).count() == 2

    # the ledger still routes and replays idempotently after the swap
    fail_batch([("m-new", 1, False)], 4)
    fail_batch([("m-new", 1, False)], 4)  # replayed micro-batch overwrites itself
    final = {
        (r.message_id, r.attempt) for r in router.due_retries(spark, as_of=AS_OF).collect()
    }
    assert final == {("m-loop", 4), ("m-once", 2), ("m-new", 2)}


def test_retry_ledger_compaction_to_empty_frontier(spark, tmpdir):
    """Compacting a ledger whose every message is DLQ-terminal leaves the
    valid EMPTY state (no unreadable footer-less directory): due_retries
    returns nothing and later batches rebuild the ledger from scratch."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )
    router.route_batch(
        spark.createDataFrame(
            [("m1", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=1,
    )
    router.route_batch(
        spark.createDataFrame(
            [("m1", 3, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=2,
    )  # exhausts into the DLQ
    stats = router.compact(spark)
    assert stats == {"kept": 0, "dropped": 1, "archived": 0}
    assert router.due_retries(spark, as_of="2100-01-01 00:00:00").count() == 0
    router.route_batch(
        spark.createDataFrame(
            [("m2", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=3,
    )
    due = router.due_retries(spark, as_of="2100-01-01 00:00:00").collect()
    assert [(r.message_id, r.attempt) for r in due] == [("m2", 2)]


def test_requeue_dlq_revives_with_fresh_budget(spark, tmpdir):
    """requeue_dlq moves selected dead messages back into the retry
    frontier with a full fresh attempt budget and purges their STALE
    retry-ledger rows in the same move — pre-purge, the latest-attempt
    frontier would pick the old exhausted attempt and re-DLQ the message on
    its first redelivery.  Unselected dead messages stay terminal."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )

    def fail_batch(rows, batch_id):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=batch_id,
        )

    AS_OF = "2100-01-01 00:00:00"
    # walk m-bug and m-other through the full retry loop into the DLQ, so
    # the retry ledger holds their superseded attempts 2..3
    fail_batch([("m-bug", 1, False), ("m-other", 1, False)], 1)
    fail_batch([("m-bug", 2, False), ("m-other", 2, False)], 2)
    fail_batch([("m-bug", 3, False), ("m-other", 3, False)], 3)
    dlq = spark.read.parquet(router.dlq_path)
    assert {r.message_id for r in dlq.collect()} == {"m-bug", "m-other"}
    assert router.due_retries(spark, as_of=AS_OF).count() == 0  # all terminal

    n = router.requeue_dlq(spark, batch_id=-1, where=F.col("message_id") == "m-bug")
    assert n == 1
    # m-bug is live again at attempt 1 — the stale attempt-3 rows are gone
    due = router.due_retries(spark, as_of=AS_OF).collect()
    assert [(r.message_id, r.attempt) for r in due] == [("m-bug", 1)]
    # m-other stays dead and keeps excluding its retries
    assert {r.message_id for r in spark.read.parquet(router.dlq_path).collect()} == {
        "m-other"
    }

    # the revived message can now run a full fresh lifecycle
    fail_batch([("m-bug", 1, False)], 4)
    due = router.due_retries(spark, as_of=AS_OF).collect()
    assert [(r.message_id, r.attempt) for r in due] == [("m-bug", 2)]

    # requeue-all empties the DLQ into the frontier; empty DLQ is the
    # valid missing state and a no-op on the next requeue
    assert router.requeue_dlq(spark, batch_id=-2) == 1
    assert not os.path.exists(router.dlq_path)
    assert router.requeue_dlq(spark, batch_id=-3) == 0
    due = {(r.message_id, r.attempt) for r in router.due_retries(spark, as_of=AS_OF).collect()}
    assert due == {("m-bug", 2), ("m-other", 1)}


def test_acked_redelivery_terminates_retry_lifecycle(spark, tmpdir):
    """An acked REDELIVERY must terminate its message's retry lifecycle the
    way the broker's ack does: pre-fix, the append-only ledger still held
    the superseded retry row and due_retries returned the delivered message
    FOREVER — every maintenance pass redelivered it and appended one more
    duplicate sink row (round-9 finding, surfaced by the retry_maintenance
    example).  A later duplicate failure of the resolved id also stays out
    of the frontier: its content is already in the sink, which is all
    at-least-once promises."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=5,
    )
    AS_OF = "2100-01-01 00:00:00"

    def route(rows, batch_id):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=batch_id,
        )

    route([("m1", 1, False)], 1)  # first delivery fails
    due = router.due_retries(spark, as_of=AS_OF)
    assert [(r.message_id, r.attempt) for r in due.collect()] == [("m1", 2)]

    # redelivery succeeds → the lifecycle is OVER
    route([(r.message_id, r.attempt, True) for r in due.collect()], 2)
    assert router.due_retries(spark, as_of=AS_OF).count() == 0, (
        "acked redelivery must leave the frontier"
    )
    assert spark.read.parquet(router.sink_path).count() == 1

    # a broker duplicate of the delivered message fails — still terminal
    route([("m1", 1, False)], 3)
    assert router.due_retries(spark, as_of=AS_OF).count() == 0

    # compaction drops both the superseded rows and the dead resolved entry
    stats = router.compact(spark)
    assert stats["kept"] == 0
    assert not os.path.exists(router.retry_path)
    assert not os.path.exists(router._resolved())


def test_compact_sink_folds_old_batch_partitions(spark, tmpdir):
    """compact_sink merges per-micro-batch sink partitions at or below the
    cutoff into one archive partition (small-files bound) without changing
    a single row, while NEWER batches keep their own partitions so replay
    idempotence still holds for them."""
    import glob

    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )

    def ack_batch(ids, batch_id):
        router.route_batch(
            spark.createDataFrame(
                [(m, 1, True) for m in ids], "message_id string, attempt long, ok boolean"
            ),
            batch_id=batch_id,
        )

    for b in range(1, 6):
        ack_batch([f"m-{b}-{i}" for i in range(4)], b)
    before = sorted(r.message_id for r in spark.read.parquet(router.sink_path).collect())
    assert len(glob.glob(os.path.join(router.sink_path, "_batch_id=*"))) == 5

    # force=True: these batches came from direct route_batch calls, not a
    # streaming query — there is no checkpoint to derive the bound from
    stats = router.compact_sink(spark, up_to_batch_id=3, force=True)
    assert stats["archived"] == 12  # batches 1..3 folded
    assert stats["partitions_before"] == 5 and stats["partitions_after"] == 3
    sink = spark.read.parquet(router.sink_path)
    assert sorted(r.message_id for r in sink.collect()) == before  # row-exact
    dirs = sorted(glob.glob(os.path.join(router.sink_path, "_batch_id=*")))
    assert [os.path.basename(d) for d in dirs] == [
        "_batch_id=-1", "_batch_id=4", "_batch_id=5",
    ]
    # the archive partition is consolidated, not a pile of input splits
    assert len(glob.glob(os.path.join(router.sink_path, "_batch_id=-1", "*.parquet"))) == 1

    # a NEWER batch replay still overwrites its own partition (idempotence)
    ack_batch([f"m-5-{i}" for i in range(4)], 5)
    assert sorted(
        r.message_id for r in spark.read.parquet(router.sink_path).collect()
    ) == before

    # second compaction merges with the existing archive
    stats = router.compact_sink(spark, up_to_batch_id=5, force=True)
    assert stats["partitions_after"] == 1
    assert sorted(
        r.message_id for r in spark.read.parquet(router.sink_path).collect()
    ) == before


def test_compact_sink_rejects_live_archive_partition(spark, tmpdir):
    """The archive partition must sit INSIDE the archived range: folding
    history into a _batch_id a live batch could still replay would let that
    replay's dynamic-overwrite silently DELETE the archived rows.  Not
    forceable — no deployment makes that layout safe.  An id at/below the
    cutoff is fine (committed batches never replay)."""
    import glob

    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )
    for b in range(1, 6):
        router.route_batch(
            spark.createDataFrame(
                [(f"m-{b}-{i}", 1, True) for i in range(4)],
                "message_id string, attempt long, ok boolean",
            ),
            batch_id=b,
        )
    before = sorted(r.message_id for r in spark.read.parquet(router.sink_path).collect())

    with pytest.raises(ValueError, match="archive_batch_id=4 is above the cutoff"):
        router.compact_sink(spark, up_to_batch_id=3, archive_batch_id=4, force=True)
    # nothing moved: the rejection happened before any rewrite
    assert len(glob.glob(os.path.join(router.sink_path, "_batch_id=*"))) == 5

    # AT the cutoff is allowed: a batch at/below a validated cutoff is
    # already checkpoint-committed and will never replay
    stats = router.compact_sink(
        spark, up_to_batch_id=3, archive_batch_id=3, force=True
    )
    assert stats["archived"] == 8  # batches 1..2 folded INTO 3's partition
    dirs = sorted(glob.glob(os.path.join(router.sink_path, "_batch_id=*")))
    assert [os.path.basename(d) for d in dirs] == [
        "_batch_id=3", "_batch_id=4", "_batch_id=5",
    ]
    assert sorted(
        r.message_id for r in spark.read.parquet(router.sink_path).collect()
    ) == before


def test_watermarked_custom_bounds(spark, tmpdir):
    """Custom validity windows narrow the guard: rows outside the caller's
    bounds are excluded before the watermark even when they would pass the
    defaults."""
    src = os.path.join(tmpdir, "in")
    os.makedirs(src)
    spark.createDataFrame(
        [("in-window", "2024-06-01 00:00:00"), ("too-old", "2023-01-01 00:00:00"),
         ("too-new", "2025-01-01 00:00:00")],
        "message_id string, ts_raw string",
    ).select(
        "message_id", F.col("ts_raw").cast("timestamp").alias("publish_time")
    ).coalesce(1).write.parquet(src, mode="append")

    stream = spark.readStream.schema(
        "message_id string, publish_time timestamp"
    ).parquet(src)
    q = (
        watermarked(stream, "1 minute", bounds=("2024-01-01", "2024-12-31"))
        .writeStream.format("memory")
        .queryName("custom_bounds_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r.message_id for r in spark.table("custom_bounds_out").collect()] == [
        "in-window"
    ]


def test_event_time_guard_metrics_reconcile_drops(spark, tmpdir):
    """The guard's drops must be METERABLE, not just documented: with
    guard_metrics set, an observe rides the same micro-batch (zero extra
    passes) and scanned - in_bounds is exactly the drop count, surfaced
    per batch through the StreamingQueryListener."""
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    src_dir = os.path.join(tmpdir, "in")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [
            ("ok1", "2024-06-01 00:00:00"),
            ("ok2", "2024-06-01 00:01:00"),
            ("poison", "9999-01-01 00:00:00"),
            ("timeless", None),
            ("ancient", "1969-12-31 00:00:00"),
        ],
        "message_id string, ts_raw string",
    ).select(
        "message_id", F.col("ts_raw").cast("timestamp").alias("publish_time")
    ).coalesce(1).write.parquet(src_dir, mode="append")

    seen = []

    class GuardListener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            m = (event.progress.observedMetrics or {}).get("event_time_guard")
            if m is not None:
                seen.append((m["scanned"], m["in_bounds"]))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = GuardListener()
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema(
            "message_id string, publish_time timestamp"
        ).parquet(src_dir)
        q = (
            watermarked(stream, "1 minute", guard_metrics="event_time_guard")
            .writeStream.format("memory")
            .queryName("guard_metrics_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = _time.time() + 30
        while _time.time() < deadline and not seen:
            _time.sleep(0.2)  # listener events are async
    finally:
        spark.streams.removeListener(listener)

    scanned = sum(s for s, _ in seen)
    in_bounds = sum(b for _, b in seen)
    assert (scanned, in_bounds) == (5, 2)  # 3 drops, reconciled exactly
    assert spark.table("guard_metrics_out").count() == 2


def test_idle_timeout_evicts_cursors_from_state_store(spark, tmpdir):
    """The TTL must shrink the STATE STORE, not just refresh semantics: the
    stateOperators numRowsTotal progress metric drops to the live-key count
    once the watermark passes the idle cursors' expiry — the store-level
    proof that per-key state tracks live keys, not every key ever seen."""
    import json as _json

    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def envelopes_at(rows, ts):
        return _envelopes(spark, rows).withColumn(
            "publish_time", F.lit(ts).cast("timestamp")
        )

    def drain():
        q = (
            ordered_per_key(
                watermarked(envelope_file_stream(spark, src), "10 minutes"),
                idle_timeout_ms=3_600_000,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows_total = []
        for x in q.recentProgress:
            p = _json.loads(x) if isinstance(x, str) else x
            if p.get("stateOperators"):
                rows_total.append(p["stateOperators"][0]["numRowsTotal"])
        return rows_total

    envelopes_at(
        [("a", "k1", 1, 1), ("b", "k2", 1, 1), ("c", "k3", 1, 1)],
        "2024-01-01 00:00:00",
    ).coalesce(1).write.parquet(src, mode="append")
    assert drain()[-1] == 3  # one cursor per live key

    # 5 h later (past every cursor's 1 h TTL): the heartbeat batch advances
    # the watermark, the three idle cursors are EVICTED, only the new key's
    # cursor remains in the store
    envelopes_at([("hb", "k-new", 1, 1)], "2024-01-01 05:00:00").coalesce(
        1
    ).write.parquet(src, mode="append")
    assert drain()[-1] == 1

# ---------------------------------------------------------------------------
# Round-10: mechanical lifecycle contracts (lease, checkpoint-derived bounds,
# requeue termination, empty-frontier schema, TTL running max, 0/1 verdicts)
# ---------------------------------------------------------------------------


def _mk_router(tmpdir, **kw):
    defaults = dict(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )
    defaults.update(kw)
    return RetryRouter(**defaults)


AS_OF_FUTURE = "2100-01-01 00:00:00"


def test_requeued_message_acked_on_first_redelivery_terminates(spark, tmpdir):
    """A DLQ message revived by requeue_dlq gets attempt RESET to 1 — so an
    ack on its very first redelivery carries attempt == 1, and the
    attempt>1 resolved-index trigger alone would never fire.  Pre-fix, the
    requeue-written attempt-1 ledger row was never superseded: due_retries
    returned the DELIVERED message forever and every maintenance pass
    appended one more duplicate sink row — the exact unbounded-redelivery
    bug the resolved index exists to stop.  due_retries therefore stamps
    every frontier row ``_redelivered = true`` and route_batch resolves
    acks where ``attempt > 1 OR _redelivered`` (round-10, ADVICE r9)."""
    router = _mk_router(tmpdir, max_attempts=2)

    def route(rows, batch_id):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=batch_id,
        )

    route([("m1", 1, False)], 1)
    route([("m1", 2, False)], 2)  # exhausts the budget → DLQ
    assert router.due_retries(spark, as_of=AS_OF_FUTURE).count() == 0
    assert router.requeue_dlq(spark, batch_id=-1) == 1

    due = router.due_retries(spark, as_of=AS_OF_FUTURE)
    (row,) = due.collect()
    assert (row.message_id, row.attempt, row._redelivered) == ("m1", 1, True)

    # the bug is fixed and the FIRST redelivery succeeds (attempt still 1)
    ack = due.drop("available_at", "_batch_id").withColumn("ok", F.lit(True))
    router.route_batch(ack, batch_id=3)
    assert spark.read.parquet(router.sink_path).count() == 1

    # terminal: the frontier is empty and STAYS empty across maintenance —
    # pre-fix this loop redelivered m1 (and duplicated its sink row) forever
    assert router.due_retries(spark, as_of=AS_OF_FUTURE).count() == 0
    router.compact(spark)
    assert router.due_retries(spark, as_of=AS_OF_FUTURE).count() == 0
    assert spark.read.parquet(router.sink_path).count() == 1


def test_due_retries_empty_path_matches_populated_schema(spark, tmpdir):
    """A missing retry ledger must return the DECLARED frontier schema, not
    a one-column stub: a caller projecting ``attempt`` / ``available_at``
    on an empty frontier broke only on the empty path (round-9 verdict
    nit).  For a lifecycle-only envelope the empty and populated schemas
    are identical; payload columns ride along when present."""
    router = _mk_router(tmpdir)
    empty = router.due_retries(spark, as_of=AS_OF_FUTURE)
    assert empty.count() == 0
    # the declared lifecycle columns all project on the empty path
    empty.select("message_id", "attempt", "ok", "available_at", "_redelivered").collect()

    router.route_batch(
        spark.createDataFrame(
            [("m1", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=1,
    )
    populated = router.due_retries(spark, as_of=AS_OF_FUTURE)
    assert populated.count() == 1
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in populated.schema.fields
    ]


def test_lease_timeout_fails_cleanly_with_ledgers_intact(spark, tmpdir):
    """A lease held by a LIVE holder makes every ledger mutator fail
    CLEANLY at the timeout — error names the holder, both ledgers
    untouched — while a CRASHED holder's flock is released by the kernel,
    so a stale lock file never blocks anyone (the old protocol's
    remove-the-file-by-hand recovery step is gone)."""
    import fcntl

    router = _mk_router(tmpdir, lease_timeout_s=0.3)
    router.route_batch(
        spark.createDataFrame(
            [("m1", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=1,
    )
    before = {(r.message_id, r.attempt) for r in spark.read.parquet(router.retry_path).collect()}

    # a LIVE holder: this fd's flock conflicts with the router's acquire
    fd = os.open(router._lease_path(), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        os.ftruncate(fd, 0)
        os.write(fd, b"pid=test op=live-maintenance-holder")
        with pytest.raises(TimeoutError, match="live-maintenance-holder"):
            router.compact(spark)
        with pytest.raises(TimeoutError, match="lease"):
            router.route_batch(
                spark.createDataFrame(
                    [("m2", 1, False)], "message_id string, attempt long, ok boolean"
                ),
                batch_id=2,
            )
    finally:
        os.close(fd)  # the holder releases (or crashes: same kernel path)

    # ledgers intact; service restores the moment the lock is released
    assert {(r.message_id, r.attempt) for r in spark.read.parquet(router.retry_path).collect()} == before

    # a CRASHED holder: its content survives as a record but the kernel
    # dropped the flock with the process — nothing blocks, no manual step
    with open(router._lease_path(), "w") as f:
        f.write("pid=99999 op=crashed-maintenance")
    assert router.compact(spark)["kept"] == 1


def test_compact_archive_to_preserves_full_history(spark, tmpdir):
    """``compact(archive_to=...)`` mechanizes "archive first if the audit
    trail matters": the full pre-compaction ledger is APPENDED to the audit
    pile before anything moves, so dropped superseded attempts stay
    queryable, and each later compaction appends its own snapshot
    (duplicates are benign in an audit pile; holes are not)."""
    router = _mk_router(tmpdir)
    _seed_live_and_resolved(spark, router)
    archive = os.path.join(tmpdir, "audit")

    stats = router.compact(spark, archive_to=archive)
    assert stats == {"kept": 1, "dropped": 1, "archived": 2}
    audit = spark.read.parquet(archive)
    assert sorted((r.message_id, r.attempt) for r in audit.collect()) == [
        ("m-done", 2), ("m-live", 2),
    ]
    assert "_batch_id" in audit.columns  # provenance rides along
    assert _frontier(spark, router) == {("m-live", 2)}  # invariant holds

    stats2 = router.compact(spark, archive_to=archive)
    assert stats2["archived"] == 1  # snapshot of the now-compacted ledger
    assert spark.read.parquet(archive).count() == 3


def test_status_reports_lifecycle_depths_and_found_debris(spark, tmpdir, monkeypatch):
    """``status()`` is the runbook's one-call snapshot: ledger depths and
    frontier as of a cutoff, plus the health facts — debris FOUND (the
    call itself heals it, like every reader) and the latest lease record
    (diagnostic content, not held-ness)."""
    router = _mk_router(tmpdir)
    _seed_live_and_resolved(spark, router)

    s = router.status(spark, as_of=AS_OF_FUTURE, count_sink=True)
    assert (s["retry_rows"], s["frontier"], s["dlq"], s["resolved"]) == (2, 1, 0, 1)
    assert s["sink_rows"] == 1 and s["swap_debris_found"] == []
    # the sink is the full TRAFFIC, not failure-bounded: counting it is
    # opt-in so a routine status() stays cheap on a long deployment
    assert router.status(spark, as_of=AS_OF_FUTURE)["sink_rows"] is None
    assert "op=route_batch" in s["last_lease"]
    # live in-process counters, fed by the same aggregate pass that gates
    # the writes (no extra job); ledger-derived truth sits next to them
    assert s["counters"] == {
        "batches": 2, "acks": 1, "retries": 2, "dlq": 0, "resolved": 1,
    }

    _crash_nth_rename(monkeypatch, nth=2)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark)

    s2 = router.status(spark, as_of=AS_OF_FUTURE)
    assert s2["swap_debris_found"] == [router.retry_path + ".compact"]
    assert "op=compact" in s2["last_lease"]  # the crashed holder's record
    assert s2["frontier"] == 1  # healed by the status call's own read
    assert s2["retry_rows"] == 1  # completion landed the compacted ledger
    assert router.status(spark, as_of=AS_OF_FUTURE)["swap_debris_found"] == []


def test_compact_archive_crash_rerun_yields_distinguishable_snapshots(
    spark, tmpdir, monkeypatch
):
    """A crash between the audit-archive append and the ledger swap makes
    the re-run append a SECOND snapshot — benign duplicates by design, and
    with the round-11 ``_compacted_at`` stamp the two snapshots are now
    queryable apart instead of being indistinguishable row duplicates."""
    import time as _time

    router = _mk_router(tmpdir)
    _seed_live_and_resolved(spark, router)
    archive = os.path.join(tmpdir, "audit")

    _crash_nth_rename(monkeypatch, nth=1)  # dies before the ledger swap
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark, archive_to=archive)
    assert spark.read.parquet(archive).count() == 2  # snapshot 1 landed

    _time.sleep(0.05)
    stats = router.compact(spark, archive_to=archive)  # the re-run
    assert stats["kept"] == 1

    audit = spark.read.parquet(archive)
    stamps = sorted(r.ts for r in audit.select(
        F.col("_compacted_at").alias("ts")
    ).distinct().collect())
    assert len(stamps) == 2  # crashed attempt + re-run, told apart
    # each snapshot is internally complete: the full pre-compaction ledger
    per_stamp = audit.groupBy("_compacted_at").count().collect()
    assert sorted(r["count"] for r in per_stamp) == [2, 2]
    assert _frontier(spark, router) == {("m-live", 2)}  # lifecycle intact


def test_status_finds_and_heals_fold_debris(spark, tmpdir, monkeypatch):
    """``status()``'s debris report covers the partition-scoped fold's
    in-root debris too: a crashed fold shows up in ``swap_debris_found``
    (the call itself heals it, like every reader) and a follow-up call
    reports clean with the folded layout in place."""
    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)
    _crash_nth_rename(monkeypatch, nth=1)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact_sink(spark, up_to_batch_id=2, force=True)
    assert router._fold_debris() != []

    s = router.status(spark, as_of=AS_OF_FUTURE)
    found = s["swap_debris_found"]
    assert any(p.endswith(".sink-compact.manifest") for p in found)
    assert router._fold_debris() == []  # healed by the call
    assert _sink_rows(spark, router) == before
    assert router.status(spark, as_of=AS_OF_FUTURE)["swap_debris_found"] == []


def test_status_is_nonblocking_under_a_held_lease(spark, tmpdir):
    """``status()`` is a dashboard call: while a maintenance op holds the
    ledger lease it must return PROMPTLY with the holder surfaced as
    ``maintenance_in_progress`` — not stall up to ``lease_timeout_s``
    behind the window (round-11; pre-fix a debris-healing status blocked
    on the lease like a mutator)."""
    import fcntl
    import time as _time

    router = _mk_router(tmpdir, lease_timeout_s=30)
    _seed_live_and_resolved(spark, router)

    # hold the lease the way a live maintenance op does (flock conflicts
    # across open file descriptions, including within one process)
    fd = os.open(router._lease_path(), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        os.ftruncate(fd, 0)
        os.write(fd, b"pid=9999 op=compact t=0")
        t0 = _time.monotonic()
        s = router.status(spark, as_of=AS_OF_FUTURE)
        assert _time.monotonic() - t0 < 5  # prompt, not lease_timeout_s
        assert "op=compact" in s["maintenance_in_progress"]
        # no ledger read happened: a concurrent swap could be renaming the
        # directories this instant, so the counts are honestly absent
        assert s["retry_rows"] is None and s["frontier"] is None
        assert s["counters"]["batches"] == 2  # in-process counters still flow
    finally:
        os.close(fd)

    # lease released: the same call reads the full snapshot again
    s = router.status(spark, as_of=AS_OF_FUTURE)
    assert s["maintenance_in_progress"] is None
    assert (s["retry_rows"], s["frontier"], s["resolved"]) == (2, 1, 1)


def test_status_retries_absorb_reader_vs_reader_contention(spark, tmpdir):
    """Two concurrent status() polls contend on the same flock; the loser
    used to report the PREVIOUS MUTATOR's lease record as
    maintenance_in_progress — a false 'compact live' on a dashboard
    (round-12 advice).  A status holder keeps the lock only for the
    millisecond-cheap debris scan, so the try-lock's brief retries absorb
    the contention: with a peer holding the flock for ~80 ms (longer than
    any debris scan, well inside the retry budget) the call still returns
    the FULL snapshot, not the contended shape."""
    import fcntl
    import threading
    import time as _time

    router = _mk_router(tmpdir, lease_timeout_s=30)
    _seed_live_and_resolved(spark, router)
    # a stale mutator record from the last maintenance window — exactly
    # what the pre-fix loser would have surfaced as "maintenance live"
    with open(router._lease_path(), "w") as f:
        f.write("pid=9999 op=compact t=0")

    held = threading.Event()

    def brief_reader_hold():
        fd = os.open(router._lease_path(), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            held.set()
            _time.sleep(0.08)
        finally:
            os.close(fd)  # releases the flock

    peer = threading.Thread(target=brief_reader_hold, daemon=True)
    peer.start()
    assert held.wait(5)
    s = router.status(spark, as_of=AS_OF_FUTURE)
    peer.join(5)
    assert s["maintenance_in_progress"] is None  # no false mutator signal
    assert (s["retry_rows"], s["frontier"], s["resolved"]) == (2, 1, 1)


def test_status_releases_lease_before_its_count_jobs(spark, tmpdir):
    """The inverse starvation: status() must NOT hold the mutator lease
    across its Spark count jobs — a slow count_sink=True footer scan
    holding the flock would stall route_batch past lease_timeout_s and
    fail the live stream.  Pinned by probing the flock from inside the
    frontier read: it must be acquirable, i.e. already released."""
    import fcntl

    router = _mk_router(tmpdir)
    _seed_live_and_resolved(spark, router)

    real = router.due_retries
    probed = {"free": None}

    def probe(*a, **k):
        fd = os.open(router._lease_path(), os.O_CREAT | os.O_RDWR)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                probed["free"] = True
                fcntl.flock(fd, fcntl.LOCK_UN)
            except OSError:
                probed["free"] = False
        finally:
            os.close(fd)
        return real(*a, **k)

    router.due_retries = probe  # instance-attr shadow
    try:
        s = router.status(spark, as_of=AS_OF_FUTURE, count_sink=True)
    finally:
        del router.due_retries
    assert probed["free"] is True  # counts run lock-free
    assert (s["retry_rows"], s["frontier"], s["sink_rows"]) == (2, 1, 1)


def test_compact_archive_snapshots_are_stamped_per_window(spark, tmpdir):
    """Each ``compact(archive_to=...)`` snapshot carries ONE
    ``_compacted_at`` value, distinct across runs — so the audit pile is
    queryable per maintenance window and a frontier row re-archived by N
    compactions is N stamped copies, not indistinguishable duplicates
    (round-11 ask)."""
    import time as _time

    router = _mk_router(tmpdir)
    _seed_live_and_resolved(spark, router)
    archive = os.path.join(tmpdir, "audit")

    router.compact(spark, archive_to=archive)
    _time.sleep(0.05)  # current_timestamp() ticks between runs
    router.compact(spark, archive_to=archive)

    audit = spark.read.parquet(archive)
    assert "_compacted_at" in audit.columns
    stamps = [
        r.ts for r in audit.select(F.col("_compacted_at").alias("ts")).distinct().collect()
    ]
    assert len(stamps) == 2  # one stamp per maintenance window
    per_window = {
        (r.ts, r.message_id, r.attempt) for r in audit.select(
            F.col("_compacted_at").alias("ts"), "message_id", "attempt"
        ).collect()
    }
    # window 1: the full pre-compaction ledger; window 2: the survivor,
    # re-archived under its OWN stamp — distinguishable, not duplicate
    w1, w2 = sorted(stamps)
    assert {(m, a) for t, m, a in per_window if t == w1} == {
        ("m-done", 2), ("m-live", 2),
    }
    assert {(m, a) for t, m, a in per_window if t == w2} == {("m-live", 2)}


def test_killed_lease_holder_unblocks_without_manual_cleanup(spark, tmpdir):
    """The kernel-release claim, proven with a REAL process death: a
    subprocess takes the flock and is SIGKILLed mid-hold — no unlock code
    runs — and the router acquires immediately after.  Under the old
    O_CREAT|O_EXCL protocol this exact sequence deadlocked every mutator
    until an operator deleted the lease file by hand."""
    import signal
    import subprocess
    import sys
    import time as _time

    router = _mk_router(tmpdir, lease_timeout_s=5)
    router.route_batch(
        spark.createDataFrame(
            [("m1", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=1,
    )

    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            f"fd = os.open({router._lease_path()!r}, os.O_CREAT | os.O_RDWR)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
            "os.write(fd, b'pid=child op=doomed-holder')\n"
            "print('HELD', flush=True)\n"
            "time.sleep(120)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "HELD"
        # while the child lives, the lock genuinely excludes
        quick = _mk_router(tmpdir, lease_timeout_s=0.2)
        with pytest.raises(TimeoutError, match="doomed-holder"):
            quick.compact(spark)
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=10)
    finally:
        if holder.poll() is None:  # pragma: no cover - cleanup on failure
            holder.kill()
            holder.wait(timeout=10)

    t0 = _time.monotonic()
    assert router.compact(spark)["kept"] == 1  # no manual cleanup step
    assert _time.monotonic() - t0 < router.lease_timeout_s


def test_route_batch_serializes_against_concurrent_maintenance(spark, tmpdir):
    """Driving route_batch concurrently with compact/requeue must
    SERIALIZE under the ledger lease: no interleaved swap ever loses a
    message.  Pre-lease this contract was a docstring; now it is
    mechanical (round-9 verdict ask #3)."""
    import threading

    router = _mk_router(tmpdir, max_attempts=9, lease_timeout_s=60)
    errs = []

    def route_loop():
        try:
            for b in range(1, 6):
                router.route_batch(
                    spark.createDataFrame(
                        [(f"m{b}", 1, False)],
                        "message_id string, attempt long, ok boolean",
                    ),
                    batch_id=b,
                )
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    def maintenance_loop():
        try:
            for _ in range(5):
                router.compact(spark)
                router.requeue_dlq(spark, batch_id=-1)
        except Exception as e:  # pragma: no cover - failure surface
            errs.append(e)

    threads = [
        threading.Thread(target=route_loop),
        threading.Thread(target=maintenance_loop),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errs, errs
    # conservation: every failed message is in the frontier exactly once,
    # each aged by exactly one attempt — nothing lost to an interleaving
    due = {
        (r.message_id, r.attempt)
        for r in router.due_retries(spark, as_of=AS_OF_FUTURE).collect()
    }
    assert due == {(f"m{b}", 2) for b in range(1, 6)}


def test_compact_sink_derives_replay_bound_from_checkpoint(spark, tmpdir):
    """compact_sink's replay-safety cutoff is DERIVED from the streaming
    checkpoint's commits/ directory, not trusted from the caller: cutoffs
    at/above the newest committed batch are refused (an archived batch
    that replays writes its partition afresh next to the archived copy and
    silently duplicates rows), a commit-less checkpoint derives NO safe
    bound, and calling with neither checkpoint nor force is an error.
    After a valid compaction, replaying the newest batch still overwrites
    its own partition — no duplication (round-9 verdict ask #1)."""
    import time as _time

    router = _mk_router(tmpdir)
    src = os.path.join(tmpdir, "in")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)
    schema = "message_id string, attempt long, ok boolean"
    spark.createDataFrame([("a1", 1, True), ("a2", 1, True)], schema).coalesce(
        1
    ).write.parquet(os.path.join(src, "f0"))
    _time.sleep(1.1)  # file source orders by modification time
    spark.createDataFrame([("b1", 1, True)], schema).coalesce(1).write.parquet(
        os.path.join(src, "f1")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = router.attach(stream, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert RetryRouter.committed_batch_ids(ckpt) == [0, 1]

    with pytest.raises(ValueError, match="force=True"):
        router.compact_sink(spark, up_to_batch_id=0)  # no bound source at all
    with pytest.raises(ValueError, match="not strictly below"):
        router.compact_sink(spark, up_to_batch_id=1, checkpoint=ckpt)
    with pytest.raises(ValueError, match="not strictly below"):
        router.compact_sink(
            spark, up_to_batch_id=0, checkpoint=os.path.join(tmpdir, "no-ckpt")
        )

    before = sorted(
        r.message_id for r in spark.read.parquet(router.sink_path).collect()
    )
    stats = router.compact_sink(spark, up_to_batch_id=0, checkpoint=ckpt)
    assert stats["archived"] == 2 and stats["partitions_after"] == 2

    # replay the newest batch (what a crash-before-commit would re-run):
    # its partition overwrites itself — zero duplicate rows post-compaction
    router.route_batch(spark.createDataFrame([("b1", 1, True)], schema), batch_id=1)
    after = sorted(r.message_id for r in spark.read.parquet(router.sink_path).collect())
    assert after == before


def test_idle_ttl_timeout_never_moves_backwards(spark, tmpdir):
    """The idle-TTL expiry point is ``running max event time + TTL``: a
    later in-watermark batch carrying OLDER timestamps must not pull the
    timeout backwards (ADVICE r9).  Pre-fix the timeout was computed from
    the CURRENT batch's max alone, so the k1 cursor here would expire at
    3:00+TTL = 4:00 — before its true newest event (4:00) + TTL = 5:00 —
    and the final redelivery would be misread as a fresh first delivery."""

    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def envelopes_at(rows, ts):
        return _envelopes(spark, rows).withColumn(
            "publish_time", F.lit(f"2024-01-01 {ts}:00").cast("timestamp")
        )

    def drain():
        stream = watermarked(envelope_file_stream(spark, src), "2 hours")
        q = (
            ordered_per_key(stream, idle_timeout_ms=3_600_000)  # 1 h TTL
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # k1 newest event is 04:00; the NEXT batch is older (03:00) but still
    # inside the 2 h watermark — running max keeps expiry at 05:00
    for rows, ts in [
        ([("a1", "k1", 1, 1)], "04:00"),
        ([("a2", "k1", 2, 1)], "03:00"),
        ([("hb1", "k-other", 1, 1)], "06:30"),  # watermark → 04:30 (> 04:00!)
        ([("hb2", "k-other", 2, 1)], "06:31"),  # a batch RUNS at wm 04:30
        ([("a2-redux", "k1", 2, 2)], "06:00"),  # redelivery of seq 2
    ]:
        envelopes_at(rows, ts).coalesce(1).write.parquet(src, mode="append")
        drain()

    rows = {r.message_id: r for r in spark.read.parquet(out_dir).collect()}
    assert len(rows) == 5  # conservation
    redux = rows["a2-redux"]
    # the cursor SURVIVED to 05:00: the redelivery is recognized, on a
    # long-lived (not fresh) cursor
    assert redux.is_redelivery and not redux.fresh_cursor


def test_apply_processor_non_binary_numeric_verdicts_fail_closed(spark):
    """A numeric verdict column that is not exactly 0/1 is a leaked score
    or probability, not a decision: astype(bool) would silently ACK every
    nonzero value (0.7, 2, -1 all truthy) — the same hole the string guard
    closes.  The batch fails closed; exact 0/1 keeps passing (pinned in
    test_apply_processor_string_verdicts_fail_closed)."""
    df = spark.range(4).coalesce(1).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
    )
    # float scores
    rows = apply_processor(df, lambda pdf: pdf["event_id"] * 0.3).collect()
    assert all(not r.ok and "exactly 0/1" in r.error for r in rows)
    # out-of-range ints (2, -1)
    rows = apply_processor(df, lambda pdf: pdf["event_id"] - 1).collect()
    assert all(not r.ok and "exactly 0/1" in r.error for r in rows)


class _CrashAfterSwaps:
    """Inject a crash AFTER the n-th completed ledger swap — the swap
    itself lands, then the process 'dies'.  Shadowing the bound method via
    an instance attribute keeps the real swap semantics byte-identical."""

    def __init__(self, router, crash_after):
        self._real = router._swap_ledger
        self._crash_after = crash_after
        self.count = 0

    def __call__(self, path, df, tag):
        self._real(path, df, tag)
        self.count += 1
        if self.count == self._crash_after:
            raise RuntimeError("injected crash between ledger swaps")


def _walk_to_dlq_with_resolved_entry(spark, router, mid):
    """Drive ``mid`` into the state requeue must untangle: a retry history,
    a RESOLVED entry (an acked redelivery), and a DLQ row (a later
    duplicate failure that exhausted)."""

    def route(rows, batch_id):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=batch_id,
        )

    route([(mid, 1, False)], 1)   # fails → retry row (attempt 2)
    route([(mid, 2, True)], 2)    # redelivery acked → resolved entry + sink
    route([(mid, 3, False)], 3)   # broker duplicate exhausts → DLQ row
    assert os.path.exists(router._resolved())
    assert {r.message_id for r in spark.read.parquet(router.dlq_path).collect()} == {mid}
    return route


@pytest.mark.parametrize("crash_after", [1, 2])
def test_requeue_crash_between_swaps_is_dormant_and_rerun_converges(
    spark, tmpdir, crash_after
):
    """The requeue swap order (resolved purge → retry swap → DLQ swap) is
    crash-safe at EVERY intermediate point: any prefix leaves the revived
    ids still DLQ-masked — the frontier stays empty (dormant, no duplicate
    delivery) — and re-running the requeue converges to exactly the
    no-crash state, with exactly ONE revived ledger row (no duplication
    from the half-finished first run).  Under the pre-fix order (resolved
    purge LAST) a crash after the DLQ swap left the id resolved-masked
    with no DLQ row to revive: the re-run returned 0 and the message was
    unreachable forever."""
    router = _mk_router(tmpdir)
    _walk_to_dlq_with_resolved_entry(spark, router, "m1")
    assert router.due_retries(spark, as_of=AS_OF_FUTURE).count() == 0

    crash = _CrashAfterSwaps(router, crash_after)
    router._swap_ledger = crash
    with pytest.raises(RuntimeError, match="injected crash"):
        router.requeue_dlq(spark, batch_id=-1)
    assert crash.count == crash_after
    del router._swap_ledger  # restore the real method

    # dormant: the half-finished move delivered NOTHING into the frontier
    assert router.due_retries(spark, as_of=AS_OF_FUTURE).count() == 0
    # the id is still in the DLQ, so the documented recovery (re-run) works
    assert router.requeue_dlq(spark, batch_id=-2) == 1
    due = router.due_retries(spark, as_of=AS_OF_FUTURE).collect()
    assert [(r.message_id, r.attempt) for r in due] == [("m1", 1)]
    # exactly one revived row survives — the crashed run's partial state
    # was superseded, not duplicated
    retry_rows = spark.read.parquet(router.retry_path).filter(
        F.col("message_id") == "m1"
    )
    assert retry_rows.count() == 1
    assert not os.path.exists(router.dlq_path)


def test_compact_crash_before_resolved_drop_converges(spark, tmpdir):
    """compact's order (retry-ledger swap FIRST, resolved-index drop after)
    makes the crash window benign: a crash between the two steps leaves
    the index present but irrelevant — the compacted ledger already
    excludes resolved ids, so due_retries is unchanged — and the re-run
    finishes the drop.  The pre-fix order (index swap first) deleted the
    terminal-success evidence while the uncompacted ledger still held the
    superseded rows: delivered messages re-entered the frontier and
    duplicated sink rows."""
    router = _mk_router(tmpdir)
    # m-live keeps a live frontier row; m-done is resolved
    router.route_batch(
        spark.createDataFrame(
            [("m-live", 1, False), ("m-done", 1, False)],
            "message_id string, attempt long, ok boolean",
        ),
        batch_id=1,
    )
    router.route_batch(
        spark.createDataFrame(
            [("m-done", 2, True)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=2,
    )
    before = {
        (r.message_id, r.attempt)
        for r in router.due_retries(spark, as_of=AS_OF_FUTURE).collect()
    }
    assert before == {("m-live", 2)}

    crash = _CrashAfterSwaps(router, crash_after=1)  # after the ledger swap
    router._swap_ledger = crash
    with pytest.raises(RuntimeError, match="injected crash"):
        router.compact(spark)
    del router._swap_ledger

    # the index survived the crash but keeps nothing out: the frontier is
    # byte-identical, and no delivered message re-entered it
    assert os.path.exists(router._resolved())
    after_crash = {
        (r.message_id, r.attempt)
        for r in router.due_retries(spark, as_of=AS_OF_FUTURE).collect()
    }
    assert after_crash == before
    # re-run completes the drop; frontier still invariant
    stats = router.compact(spark)
    assert stats["kept"] == 1
    assert not os.path.exists(router._resolved())
    assert {
        (r.message_id, r.attempt)
        for r in router.due_retries(spark, as_of=AS_OF_FUTURE).collect()
    } == before


def _crash_nth_rename(monkeypatch, nth, after=False):
    """Inject a crash at the n-th ``os.rename`` — INSIDE ``_swap_ledger``,
    between its protocol steps (the ``_CrashAfterSwaps`` injector above
    only covers crashes BETWEEN completed swaps).  ``after=False`` dies
    instead of performing the rename; ``after=True`` dies just after it.
    Later calls (recovery's own completion rename) pass through."""
    real = os.rename
    state = {"n": 0}

    def boom(src, dst):
        state["n"] += 1
        if state["n"] == nth:
            if after:
                real(src, dst)
            raise RuntimeError("injected crash inside swap")
        return real(src, dst)

    monkeypatch.setattr(retry_mod.os, "rename", boom)
    return state


def _seed_live_and_resolved(spark, router):
    """Ledger with frontier {(m-live, 2)} plus a resolved id (m-done)."""
    for rows, bid in (
        ([("m-live", 1, False), ("m-done", 1, False)], 1),
        ([("m-done", 2, True)], 2),
    ):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=bid,
        )
    return {("m-live", 2)}


def _frontier(spark, router):
    return {
        (r.message_id, r.attempt)
        for r in router.due_retries(spark, as_of=AS_OF_FUTURE).collect()
    }


def test_recover_swaps_completes_crash_between_renames(spark, tmpdir, monkeypatch):
    """The WORST swap-crash window — between ``rename(path → .old)`` and
    ``rename(.new → path)`` — leaves the retry ledger MISSING, which a
    plain read treats as an empty frontier (silent no-delivery, not an
    error).  ``recover_swaps`` completes the swap from the layout alone:
    ``.new`` is whole by protocol order, so it becomes the ledger, and the
    result is exactly the crashed compact's post-swap state (already
    pinned dormant + re-run-convergent by the between-swaps tests)."""
    router = _mk_router(tmpdir)
    before = _seed_live_and_resolved(spark, router)

    _crash_nth_rename(monkeypatch, nth=2)  # first rename lands, second dies
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark)
    assert not os.path.exists(router.retry_path)  # the silent-loss window
    assert os.path.exists(router.retry_path + ".compact.new")

    report = router.recover_swaps()
    assert report["completed"] == [router.retry_path]
    assert report["discarded"] == [router.retry_path + ".compact.old"]
    assert router._swap_debris() == []
    assert _frontier(spark, router) == before
    # re-running the interrupted op finishes the resolved-index drop
    assert router.compact(spark)["kept"] == 1
    assert not os.path.exists(router._resolved())
    assert _frontier(spark, router) == before


def test_due_retries_heals_missing_ledger_after_swap_crash(spark, tmpdir, monkeypatch):
    """A reader that follows a mid-swap crash self-heals: ``due_retries``
    sees the debris, runs recovery under the lease, and returns the true
    frontier — never the silent empty one the missing directory implies."""
    router = _mk_router(tmpdir)
    before = _seed_live_and_resolved(spark, router)
    _crash_nth_rename(monkeypatch, nth=2)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark)
    assert not os.path.exists(router.retry_path)

    assert _frontier(spark, router) == before  # healed inline
    assert router._swap_debris() == []


def test_recover_swaps_discards_unlanded_new(spark, tmpdir, monkeypatch):
    """A crash BEFORE the first rename leaves the live ledger untouched
    next to a ``.new`` that never landed: the live directory is
    authoritative, the debris is discarded, and the frontier is unchanged
    (compaction is frontier-invariant, so discarding the prepared
    replacement loses nothing)."""
    router = _mk_router(tmpdir)
    before = _seed_live_and_resolved(spark, router)
    _crash_nth_rename(monkeypatch, nth=1)  # dies instead of rename(path→old)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark)
    assert os.path.exists(router.retry_path)
    assert os.path.exists(router.retry_path + ".compact.new")

    report = router.recover_swaps()
    assert report["completed"] == []
    assert report["discarded"] == [router.retry_path + ".compact.new"]
    assert _frontier(spark, router) == before
    assert router.compact(spark)["kept"] == 1


def test_recover_swaps_completes_empty_result_swap(spark, tmpdir, monkeypatch):
    """An empty-result swap's only step is ``rename(path → .old)`` — the
    missing directory IS the intended outcome.  A crash right after the
    rename leaves only ``.old``; recovery removes it and the empty
    frontier stands (with the full lifecycle schema, not a read error)."""
    router = _mk_router(tmpdir)
    # one message, failed then acked on redelivery: ledger non-empty but
    # the frontier is empty, so compact takes the kept == 0 branch
    for rows, bid in (([("m-done", 1, False)], 1), ([("m-done", 2, True)], 2)):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=bid,
        )
    assert _frontier(spark, router) == set()
    _crash_nth_rename(monkeypatch, nth=1, after=True)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark)
    assert not os.path.exists(router.retry_path)
    assert os.path.exists(router.retry_path + ".compact.old")

    due = router.due_retries(spark, as_of=AS_OF_FUTURE)  # heals inline
    assert due.count() == 0
    assert set(due.columns) >= {"message_id", "attempt", "ok", "available_at"}
    assert router._swap_debris() == []
    assert router.compact(spark) == {"kept": 0, "dropped": 0, "archived": 0}


def _sink_rows(spark, router):
    return sorted(r.message_id for r in spark.read.parquet(router.sink_path).collect())


def _seed_sink_batches(spark, router, n=3):
    for b in range(1, n + 1):
        router.route_batch(
            spark.createDataFrame(
                [(f"m-{b}", 1, True)], "message_id string, attempt long, ok boolean"
            ),
            batch_id=b,
        )
    return _sink_rows(spark, router)


def _live_fingerprint(router, batch_ids):
    """(name, size, mtime_ns) of every file under the given partitions —
    byte-untouched means this is IDENTICAL across a fold."""
    out = {}
    for b in batch_ids:
        d = os.path.join(router.sink_path, f"_batch_id={b}")
        for name in sorted(os.listdir(d)):
            st = os.stat(os.path.join(d, name))
            out[(b, name)] = (st.st_size, st.st_mtime_ns)
    return out


def test_recover_swaps_heals_crashed_sink_compaction(spark, tmpdir, monkeypatch):
    """The fold's worst crash window — manifest committed, old partitions
    removed, the staging rename never landed — leaves the archived rows
    dark (staging is dot-prefixed, invisible to readers).  ``recover_swaps``
    rolls the manifest forward: the recovered sink is row-exact AND carries
    the fold the crashed compaction was applying, and the LIVE partition is
    byte-untouched throughout."""
    import glob

    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)
    live_before = _live_fingerprint(router, [3])

    # the fold's ONLY os.rename is staging → archive partition (the
    # manifest commit is os.replace); crashing it leaves manifest+staging
    _crash_nth_rename(monkeypatch, nth=1)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact_sink(spark, up_to_batch_id=2, force=True)
    assert os.path.exists(router.sink_path)  # the root never moves
    assert os.path.exists(os.path.join(router.sink_path, ".sink-compact.manifest"))
    assert _sink_rows(spark, router) == ["m-3"]  # archived rows dark, not lost

    report = router.recover_swaps()
    archive = os.path.join(router.sink_path, "_batch_id=-1")
    assert report["completed"] == [archive]
    assert _sink_rows(spark, router) == before
    dirs = {
        os.path.basename(d)
        for d in glob.glob(os.path.join(router.sink_path, "_batch_id=*"))
    }
    assert dirs == {"_batch_id=-1", "_batch_id=3"}  # the fold landed
    assert _live_fingerprint(router, [3]) == live_before
    assert router._fold_debris() == []


def test_compact_sink_crash_before_manifest_discards_staging(
    spark, tmpdir, monkeypatch
):
    """A crash BEFORE the manifest commit point (here: the atomic
    os.replace itself) must leave the live layout authoritative: recovery
    DISCARDS the orphan staging directory — it may be a partial write —
    and a re-run converges on the fold."""
    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)
    fp_before = _live_fingerprint(router, [1, 2, 3])

    real = os.replace

    def boom(src, dst):
        if dst.endswith(".sink-compact.manifest"):
            raise RuntimeError("injected crash before manifest commit")
        return real(src, dst)

    monkeypatch.setattr(retry_mod.os, "replace", boom)
    with pytest.raises(RuntimeError, match="before manifest commit"):
        router.compact_sink(spark, up_to_batch_id=2, force=True)
    monkeypatch.setattr(retry_mod.os, "replace", real)

    # every partition still live and byte-untouched; only staging is debris
    assert _sink_rows(spark, router) == before
    assert _live_fingerprint(router, [1, 2, 3]) == fp_before
    staging = os.path.join(router.sink_path, ".sink-compact.new")
    assert os.path.exists(staging)
    report = router.recover_swaps()
    assert staging in report["discarded"]
    assert _sink_rows(spark, router) == before

    stats = router.compact_sink(spark, up_to_batch_id=2, force=True)
    assert stats["archived"] == 2 and stats["partitions_after"] == 2
    assert _sink_rows(spark, router) == before


def test_compact_sink_crash_after_rename_keeps_archive_once(
    spark, tmpdir, monkeypatch
):
    """A crash between the staging rename and the manifest removal leaves
    manifest-but-no-staging: recovery must NOT re-remove the archive
    directory named in the manifest's remove list — it now holds the folded
    rows — only drop the manifest.  Rows appear exactly once."""
    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)

    real = os.remove
    manifest = os.path.join(router.sink_path, ".sink-compact.manifest")

    def boom(path):
        if path == manifest:
            raise RuntimeError("injected crash before manifest removal")
        return real(path)

    monkeypatch.setattr(retry_mod.os, "remove", boom)
    with pytest.raises(RuntimeError, match="before manifest removal"):
        # archive INTO a listed partition: the remove-list-skip is what
        # protects the folded rows on the recovery pass
        router.compact_sink(
            spark, up_to_batch_id=2, archive_batch_id=1, force=True
        )
    monkeypatch.setattr(retry_mod.os, "remove", real)

    assert os.path.exists(manifest)
    report = router.recover_swaps()
    assert report["completed"] == [
        os.path.join(router.sink_path, "_batch_id=1")
    ]
    assert not os.path.exists(manifest)
    assert _sink_rows(spark, router) == before  # exactly once, no loss
    assert router._fold_debris() == []


def test_fold_remove_failure_keeps_manifest_and_rerun_converges(
    spark, tmpdir, monkeypatch
):
    """A SILENTLY failing removal (the ignore_errors shape of an NFS busy
    file or EACCES) must not COMMIT the fold: pre-fix, the surviving
    live-named old partition and the renamed-in archive would both hold
    its rows — permanently, silently, with the manifest (the retry
    signal) already deleted.  Now the fold fails LOUD with manifest and
    staging intact and the rename NOT performed (no window ever exposes
    both copies), and recovery on a healed filesystem converges with
    every row exactly once."""
    import shutil as shutil_mod

    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)
    stuck = os.path.join(router.sink_path, "_batch_id=1")
    real = shutil_mod.rmtree

    def sticky(path, *a, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(stuck):
            return  # ignore_errors=True's silent-failure shape: dir stays
        return real(path, *a, **kw)

    monkeypatch.setattr(shutil_mod, "rmtree", sticky)
    with pytest.raises(OSError, match="could not remove old partition"):
        router.compact_sink(spark, up_to_batch_id=2, force=True)
    monkeypatch.setattr(shutil_mod, "rmtree", real)

    manifest = os.path.join(router.sink_path, ".sink-compact.manifest")
    staging = os.path.join(router.sink_path, ".sink-compact.new")
    assert os.path.exists(manifest)  # the retry signal survives the failure
    assert os.path.exists(staging)  # NOT renamed in next to the survivor
    assert os.path.exists(stuck)
    # the survivor's rows appear exactly once (the archive copy is dark in
    # the dot-prefixed staging, invisible to readers) — never duplicated.
    # batch 2, whose removal DID land before the abort, is dark too: its
    # rows live only in the staging until recovery — the documented
    # dark-but-recoverable trade (duplicated-forever is the alternative)
    visible = _sink_rows(spark, router)
    assert visible.count("m-1") == 1
    assert "m-2" not in visible

    # filesystem healed: recovery re-runs the removals and rolls forward
    report = router.recover_swaps()
    assert report["completed"] == [
        os.path.join(router.sink_path, "_batch_id=-1")
    ]
    assert not os.path.exists(manifest) and not os.path.exists(staging)
    assert _sink_rows(spark, router) == before  # exactly once, no loss
    assert router._fold_debris() == []


def test_stuck_fold_degrades_maintenance_not_the_live_stream(
    spark, tmpdir, monkeypatch
):
    """Blast-radius pin for the loud fold: a fold stuck on a filesystem
    error (manifest kept, one old partition that will not remove) must
    degrade ONLY sink maintenance.  route_batch — whose new-partition
    writes never depend on fold completion — keeps delivering through the
    lease's self-heal (which DEFERS the stuck fold instead of raising);
    status() keeps answering, surfacing the heal failure in
    debris_heal_errors instead of throwing at the operator who most needs
    the snapshot; and a NEW fold refuses to start over the unhealed debris
    (it would abandon the committed plan and rmtree the only copy of the
    already-removed partitions' rows).  Healed, recovery converges."""
    import shutil as shutil_mod

    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)
    stuck = os.path.join(router.sink_path, "_batch_id=1")
    real = shutil_mod.rmtree

    def sticky(path, *a, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(stuck):
            return
        return real(path, *a, **kw)

    monkeypatch.setattr(shutil_mod, "rmtree", sticky)
    with pytest.raises(OSError, match="could not remove old partition"):
        router.compact_sink(spark, up_to_batch_id=2, force=True)

    # STILL STUCK: the live stream keeps routing — the lease self-heal
    # defers the fold failure rather than failing the micro-batch
    router.route_batch(
        spark.createDataFrame(
            [("m-4", 1, True)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=4,
    )
    visible = _sink_rows(spark, router)
    assert "m-4" in visible and visible.count("m-1") == 1
    manifest = os.path.join(router.sink_path, ".sink-compact.manifest")
    assert os.path.exists(manifest)  # the deferred heal kept the plan

    # the dashboard poll answers, with the failure surfaced as data
    s = router.status(spark, as_of=AS_OF_FUTURE)
    assert s["retry_rows"] is not None  # a real snapshot, not an exception
    assert any("could not remove" in e for e in s["debris_heal_errors"])
    assert any(".sink-compact" in d for d in s["swap_debris_found"])

    # a NEW fold over the unhealed debris is refused loudly — RuntimeError,
    # not OSError: a precondition that holds until healed, so a transient
    # backoff-and-retry loop does not spin on it
    with pytest.raises(RuntimeError, match="unhealed sink-fold debris"):
        router.compact_sink(spark, up_to_batch_id=4, force=True)

    # filesystem healed: recovery converges, every row exactly once
    monkeypatch.setattr(shutil_mod, "rmtree", real)
    report = router.recover_swaps()
    assert report["heal_errors"] == []
    assert not os.path.exists(manifest)
    assert _sink_rows(spark, router) == sorted(before + ["m-4"])
    assert router._fold_debris() == []


def test_sibling_debris_discard_failure_is_deferred(spark, tmpdir, monkeypatch):
    """Sibling ``.old``/``.new`` swap debris is INVISIBLE to readers, so a
    discard the filesystem refuses (EACCES, NFS busy file) must be
    benign-deferred — reported in heal_errors and retried at the next heal
    — not allowed to propagate through the lease self-heal and fail the
    route_batch that tripped it (the same blast-radius class as the stuck
    fold, for garbage that cannot even affect correctness)."""
    import shutil as shutil_mod

    router = _mk_router(tmpdir)
    _seed_sink_batches(spark, router, n=1)
    # manufacture benign debris: a leftover .old sibling next to a live root
    old_dir = router.sink_path + ".compact.old"
    os.makedirs(old_dir)
    with open(os.path.join(old_dir, "leftover"), "w") as f:
        f.write("x")
    real = shutil_mod.rmtree

    def eacces(path, *a, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(old_dir):
            raise OSError(13, "injected EACCES")
        return real(path, *a, **kw)

    monkeypatch.setattr(shutil_mod, "rmtree", eacces)
    # the mutator that trips the heal keeps working
    router.route_batch(
        spark.createDataFrame(
            [("m-next", 1, True)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=2,
    )
    assert "m-next" in _sink_rows(spark, router)
    assert os.path.exists(old_dir)  # deferred, not silently dropped
    s = router.status(spark, as_of=AS_OF_FUTURE)
    assert any("injected EACCES" in e for e in s["debris_heal_errors"])

    # filesystem healed: the next heal discards it
    monkeypatch.setattr(shutil_mod, "rmtree", real)
    report = router.recover_swaps()
    assert old_dir in report["discarded"] and report["heal_errors"] == []
    assert not os.path.exists(old_dir)


def test_frontier_read_does_not_block_on_deferred_debris(spark, tmpdir):
    """due_retries is a READER: with deferred sibling debris present (a
    survivable steady state since round-12) and a live mutator holding the
    ledger lease, the frontier read must return promptly and correct — its
    opportunistic heal is a TRY-lock that skips on contention, not a
    blocking lease acquisition that would stall up to lease_timeout_s (or
    raise TimeoutError) behind every maintenance window for debris the
    read does not even depend on."""
    import fcntl
    import time as _time

    router = _mk_router(tmpdir, lease_timeout_s=30)
    # a real frontier: one failing message awaiting redelivery
    router.route_batch(
        spark.createDataFrame(
            [("m-fail", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=1,
    )
    # benign sibling debris on the SINK — irrelevant to the frontier read
    os.makedirs(router.sink_path + ".compact.old", exist_ok=True)

    fd = os.open(router._lease_path(), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # a live mutator
        t0 = _time.monotonic()
        due = router.due_retries(spark, as_of=AS_OF_FUTURE)
        ids = {r.message_id for r in due.collect()}
        # generous bound: the point is "a Spark job, not a 30 s lease
        # stall" — suite-load spikes must not flake it
        assert _time.monotonic() - t0 < 15
        assert ids == {"m-fail"}
    finally:
        os.close(fd)

    # lease free again: the opportunistic heal discards the debris
    router.due_retries(spark, as_of=AS_OF_FUTURE).count()
    assert not os.path.exists(router.sink_path + ".compact.old")


def test_concurrent_stream_maintenance_and_status_conserve_messages(
    spark, tmpdir
):
    """LIVE concurrency mix — the interleavings the crash-window tests
    cannot reach: one router simultaneously serving a delivering stream
    (route_batch), a maintenance loop (compact with an audit archive +
    partition-scoped compact_sink), and a dashboard poller (status), all
    from separate threads against one SparkSession.  The lease serializes
    the mutators; status and due_retries are readers.  Invariants at the
    end: no thread raised outside its documented loud-retry contract,
    every status poll returned a report (contended or full — never an
    exception), and after the bug fix + requeue + drain, CONSERVATION:
    every seeded message is in the sink exactly once, the DLQ is empty,
    and the frontier is drained."""
    import threading
    import time as _time

    from pyspark.sql import functions as F

    router = _mk_router(tmpdir, lease_timeout_s=120)
    SCHEMA = "message_id string, event_id long, attempt long, ok boolean"
    N_BATCHES, PER_BATCH = 10, 200
    bug = {"on": True}

    def verdicts(df):
        # event_id%20==0 fails EVERY attempt while the bug is on;
        # event_id%10==0 (not %20) fails only its first attempt
        always = (F.col("event_id") % 20 == 0) & F.lit(bug["on"])
        first_only = (F.col("event_id") % 10 == 0) & (F.col("attempt") == 1)
        return df.withColumn("ok", ~(always | first_only))

    errors: list[tuple[str, str]] = []
    stop = threading.Event()

    def stream():
        try:
            for b in range(1, N_BATCHES + 1):
                rows = [(f"m-{b}-{i}", b * PER_BATCH + i, 1, None) for i in range(PER_BATCH)]
                batch = verdicts(
                    spark.createDataFrame(rows, SCHEMA).drop("ok")
                )
                router.route_batch(batch, batch_id=b)
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errors.append(("stream", repr(e)))

    def maintenance():
        audit = os.path.join(tmpdir, "audit")
        try:
            while not stop.is_set():
                router.compact(spark, archive_to=audit)
                router.compact_sink(
                    spark, up_to_batch_id=N_BATCHES, force=True
                )
                stop.wait(0.2)
        except Exception as e:  # noqa: BLE001
            errors.append(("maintenance", repr(e)))

    polls = {"n": 0}

    def poller():
        try:
            while not stop.is_set():
                s = router.status(spark, as_of=AS_OF_FUTURE)
                assert isinstance(s, dict) and "counters" in s
                polls["n"] += 1
                stop.wait(0.05)
        except Exception as e:  # noqa: BLE001
            errors.append(("status", repr(e)))

    threads = [
        threading.Thread(target=stream, daemon=True),
        threading.Thread(target=maintenance, daemon=True),
        threading.Thread(target=poller, daemon=True),
    ]
    for t in threads:
        t.start()
    threads[0].join(300)  # the stream finishes its 10 batches

    # drain the retry frontier WHILE maintenance still runs for a couple of
    # cycles.  snapshot=True is LOAD-BEARING here: a lazy frontier
    # captures its file listing at first action, and a compact swapping the
    # ledger between that listing and the plan's re-execution inside
    # route_batch fails the batch on deleted files — exactly the
    # "swap-proof snapshot isolation" the due_retries docstring prescribes
    # for drains that overlap maintenance.  The snapshot materialization
    # itself can still race a swap (it is a lock-free reader): that fails
    # LOUD and the driver re-polls — mirrored by the bounded retry here.
    def drain(max_cycles=12):
        cycle = {"n": 1_000_000}
        for _ in range(max_cycles):
            for attempt_no in range(5):
                try:
                    due = router.due_retries(
                        spark, as_of=AS_OF_FUTURE, snapshot=True
                    )
                    batch = due.drop("available_at", "_batch_id", "ok", "error")
                    if not batch.limit(1).count():
                        return
                    cycle["n"] += 1
                    router.route_batch(verdicts(batch), cycle["n"])
                    break
                except Exception:  # noqa: BLE001 — loud re-poll contract
                    if attempt_no == 4:
                        raise
                    _time.sleep(0.5)

    # max_cycles=2 is NOT a convergence budget — the bug is still ON here
    # (1-in-20 ids fail every attempt), so this drain CANNOT empty the
    # frontier no matter how many cycles it runs.  Its only job is to
    # exercise route_batch overlapping live compact/compact_sink cycles;
    # the convergent drains run below, after maintenance stops (full
    # budget) and again after bug["on"] is flipped off.  Do not "fix" this
    # budget upward to chase an empty frontier.
    drain(max_cycles=2)
    stop.set()
    for t in threads[1:]:
        t.join(120)
    assert errors == [], errors
    assert polls["n"] > 0  # the dashboard actually polled under load
    drain()

    # the always-failing ids exhausted into the DLQ; fix + revive + drain
    assert spark.read.parquet(router.dlq_path).count() == N_BATCHES * PER_BATCH // 20
    bug["on"] = False
    assert router.requeue_dlq(spark, batch_id=-7) == N_BATCHES * PER_BATCH // 20
    drain()

    # CONSERVATION: every seeded message delivered exactly once
    sink = spark.read.parquet(router.sink_path)
    assert sink.count() == N_BATCHES * PER_BATCH
    assert sink.select("message_id").distinct().count() == N_BATCHES * PER_BATCH
    assert router.due_retries(spark, as_of=AS_OF_FUTURE).count() == 0
    assert not os.path.exists(router.dlq_path)
    assert router._swap_debris() == [] and router._fold_debris() == []


def test_archive_file_count_tracks_archived_bytes():
    """The fold's consolidated-file count is sized from the archived bytes
    (one file per ~1 GiB, floor 1): small folds stay a single file, huge
    folds never become one monster file."""
    from pulsar_pekko_streams_example_spark.streaming.retry import (
        _archive_file_count,
    )

    gib = 1 << 30
    assert _archive_file_count(0) == 1
    assert _archive_file_count(10_000) == 1
    assert _archive_file_count(gib) == 1
    assert _archive_file_count(gib + 1) == 2
    assert _archive_file_count(40 * gib) == 40


def test_route_batch_self_heals_fold_debris(spark, tmpdir, monkeypatch):
    """Every mutator heals fold debris at lease acquisition, same as swap
    debris: a ``route_batch`` that follows a crashed fold first completes
    the manifest, then routes."""
    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router)
    _crash_nth_rename(monkeypatch, nth=1)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact_sink(spark, up_to_batch_id=2, force=True)
    assert router._fold_debris() != []

    router.route_batch(
        spark.createDataFrame(
            [("m-4", 1, True)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=4,
    )
    assert router._fold_debris() == []
    assert _sink_rows(spark, router) == sorted(before + ["m-4"])


def test_live_partition_reader_survives_a_concurrent_fold(spark, tmpdir):
    """The operational payoff of the partition-scoped fold: a reader whose
    plan prunes to LIVE partitions (the overwhelmingly common shape — fresh
    data) is completely unaffected by a maintenance fold running under it,
    because the fold never touches those directories.  Only a reader whose
    captured listing spans the FOLDED directories sees the swap — and then
    fails loud or re-lists to the true rows, never a silent partial (same
    contract as due_retries' lazy frontier)."""
    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router, n=5)

    bid = F.col("_batch_id")
    # lazy frames captured BEFORE the fold
    live_reader = spark.read.parquet(router.sink_path).filter(bid >= 4)
    full_reader = spark.read.parquet(router.sink_path)

    assert router.compact_sink(spark, up_to_batch_id=3, force=True)["archived"] == 3

    # pruned-to-live plan: unaffected mid-maintenance, by construction
    assert sorted(r.message_id for r in live_reader.collect()) == ["m-4", "m-5"]
    # full-scan plan captured pre-fold: loud or true, never silent-partial
    try:
        rows = sorted(r.message_id for r in full_reader.collect())
    except Exception:
        pass  # fail-loud on the swapped-away listing is acceptable
    else:
        assert rows == before


def test_compact_sink_leaves_live_partitions_byte_untouched(spark, tmpdir):
    """The round-11 contract: the fold is partition-scoped — live
    ``_batch_id`` directories keep the same file list, sizes, AND mtimes
    across a fold (they are never read for the rewrite either, but
    byte-identity is the observable half), and a below-everything cutoff
    is a zero-touch no-op for the whole sink."""
    router = _mk_router(tmpdir)
    before = _seed_sink_batches(spark, router, n=5)
    live = [4, 5]
    fp_before = _live_fingerprint(router, live)

    stats = router.compact_sink(spark, up_to_batch_id=3, force=True)
    assert stats["archived"] == 3
    assert stats["partitions_before"] == 5 and stats["partitions_after"] == 3
    assert _live_fingerprint(router, live) == fp_before
    assert _sink_rows(spark, router) == before

    # no-op cutoff: nothing below it — not a single directory touched
    fp_all = _live_fingerprint(router, [-1] + live)
    stats = router.compact_sink(spark, up_to_batch_id=-1, force=True)
    assert stats == {
        "archived": 0, "partitions_before": 3, "partitions_after": 3,
    }
    assert _live_fingerprint(router, [-1] + live) == fp_all

    # growing the archive only touches the folded partitions, never live
    fp_live5 = _live_fingerprint(router, [5])
    stats = router.compact_sink(spark, up_to_batch_id=4, force=True)
    assert stats["archived"] == 1 and stats["partitions_after"] == 2
    assert _live_fingerprint(router, [5]) == fp_live5
    assert _sink_rows(spark, router) == before


def test_due_retries_recheck_closes_the_debris_toctou(spark, tmpdir):
    """A swap that starts AFTER due_retries' entry debris check but before
    its existence check unroots the ledger mid-call — pre-fix that read as
    a silently empty frontier.  A mid-swap missing root ALWAYS has debris
    (rename(root → .old) is the only way it goes missing), so the re-check
    on the missing-root path heals and reads the true frontier.  Pinned by
    shadowing the FIRST debris probe to report clean — exactly the TOCTOU
    interleaving — over a real mid-swap layout."""
    router = _mk_router(tmpdir)
    before = _seed_live_and_resolved(spark, router)

    # manufacture the mid-swap layout (complete .new, root renamed away)
    ledger = spark.read.parquet(router.retry_path)
    ledger.write.mode("overwrite").partitionBy("_batch_id").parquet(
        router.retry_path + ".compact.new"
    )
    os.rename(router.retry_path, router.retry_path + ".compact.old")

    real = router._swap_debris
    calls = {"n": 0}

    def first_probe_clean():
        calls["n"] += 1
        return [] if calls["n"] == 1 else real()

    router._swap_debris = first_probe_clean  # instance-attr shadow
    try:
        assert _frontier(spark, router) == before  # NOT silently empty
    finally:
        del router._swap_debris
    assert calls["n"] >= 2  # the missing-root re-check actually probed
    assert router._swap_debris() == []


def test_due_retries_recheck_covers_terminal_ledgers_too(spark, tmpdir):
    """The terminal anti-joins have the same TOCTOU as the root: a DLQ
    mid-swap (a live requeue's rename) reads as 'no terminals' and the
    exclusion silently skips — an exhausted message would transiently
    re-enter the frontier.  Missing terminal + debris ⇒ heal, then the
    re-check keeps the exclusion."""
    router = _mk_router(tmpdir, max_attempts=2)
    for rows, bid in (([("m-dead", 1, False)], 1), ([("m-dead", 2, False)], 2)):
        router.route_batch(
            spark.createDataFrame(rows, "message_id string, attempt long, ok boolean"),
            batch_id=bid,
        )
    assert _frontier(spark, router) == set()  # DLQ-terminal, excluded

    dlq = spark.read.parquet(router.dlq_path)
    dlq.write.mode("overwrite").partitionBy("_batch_id").parquet(
        router.dlq_path + ".requeue.new"
    )
    os.rename(router.dlq_path, router.dlq_path + ".requeue.old")

    real = router._swap_debris
    calls = {"n": 0}

    def first_probe_clean():
        calls["n"] += 1
        return [] if calls["n"] == 1 else real()

    router._swap_debris = first_probe_clean
    try:
        assert _frontier(spark, router) == set()  # no transient re-entry
    finally:
        del router._swap_debris
    assert calls["n"] >= 2
    assert os.path.exists(router.dlq_path)  # the swap was completed
    assert router._swap_debris() == []


def test_due_retries_snapshot_survives_concurrent_compaction(spark, tmpdir):
    """``snapshot=True`` materializes the frontier at call time, so the
    frame outlives a maintenance swap that replaces the ledger directory
    under it — snapshot isolation for readers held across a compaction
    window (the lease serializes writers only).  The opt-in LAZY frame
    either fails loud on the invalidated listing or, if the engine
    re-lists, returns the true frontier — never a silent partial."""
    router = _mk_router(tmpdir)
    before = _seed_live_and_resolved(spark, router)
    snap = router.due_retries(spark, as_of=AS_OF_FUTURE, snapshot=True)
    lazy = router.due_retries(spark, as_of=AS_OF_FUTURE, snapshot=False)

    assert router.compact(spark)["kept"] == 1  # replaces the ledger dir
    assert {(r.message_id, r.attempt) for r in snap.collect()} == before
    try:
        rows = {(r.message_id, r.attempt) for r in lazy.collect()}
    except Exception:
        pass  # fail-loud on the swapped-away listing is the contract
    else:
        assert rows == before  # a re-list must still be the true frontier


def test_routing_the_due_frontier_writes_each_message_to_one_ledger(
    spark, tmpdir
):
    """Routing ``due_retries``' frontier straight back through
    ``route_batch`` (the redelivery loop's shape) must land every message
    in exactly one ledger.  A frontier LAZY over the retry directory broke
    that: the call's own retry-ledger write re-caches its persisted batch
    by path, so the DLQ write re-read the NEW ledger — m1, still inside its
    budget, reached the retry ledger AND the DLQ, while the aggregate that
    gates the writes counted one DLQ row."""
    router = _mk_router(tmpdir)  # max_attempts=3
    router.route_batch(
        spark.createDataFrame(
            [("m1", 1, False), ("m2", 2, False)],
            "message_id string, attempt long, ok boolean",
        ),
        batch_id=0,
    )
    due = router.due_retries(spark, as_of=AS_OF_FUTURE)
    # the populated frontier carries its ledger partition, like FRONTIER_SCHEMA
    assert {(r.message_id, r.attempt, r._batch_id) for r in due.collect()} == {
        ("m1", 2, 0), ("m2", 3, 0),
    }
    router.route_batch(due.withColumn("ok", F.lit(False)), batch_id=1)

    dlq = {(r.message_id, r.attempt) for r in spark.read.parquet(router.dlq_path).collect()}
    assert dlq == {("m2", 3)}
    assert router.counters["dlq"] == 1
    assert _frontier(spark, router) == {("m1", 3)}


def test_mutator_lease_auto_recovers_before_touching_ledgers(
    spark, tmpdir, monkeypatch
):
    """Every mutator heals at lease acquisition: a ``route_batch`` that
    follows a mid-swap crash first completes the interrupted swap, then
    routes — the new batch composes with the recovered frontier instead of
    writing next to (or into) half-renamed directories."""
    router = _mk_router(tmpdir)
    before = _seed_live_and_resolved(spark, router)
    _crash_nth_rename(monkeypatch, nth=2)
    with pytest.raises(RuntimeError, match="injected crash inside swap"):
        router.compact(spark)
    assert not os.path.exists(router.retry_path)

    router.route_batch(
        spark.createDataFrame(
            [("m-new", 1, False)], "message_id string, attempt long, ok boolean"
        ),
        batch_id=3,
    )
    assert router._swap_debris() == []
    assert _frontier(spark, router) == before | {("m-new", 2)}


def test_ordered_cursor_exact_at_int64_scale():
    """Seq arithmetic must stay EXACT over the full long range: above 2^53
    a float64 detour collapses adjacent seqs (base+1 == base), misreading
    forward progress as redelivery and corrupting the cursor.  Driven at
    2^62 through the same _process_key path the streaming query uses."""
    import numpy as np

    from pulsar_pekko_streams_example_spark.streaming import ordered_state as OS

    base = 2**62

    class _St:
        _v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = _St()
    pdf = pd.DataFrame(
        {
            "message_id": ["g1", "g2", "g3"],
            "seq": np.array([base, base + 1, base + 2], dtype="int64"),
            "attempt": [1, 1, 1],
        }
    )
    (out,) = OS._process_key(("k",), iter([pdf]), st)
    assert list(out["in_order"]) == [True, True, True]
    assert list(out["is_redelivery"]) == [False, False, False]
    assert st.get == (base + 2, 3)  # cursor exact, not float-rounded

    # a genuine redelivery one past the cursor is still distinguished
    pdf2 = pd.DataFrame(
        {
            "message_id": ["g2-again", "g4"],
            "seq": np.array([base + 1, base + 3], dtype="int64"),
            "attempt": [2, 1],
        }
    )
    (out2,) = OS._process_key(("k",), iter([pdf2]), st)
    assert list(out2["is_redelivery"]) == [True, False]


def test_status_bounded_retry_contract(spark, tmpdir):
    """Deterministic pin of status()'s never-raise contract (round 13,
    df980f6) — the concurrency stress test above exercises the race
    statistically; this injects it exactly.

    (a) a mutator that keeps invalidating the lock-free counts past the
    bounded retry degrades the poll to the CONTENDED shape (all counts
    None, maintenance_in_progress = the latest lease record, counters
    still served) — never an exception; (b) a transient invalidation that
    clears within the retry budget yields the full counted shape.  The
    injection point is due_retries — the first count job status() runs —
    raising the same AnalysisException a compact's directory swap
    produces."""
    from pyspark.errors import AnalysisException

    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
    )

    calls = {"n": 0}
    real_due = router.due_retries

    def always_swapped(*a, **k):
        calls["n"] += 1
        raise AnalysisException("[PATH_NOT_FOUND] injected ledger swap")

    router.due_retries = always_swapped
    s = router.status(spark)  # must NOT raise
    assert calls["n"] == 3, "bounded retry = exactly 3 attempts"
    assert s["retry_rows"] is None and s["frontier"] is None
    assert s["dlq"] is None and s["resolved"] is None
    assert "counters" in s  # the in-process counters are served either way

    calls["n"] = 0

    def transient(*a, **k):
        calls["n"] += 1
        if calls["n"] < 3:
            raise AnalysisException("[PATH_NOT_FOUND] injected ledger swap")
        return real_due(*a, **k)

    router.due_retries = transient
    s2 = router.status(spark)
    assert calls["n"] == 3
    assert s2["frontier"] == 0 and s2["retry_rows"] == 0  # empty ledgers count
    assert s2["maintenance_in_progress"] is None
