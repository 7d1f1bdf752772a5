"""Structured Streaming runtime tests: processor contract, retry/DLQ loop,
per-key ordered state, workload lifecycle, admission config."""

from __future__ import annotations

import os
import tempfile
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pulsar_pekko_streams_example_spark.envelope import attempts_ledger
from pulsar_pekko_streams_example_spark.sources.streams import (
    envelope_file_stream,
    rate_stream,
    watermarked,
)
from pulsar_pekko_streams_example_spark.streaming import (
    RetryRouter,
    Workload,
    WorkloadManager,
    apply_processor,
    simulated_processor,
)
from pulsar_pekko_streams_example_spark.streaming.ordered_state import ordered_per_key
from pulsar_pekko_streams_example_spark.streaming.permits import (
    PermitConfig,
    admission_options,
    fair_scheduler_confs,
)
from pulsar_pekko_streams_example_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_processor_contract_batch(spark):
    """T1/T4: exceptions and failures become (ok, error) data, never stream
    failure; deterministic 1-in-10 failure rate."""
    ev = load_table(spark, SF_SMOKE, "events")
    out = apply_processor(ev, simulated_processor(10))
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(~F.col("ok"), 1)).alias("failures"),
    ).collect()[0]
    expected_failures = ev.filter(F.col("event_id") % 10 == 0).count()
    assert agg.failures == expected_failures
    assert agg.n == ev.count()

    def boom(pdf):
        raise RuntimeError("kaboom")

    crashed = apply_processor(ev.limit(50), boom)
    rows = crashed.select("ok", "error").collect()
    assert all((not r.ok) and "kaboom" in r.error for r in rows)


def test_retry_dlq_loop_streaming(spark, tmpdir):
    """S6/S7: failures land in the retry table with attempt+1 and a
    redelivery delay; successes land in the sink; DLQ catches max-attempts."""
    src = os.path.join(tmpdir, "src")
    ledger = attempts_ledger(spark, SF_SMOKE).filter(F.col("attempt") == 1)
    (
        ledger.select(
            "message_id", "event_id", "topic", "key", "seq", "attempt", "status", "publish_time"
        )
        .coalesce(1)
        .write.parquet(src)
    )

    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=10,
        max_attempts=2,
    )
    stream = envelope_file_stream(spark, src)
    processed = stream.withColumn("ok", F.col("status") == "success")
    q = (
        router.attach(processed, os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    n_ok = spark.read.parquet(router.sink_path).count()
    retry = spark.read.parquet(router.retry_path)
    total = ledger.count()
    failures = ledger.filter(F.col("status") == "failure").count()
    assert n_ok == total - failures
    assert retry.count() == failures
    r = retry.select("attempt", "available_at").first()
    assert r.attempt == 2 and r.available_at is not None
    # due_retries honors the redelivery delay
    assert router.due_retries(spark, as_of="2000-01-01 00:00:00").count() == 0
    assert router.due_retries(spark, as_of="2100-01-01 00:00:00").count() == failures
    assert not os.path.exists(router.dlq_path)  # nothing exceeded max_attempts

    # second delivery cycle: replay the due retries as attempt 2 with all-success
    replay = router.due_retries(spark, as_of="2100-01-01 00:00:00")
    # a new delivery cycle gets its own batch id (foreachBatch ids are unique;
    # reusing one means "replay" and is idempotently absorbed)
    router.route_batch(
        replay.withColumn("ok", F.lit(True)).drop("available_at"), batch_id=1_000_001
    )
    assert spark.read.parquet(router.sink_path).count() == total
    # the acked redeliveries TERMINATE their lifecycle: the frontier drains
    # (round-9 resolved-index fix — pre-fix they re-entered forever)
    assert router.due_retries(spark, as_of="2100-01-01 00:00:00").count() == 0


def test_router_stream_resumes_at_subscription_position(spark, tmpdir):
    """S6/S8 composition: stopping and re-attaching a router stream on the
    SAME checkpoint resumes where the commits left off — the broker
    consumer reconnecting at its subscription cursor
    (``util/PulsarClientWrapper.scala:203-226``).  Backlog already routed
    is not reprocessed (no duplicate sink rows, no double-aged attempts);
    only the files that arrived while detached flow."""
    src = os.path.join(tmpdir, "src")
    ledger = attempts_ledger(spark, SF_SMOKE).filter(F.col("attempt") == 1)
    cols = [
        "message_id", "event_id", "topic", "key", "seq", "attempt",
        "status", "publish_time",
    ]
    half_a = ledger.filter(F.col("event_id") % 2 == 0).select(*cols)
    half_b = ledger.filter(F.col("event_id") % 2 != 0).select(*cols)
    half_a.coalesce(1).write.parquet(src)

    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=10,
        max_attempts=3,
    )
    ckpt = os.path.join(tmpdir, "ckpt")

    def run_once():
        stream = envelope_file_stream(spark, src)
        processed = stream.withColumn("ok", F.col("status") == "success")
        q = router.attach(processed, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    n_ok_a = half_a.filter(F.col("status") == "success").count()
    assert spark.read.parquet(router.sink_path).count() == n_ok_a

    half_b.coalesce(1).write.parquet(src, mode="append")
    run_once()

    total_ok = ledger.filter(F.col("status") == "success").count()
    total_fail = ledger.count() - total_ok
    sink = spark.read.parquet(router.sink_path)
    assert sink.count() == total_ok  # half A was NOT reprocessed
    assert sink.select("message_id").distinct().count() == total_ok
    # live counters agree: each message acked exactly once ACROSS both runs
    assert router.counters["acks"] == total_ok
    # failures aged exactly one attempt each — a reprocessed half would
    # have written a second, higher-attempt generation for half A
    retry = spark.read.parquet(router.retry_path)
    assert retry.count() == total_fail
    assert retry.filter(F.col("attempt") != 2).count() == 0
    # and the checkpoint really did commit more than one batch position
    assert len(RetryRouter.committed_batch_ids(ckpt)) >= 2


def test_ordered_per_key_across_microbatches(spark, tmpdir):
    """K2: per-key processing order follows seq across micro-batches; the
    checkpointed cursor survives batch boundaries."""
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    ledger = (
        attempts_ledger(spark, SF_SMOKE)
        .filter(F.col("attempt") == 1)
        .select("message_id", "event_id", "topic", "key", "seq", "attempt", "status", "publish_time")
    )
    median = ledger.approxQuantile("seq", [0.5], 0.0)[0]
    # two files written in seq order → maxFilesPerTrigger=1 gives 2 micro-batches
    ledger.filter(F.col("seq") <= median).coalesce(1).write.parquet(os.path.join(src, "b1"))
    time.sleep(1.1)  # file-source orders by modification time
    ledger.filter(F.col("seq") > median).coalesce(1).write.parquet(os.path.join(src, "b2"))

    stream = envelope_file_stream(
        spark, src + "/*", max_files_per_trigger=1
    )
    out = ordered_per_key(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ordered_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    res = spark.table("ordered_out").collect()
    assert len(res) == ledger.count()
    by_key: dict[str, list] = {}
    for r in res:
        by_key.setdefault(r.key, []).append(r)
    for key, rows in by_key.items():
        rows.sort(key=lambda r: r.processing_index)
        seqs = [r.seq for r in rows if not r.is_redelivery]
        assert seqs == sorted(seqs), f"out-of-order processing for {key}"
        assert seqs == list(range(1, len(seqs) + 1)), f"gaps in cursor for {key}"
        assert all(r.in_order for r in rows)


def test_workload_manager_lifecycle(spark):
    """L1–L6: duplicate-start filter, reconciliation diff, graceful stop."""

    def factory(w: Workload):
        return (
            rate_stream(spark, rows_per_second=5)
            .writeStream.format("noop")
            .queryName(w.workload_name)
            .start()
        )

    mgr = WorkloadManager(spark=spark, stream_factory=factory)
    cats = Workload("cats", "topic-cats")
    dogs = Workload("dogs", "topic-dogs")
    assert mgr.start(cats) is True
    assert mgr.start(cats) is False  # T6 duplicate filter
    report = mgr.reconcile({cats, dogs})
    assert {w.workload_name for w in report.workloads_to_start} == {"dogs"}
    assert mgr.running() == {"cats", "dogs"}

    report = mgr.reconcile({dogs})
    assert {w.workload_name for w in report.workloads_to_delete} == {"cats"}
    assert mgr.running() == {"dogs"}
    assert not any(q.name == "cats" and q.isActive for q in spark.streams.active)

    mgr.shutdown_all()
    assert mgr.running() == set()
    assert not any(q.name in ("cats", "dogs") and q.isActive for q in spark.streams.active)


def test_permit_confs(spark):
    cfg = PermitConfig(global_permit_limit=5, max_tasks_queued=20)
    confs = fair_scheduler_confs(cfg)
    assert confs["spark.scheduler.mode"] == "FAIR"
    assert os.path.exists(confs["spark.scheduler.allocation.file"])
    assert admission_options(cfg)["maxFilesPerTrigger"] == "2"


def test_permit_pools_render_real_weights(spark):
    """Per-workload FAIR pools carry the DECLARED weight/minShare into the
    allocation file: pre-fix the file held only the default pool, so a
    pool named in use_pool got Spark's built-ins (weight 1, minShare 0,
    FIFO internally) and the docstring's starvation protection protected
    nothing."""
    import xml.etree.ElementTree as ET

    cfg = PermitConfig(pools=(("billing", 4, 3), ("batch", 1, 0)))
    confs = fair_scheduler_confs(cfg)
    tree = ET.parse(confs["spark.scheduler.allocation.file"])
    pools = {
        p.get("name"): {
            "weight": p.findtext("weight"),
            "minShare": p.findtext("minShare"),
            "mode": p.findtext("schedulingMode"),
        }
        for p in tree.getroot().findall("pool")
    }
    assert set(pools) == {"default", "billing", "batch"}
    assert pools["billing"] == {"weight": "4", "minShare": "3", "mode": "FAIR"}
    assert pools["batch"]["weight"] == "1"


def test_watermark_windowed_aggregation(spark, tmpdir):
    """§2.7 addition: event-time tumbling windows + watermark over the
    envelope stream; late data beyond the watermark is dropped by the engine.
    Batch twin of the windowed_throughput query."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    base = spark.range(200).select(
        F.col("id").cast("string").alias("message_id"),
        F.col("id").alias("event_id"),
        F.lit("persistent://t/ns/topic-0").alias("topic"),
        F.concat(F.lit("k"), (F.col("id") % 5).cast("string")).alias("key"),
        F.col("id").alias("seq"),
        F.lit(1).cast("long").alias("attempt"),
        F.lit("success").alias("status"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 6)).alias("publish_time"),
    )
    base.coalesce(1).write.parquet(src, mode="append")

    stream = envelope_file_stream(spark, src)
    windowed = (
        watermarked(stream, "2 minutes")
        .groupBy(F.window("publish_time", "5 minutes").alias("w"), F.col("key"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("win_start"), "key", "n")
    )
    q = (
        windowed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # append-mode emits only watermark-closed windows; feed a late batch to
    # advance the watermark past the last window, then drain again
    late = base.withColumn(
        "publish_time", F.col("publish_time") + F.expr("INTERVAL 1 HOUR")
    )
    late.coalesce(1).write.parquet(src, mode="append")
    q2 = (
        windowed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    # 200 events * 6s = 20 min => four 5-min windows, 5 keys each, all closed
    # by the late batch's watermark advance
    first_hour = got.filter(F.col("win_start") < "2024-01-01 01:00:00")
    assert first_hour.count() == 4 * 5
    total = first_hour.agg(F.sum("n").alias("s")).collect()[0].s
    assert total == 200


def test_redelivery_reenters_ordered_key_queue(spark, tmpdir):
    """Hard part #1 (SURVEY §7): a nacked message redelivered in a LATER
    micro-batch re-enters its key's serial queue — flagged as redelivery,
    processed within the key's single-threaded order, without disturbing the
    first-pass cursor (broker-redelivery semantics on Key_Shared)."""
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)

    def rows_df(rows):
        return spark.createDataFrame(
            [
                (f"m-{seq}-{att}", seq, "persistent://t/ns/topic-0", key, seq, att,
                 status, None)
                for (key, seq, att, status) in rows
            ],
            schema="message_id string, event_id long, topic string, key string, "
            "seq long, attempt long, status string, publish_time timestamp",
        )

    # batch 1: k1 processes seq 1..3; seq 2 fails (will be redelivered)
    rows_df([("k1", 1, 1, "success"), ("k1", 2, 1, "failure"), ("k1", 3, 1, "success")]) \
        .coalesce(1).write.parquet(os.path.join(src, "b1"))
    time.sleep(1.1)
    # batch 2: redelivery of seq 2 (attempt 2) + new seqs 4, 5
    rows_df([("k1", 2, 2, "success"), ("k1", 4, 1, "success"), ("k1", 5, 1, "success")]) \
        .coalesce(1).write.parquet(os.path.join(src, "b2"))

    stream = envelope_file_stream(spark, src + "/*", max_files_per_trigger=1)
    q = (
        ordered_per_key(stream)
        .writeStream.format("memory")
        .queryName("redelivery_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = sorted(spark.table("redelivery_out").collect(), key=lambda r: r.processing_index)
    assert [r.seq for r in rows] == [1, 2, 3, 2, 4, 5]
    assert [r.processing_index for r in rows] == list(range(6))  # serial per key
    redelivered = [r for r in rows if r.is_redelivery]
    assert [(r.seq, r.message_id) for r in redelivered] == [(2, "m-2-2")]
    # first-pass cursor is undisturbed: non-redelivery seqs stay gap-free
    firsts = [r.seq for r in rows if not r.is_redelivery]
    assert firsts == [1, 2, 3, 4, 5]
    assert all(r.in_order for r in rows)


def test_idempotent_batch_replay(spark, tmpdir):
    """S6 exactly-once depth: replaying a micro-batch (crash between sink
    write and offset commit) must not duplicate rows — the batch-id
    partition overwrite absorbs the replay."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
    )
    batch = spark.range(50).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.lit(1).cast("long").alias("attempt"),
        (F.col("id") % 10 != 0).alias("ok"),
        F.lit(None).cast("string").alias("error"),
    )
    router.route_batch(batch, batch_id=7)
    router.route_batch(batch, batch_id=7)  # replay of the SAME batch
    router.route_batch(batch, batch_id=8)  # a genuinely new batch

    sink = spark.read.parquet(router.sink_path)
    assert sink.count() == 45 * 2  # batches 7 and 8 once each, no replay dups
    assert sink.filter("_batch_id = 7").count() == 45
    retry = spark.read.parquet(router.retry_path)
    assert retry.count() == 5 * 2
    assert retry.agg(F.min("attempt")).collect()[0][0] == 2


def test_stream_stream_interval_join(spark, tmpdir):
    """Stream-stream join with watermarks: each error joined to clicks of the
    same user within the preceding 10 minutes — both sides streaming, state
    bounded by the watermark + interval condition (the streaming twin of the
    range_following_counts batch query)."""
    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    base = spark.range(300).select(
        F.concat(F.lit("m-"), F.col("id")).alias("message_id"),
        F.col("id").alias("event_id"),
        F.lit("persistent://t/ns/topic-0").alias("topic"),
        F.concat(F.lit("k"), (F.col("id") % 10)).alias("key"),
        F.col("id").alias("seq"),
        F.lit(1).cast("long").alias("attempt"),
        F.when(F.col("id") % 3 == 0, "error").otherwise("click").alias("status"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 30)).alias("publish_time"),
    )
    base.coalesce(1).write.parquet(src, mode="append")

    stream = envelope_file_stream(spark, src)
    errors = watermarked(
        stream.filter(F.col("status") == "error").select(
            F.col("event_id").alias("err_id"),
            F.col("key").alias("err_key"),
            F.col("publish_time").alias("err_ts"),
        ),
        "1 minute",
        ts_col="err_ts",
    )
    clicks = watermarked(
        stream.filter(F.col("status") == "click").select(
            F.col("event_id").alias("clk_id"),
            F.col("key").alias("clk_key"),
            F.col("publish_time").alias("clk_ts"),
        ),
        "1 minute",
        ts_col="clk_ts",
    )
    joined = errors.join(
        clicks,
        F.expr(
            "err_key = clk_key AND clk_ts < err_ts "
            "AND clk_ts >= err_ts - INTERVAL 10 MINUTES"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {(r.err_id, r.clk_id) for r in spark.table("ss_join").collect()}
    # batch reference computed on the same data
    b = base.select("event_id", "key", "status", "publish_time")
    be = b.filter("status = 'error'")
    bc = b.filter("status = 'click'")
    expected = {
        (r.event_id, r.clk_id)
        for r in be.join(
            bc.select(
                F.col("event_id").alias("clk_id"),
                F.col("key").alias("clk_key"),
                F.col("publish_time").alias("clk_ts"),
            ),
            (F.col("key") == F.col("clk_key"))
            & (F.col("clk_ts") < F.col("publish_time"))
            & (F.col("clk_ts") >= F.col("publish_time") - F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert got == expected and len(expected) > 0


def test_observe_metrics_listener(spark, tmpdir):
    """G1/G4/G5 via observe(): counters computed inside the micro-batch job
    (no extra pass), delivered to a StreamingQueryListener per batch —
    the SingleStreamCollector analog (util/StandardTestTools.scala:49-75)."""
    from pulsar_pekko_streams_example_spark.streaming import metrics as M

    src = os.path.join(tmpdir, "src")
    os.makedirs(src)
    for i in range(2):
        spark.range(100).select(
            F.concat(F.lit(f"b{i}-"), F.col("id")).alias("message_id"),
            (F.col("id") % 10 != 0).alias("ok"),
        ).coalesce(1).write.parquet(os.path.join(src, f"f{i}"))
        time.sleep(1.1)

    listener = M.install(spark)
    try:
        stream = spark.readStream.schema("message_id string, ok boolean").option(
            "maxFilesPerTrigger", "1"
        ).parquet(src + "/*")
        observed = M.with_engine_metrics(stream)
        q = (
            observed.writeStream.format("noop")
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = time.time() + 30
        while time.time() < deadline and M and listener.totals()["batches"] < 2:
            time.sleep(0.5)
        totals = listener.totals()
        assert totals["batches"] == 2  # one observation per micro-batch
        assert totals["processed"] == 200
        assert totals["failures"] == 20
        assert totals["successes"] == 180
    finally:
        M.uninstall(spark, listener)


def test_process_key_carries_cursor_across_batches():
    """``_process_key`` driven with a fake GroupState over four
    micro-batches of one key: the cursor and ``processing_index`` carry
    across batches, an old seq re-arriving is flagged as a redelivery, a
    gap breaks ``in_order``, and a positionless (NULL-seq) row is processed
    serially without advancing the cursor (round-8 hostile contract)."""
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

    # normal progress, a gap (seq 5 before 4 never arrives), a redelivery
    # of seq 1 alongside new seq 6, and a NULL-seq message next to seq 7
    batches = [
        [("m0", 0, 1), ("m1", 1, 1), ("m2", 2, 1)],
        [("m5", 5, 1), ("m3", 3, 1)],
        [("m1b", 1, 2), ("m6", 6, 1)],
        [("m-null", None, 1), ("m7", 7, 1)],
    ]
    gstate = FakeGroupState()
    out = pd.concat(
        [
            frame
            for batch in batches
            for frame in OS._process_key(
                ("k1",),
                iter([pd.DataFrame(batch, columns=["message_id", "seq", "attempt"])]),
                gstate,
            )
        ],
        ignore_index=True,
    )

    assert list(out["message_id"]) == [
        "m0", "m1", "m2", "m3", "m5", "m1b", "m6", "m7", "m-null",
    ]
    assert list(out["processing_index"]) == list(range(9))
    assert list(out["is_redelivery"]) == [False] * 5 + [True] + [False] * 3
    assert list(out["in_order"]) == [True] * 4 + [False] + [True] * 3 + [False]
    assert list(out["fresh_cursor"]) == [True] * 3 + [False] * 6
    # the positionless row was processed without advancing the cursor
    assert pd.isna(out["seq"].iloc[-1])
    assert gstate.get == (7, 9)


def test_drop_duplicates_within_watermark_absorbs_redelivery(spark, tmpdir):
    """S7 delivery semantics, downstream view: broker redelivery is
    at-least-once, so the same message_id can arrive in multiple
    micro-batches.  dropDuplicatesWithinWatermark() turns that into
    effectively-once for consumers — state holds ids only within the
    watermark horizon, so it is bounded at 100 TB (unlike a full
    dropDuplicates whose state grows without bound)."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    def envelopes(lo, hi, redelivery_attempt=1):
        return spark.range(lo, hi).select(
            F.col("id").cast("string").alias("message_id"),
            F.col("id").alias("event_id"),
            F.lit("persistent://t/ns/topic-0").alias("topic"),
            F.concat(F.lit("k"), (F.col("id") % 5).cast("string")).alias("key"),
            F.col("id").alias("seq"),
            F.lit(redelivery_attempt).cast("long").alias("attempt"),
            F.lit("success").alias("status"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(secs=F.col("id"))).alias("publish_time"),
        )

    envelopes(0, 100).coalesce(1).write.parquet(src, mode="append")

    deduped = watermarked(
        envelope_file_stream(spark, src), "10 minutes"
    ).dropDuplicatesWithinWatermark(["message_id"])

    def drain():
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    # broker redelivers 50..99 (nack path, higher attempt counter) alongside
    # genuinely new messages 100..149
    envelopes(50, 150, redelivery_attempt=2).coalesce(1).write.parquet(src, mode="append")
    drain()

    got = spark.read.parquet(out_dir)
    assert got.count() == 150  # each message exactly once downstream
    assert got.select("message_id").distinct().count() == 150
    # the survivors of the redelivered span (50..99) are the FIRST delivery;
    # only the genuinely-new span (100..149) carries the attempt-2 counter
    assert got.filter((F.col("event_id") < 100) & (F.col("attempt") == 2)).count() == 0
    assert got.filter(F.col("attempt") == 2).count() == 50


def test_streaming_session_window_matches_batch(spark, tmpdir):
    """session_window under readStream + watermark must emit exactly the
    sessions the batch construction computes on the same data — the
    streaming-capable form of user_sessions/session_window_native."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    ev = spark.range(300).select(
        (F.col("id") % 7).alias("user_id"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         # irregular gaps: mostly dense, a >30min hole every 9th event per user
         + F.make_interval(secs=F.col("id") * 60 + (F.col("id") % 9) * 2400)).alias("ts"),
    )
    ev.coalesce(1).write.parquet(src, mode="append")

    def sessions(df):
        return (
            df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("user_id", F.col("sw.start").alias("s"), F.col("sw.end").alias("e"), "n")
        )

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        sessions(watermarked(stream, "1 minute", ts_col="ts"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode holds back sessions the watermark hasn't closed; push a
    # far-future (but in-bounds) heartbeat through the SAME checkpoint to
    # close them all
    spark.createDataFrame(
        [(999, "2030-01-01 00:00:00")], "user_id long, ts string"
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts")).coalesce(1).write.parquet(src, mode="append")
    q2 = (
        sessions(watermarked(stream, "1 minute", ts_col="ts"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = sorted(
        map(tuple, spark.read.parquet(out_dir).filter(F.col("user_id") < 7).collect())
    )
    want = sorted(map(tuple, sessions(ev).collect()))
    assert got == want and len(want) > 7  # multiple sessions per user


def test_streaming_sliding_window_matches_batch(spark, tmpdir):
    """The sliding-window aggregation (sliding_window_activity's operator)
    must emit identical windows under readStream + watermark as in batch."""
    src = os.path.join(tmpdir, "in")
    out_dir = os.path.join(tmpdir, "sink")
    ckpt = os.path.join(tmpdir, "ckpt")
    os.makedirs(src)

    ev = spark.range(500).select(
        (F.col("id") % 3).alias("grp"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 17)).alias("ts"),
    )
    ev.coalesce(1).write.parquet(src, mode="append")

    def slid(df):
        return (
            df.groupBy(F.window("ts", "10 minutes", "150 seconds").alias("w"), "grp")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_micros("w.start").alias("ws_us"), "grp", "n")
        )

    stream = spark.readStream.schema("grp long, ts timestamp").parquet(src)
    def drain():
        q = (
            slid(watermarked(stream, "1 minute", ts_col="ts"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    spark.createDataFrame([(99, "2030-01-01 00:00:00")], "grp long, ts string").select(
        "grp", F.col("ts").cast("timestamp").alias("ts")
    ).coalesce(1).write.parquet(src, mode="append")
    drain()  # far-future heartbeat closes every pending window

    got = sorted(map(tuple, spark.read.parquet(out_dir).filter(F.col("grp") < 3).collect()))
    want = sorted(map(tuple, slid(ev).collect()))
    assert got == want and len(want) > 10


def test_retry_exhaustion_lands_in_dlq(spark, tmpdir):
    """S7 terminal path: a message that keeps failing cycles through the
    retry table until attempt reaches max_attempts, then lands in the DLQ —
    and never re-enters the retry loop."""
    router = RetryRouter(
        sink_path=os.path.join(tmpdir, "sink"),
        retry_path=os.path.join(tmpdir, "retry"),
        dlq_path=os.path.join(tmpdir, "dlq"),
        redelivery_delay_s=0,
        max_attempts=3,
    )
    batch = spark.createDataFrame(
        [("m-ok", 1, True), ("m-bad", 1, False)],
        "message_id string, attempt long, ok boolean",
    )
    router.route_batch(batch, batch_id=1)
    # delivery cycles: re-feed due retries as still-failing until DLQ
    for cycle in range(2, 6):
        due = router.due_retries(spark, as_of="2100-01-01 00:00:00")
        if not due.count():
            break
        router.route_batch(
            due.drop("available_at", "_batch_id").withColumn("ok", F.lit(False)),
            batch_id=cycle,
        )

    dlq = spark.read.parquet(router.dlq_path)
    assert [r.message_id for r in dlq.collect()] == ["m-bad"]
    assert dlq.first().attempt == 3  # exhausted exactly at max_attempts
    # the retry ledger keeps history, but the delivery frontier is empty:
    # latest-attempt-only + DLQ exclusion stop any further redelivery
    assert router.due_retries(spark, as_of="2100-01-01 00:00:00").count() == 0
    assert spark.read.parquet(router.sink_path).count() == 1  # just m-ok


def test_streaming_throughput_bench_pipeline(spark):
    """tools/bench_streaming.py end-to-end smoke at tiny scale: the sink
    must account for every seeded message across both outcome feeds and
    the measured rate must be positive — keeps the published throughput
    tool from rotting as the pipeline pieces evolve."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "bench_streaming.py"
    spec = importlib.util.spec_from_file_location("bench_streaming", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    result = mod.run(spark, n_messages=2000, seed_files=4)
    assert result["acked"] + result["nacked"] == 2000
    assert result["nacked"] == 200  # deterministic failure_mod=10
    assert result["value"] > 0


def test_streaming_ordered_bench_pipeline(spark):
    """run_ordered smoke: exact sink accounting and a gap-free per-key
    cursor through the grouped-stateful path at tiny scale."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "bench_streaming.py"
    spec = importlib.util.spec_from_file_location("bench_streaming_ord", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    result = mod.run_ordered(spark, n_messages=2000, n_keys=16)
    assert result["messages"] == 2000
    assert result["value"] > 0


def test_streaming_windowed_bench_pipeline(spark):
    """run_windowed smoke: the watermarked (guarded-by-default) window path
    must account for every legitimate message while excluding the seeded
    year-9999 poison row — the bench doubles as a scale check of the
    watermarked() front door."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "bench_streaming.py"
    spec = importlib.util.spec_from_file_location("bench_streaming_win", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    result = mod.run_windowed(spark, n_messages=2000)
    assert result["messages"] == 2000
    assert result["poisoned_rows_excluded"] == 1
    assert result["value"] > 0


def test_ttl_fn_clamps_expiry_lapses_and_recursors_fresh():
    """The EventTimeTimeout state function over a scripted timeline:
    normal progress, an older in-watermark batch (the running-max clamp —
    expiry must NOT move backwards), a watermark-driven lapse, and a
    post-lapse redelivery announced as a fresh cursor."""
    from pulsar_pekko_streams_example_spark.streaming import ordered_state as OS

    TTL = 3_600_000  # 1 h

    def ms(h, m=0):
        return int(pd.Timestamp(2024, 1, 1, h, m).value // 1_000_000)

    class _FakeTTLGroupState:
        def __init__(self):
            self._v, self.timeout, self.wm, self.hasTimedOut = None, None, 0, False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.timeout = None, None

        def getCurrentWatermarkMs(self):  # noqa: N802
            return self.wm

        def setTimeoutTimestamp(self, t):  # noqa: N802
            self.timeout = t

    # (rows, watermark_ms): progress @4:00 → OLDER in-watermark batch @3:00
    # (clamp) → lapse past 5:00 + post-lapse redelivery of seq 2 @6:00
    script = [
        ([("a1", 1, 1, pd.Timestamp(2024, 1, 1, 4)),
          ("a2", 2, 1, pd.Timestamp(2024, 1, 1, 4))], 0),
        ([("a3", 3, 1, pd.Timestamp(2024, 1, 1, 3))], ms(2)),
        ([("a2-redux", 2, 2, pd.Timestamp(2024, 1, 1, 6))], ms(5, 1)),
    ]

    fn = OS._make_ttl_fn(TTL, "publish_time")
    state = _FakeTTLGroupState()
    frames, expiries, lapses = [], [], 0
    for rows, wm in script:
        # engine simulation: before a batch at watermark `wm`, a key whose
        # timeout the watermark has passed gets the lapse callback
        if state.exists and state.timeout is not None and wm > state.timeout:
            state.hasTimedOut = True
            assert list(fn(("k1",), iter([]), state)) == []
            state.hasTimedOut = False
            assert not state.exists
            lapses += 1
        state.wm = wm
        pdf = pd.DataFrame(rows, columns=["message_id", "seq", "attempt", "publish_time"])
        frames.extend(fn(("k1",), iter([pdf]), state))
        expiries.append(state.timeout)
    out = pd.concat(frames, ignore_index=True)

    # the running-max clamp held: the older batch did NOT pull expiry back
    assert expiries == [ms(5), ms(5), ms(7)]
    assert lapses == 1
    # the lapse actually happened and the redelivery re-cursored fresh
    redux = out[out["message_id"] == "a2-redux"]
    assert bool(redux["fresh_cursor"].iloc[0])
    assert not bool(redux["is_redelivery"].iloc[0])
    assert bool(redux["in_order"].iloc[0])
    # pre-lapse rows rode one continuous cursor: only the first batch fresh
    assert list(out["fresh_cursor"]) == [True, True, False, True]


def test_processing_index_restarts_at_zero_after_ttl_lapse():
    """The documented (key, processing_index) contract across a TTL lapse
    (round-11 pin): the counter lives in the very state the TTL drops, so
    a post-expiry arrival restarts at 0 — NOT a continuation — and the
    collision with pre-lapse indexes is observable via fresh_cursor, the
    epoch delimiter downstream must use.  Driven expire→redeliver through
    the same EventTimeTimeout function the streaming query runs."""
    from pulsar_pekko_streams_example_spark.streaming import ordered_state as OS

    TTL = 3_600_000  # 1 h

    def ms(h):
        return int(pd.Timestamp(2024, 1, 1, h).value // 1_000_000)

    class _FakeTTLGroupState:
        def __init__(self):
            self._v, self.timeout, self.wm, self.hasTimedOut = None, None, 0, False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v, self.timeout = None, None

        def getCurrentWatermarkMs(self):  # noqa: N802
            return self.wm

        def setTimeoutTimestamp(self, t):  # noqa: N802
            self.timeout = t

    fn = OS._make_ttl_fn(TTL, "publish_time")
    state = _FakeTTLGroupState()

    def feed(rows, wm):
        state.wm = wm
        pdf = pd.DataFrame(
            rows, columns=["message_id", "seq", "attempt", "publish_time"]
        )
        return pd.concat(fn(("k1",), iter([pdf]), state), ignore_index=True)

    # three messages on one cursor: indexes 0,1,2
    first = feed(
        [(f"a{i}", i, 1, pd.Timestamp(2024, 1, 1, 4)) for i in range(3)], 0
    )
    assert list(first["processing_index"]) == [0, 1, 2]
    assert list(first["fresh_cursor"]) == [True] * 3

    # the watermark passes expiry (4:00 + 1h): the engine fires the lapse
    assert state.timeout == ms(5)
    state.hasTimedOut = True
    assert list(fn(("k1",), iter([]), state)) == []  # emits nothing
    state.hasTimedOut = False
    assert not state.exists  # cursor AND index dropped together

    # post-lapse redelivery of seq 1: index RESTARTS at 0 — a collision
    # with the pre-lapse rows — flagged by fresh_cursor, and the stale seq
    # reads as a first delivery (the documented lapse trade-off)
    redux = feed([("a1-redux", 1, 2, pd.Timestamp(2024, 1, 1, 6))], ms(5) + 1)
    assert list(redux["processing_index"]) == [0]
    assert list(redux["fresh_cursor"]) == [True]
    assert list(redux["is_redelivery"]) == [False]
    # and the fresh epoch keeps counting serially from there
    more = feed([("a2-redux", 2, 2, pd.Timestamp(2024, 1, 1, 6))], ms(5) + 1)
    assert list(more["processing_index"]) == [1]
    assert list(more["fresh_cursor"]) == [False]
