"""Workload ``registry_mix``: the batch query surface under a closed loop.

A fixed subset of the query registry (every sixteenth query of each module,
listed in ``registry_expected.json`` with its expected row count and content
hash) runs in a fresh session, so ``operators.cache`` starts empty.  Four
clients, one per core, each take the next query from a seeded shuffle of the
subset and materialise it (noop write) before taking another; the list is
two passes over the subset, each in its own seeded order, so every query
runs exactly twice (cold, then warm).  Each client submits into its own FAIR
pool, set up with ``permits.fair_scheduler_confs`` and ``permits.use_pool``.
The run's length is set by the subset, not by ``--seconds``.

Output check: the materialising job carries an ``observe`` with the row count
and an order-insensitive content hash (sum of per-row xxhash64 of the row's
JSON), compared with the stored expected values.
"""

from __future__ import annotations

import json
import random
import threading
import time

from perfbench import harness

SF = 0.001
SF_DIR = str(harness.BENCH_DIR / "data" / "sf0.001")
EXPECTED_PATH = harness.BENCH_DIR / "registry_expected.json"
OBS_PREFIX = "perfbench_q_"
PASSES = 2
#: queries of a smoke run (one pass)
SMOKE_QUERIES = 4


def load_expected() -> dict:
    return json.loads(EXPECTED_PATH.read_text())["queries"]


def observed(df, obs_name: str):
    """Attach the row count and content hash to the materialising job."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    row_hash = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(20,0)")
    return df.observe(
        obs_name,
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash).alias("content_hash"),
    )


def run_loop(spark, names: list[str], clients: int) -> tuple[list[dict], float]:
    """Closed loop: ``clients`` threads take queries from ``names`` in order,
    one at a time each, until the list is exhausted.  Returns one record per
    execution and the loop's start (epoch seconds)."""
    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY
    from pulsar_pekko_streams_example_spark.streaming.permits import use_pool

    lock = threading.Lock()
    cursor = [0]
    records: list[dict] = []
    sc = spark.sparkContext
    t0 = time.time()

    def take() -> tuple[int, str] | None:
        with lock:
            i = cursor[0]
            if i >= len(names):
                return None
            cursor[0] += 1
            return i, names[i]

    def client(c: int) -> None:
        use_pool(spark, f"client-{c}")
        while (job := take()) is not None:
            i, name = job
            rec = {"name": name, "obs": f"{OBS_PREFIX}{name}__{i}", "client": c,
                   "start": time.time()}
            sc.setJobGroup(rec["obs"], name)
            try:
                df = REGISTRY[name].build(spark, SF_DIR)
                rec["built"] = time.time()
                observed(df, rec["obs"]).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing query is data
                rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
            rec["end"] = time.time()
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}")
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, t0


def check(records: list[dict], listener, expected: dict) -> dict[str, str]:
    """Failure reason per failed execution (empty when every output matches)."""
    failures: dict[str, str] = {}
    for rec in records:
        name, obs = rec["name"], rec["obs"]
        if "error" in rec:
            failures[obs] = rec["error"]
            continue
        got = listener.seen.get(obs, {}).get(obs)
        if got is None:
            failures[obs] = "no observed metrics arrived"
            continue
        rows, content_hash = int(got[0]), got[1]
        want = expected[name]
        if rows != want["rows"]:
            failures[obs] = f"rows {rows} != expected {want['rows']}"
        elif want["hash"] is not None and content_hash != want["hash"]:
            failures[obs] = f"content hash {content_hash} != expected {want['hash']}"
    return failures


def layer_metrics(spark, records: list[dict], listener, tracer, expected: dict) -> dict:
    """Per-layer split of the loop, per query and per registry module."""
    layers: dict[str, float] = {}

    def add(key: str, value: float) -> None:
        layers[key] = layers.get(key, 0.0) + value

    group_jobs: list[int] = []
    tracker = spark.sparkContext.statusTracker()
    for rec in records:
        name = rec["name"]
        module = expected[name]["module"]
        qid = tracer.add("query", rec["start"], rec["end"], None, query=name, module=module)
        built = rec.get("built", rec["end"])
        tracer.add("plans.build", rec["start"], built, qid)
        wid = tracer.add("write", built, rec["end"], qid)
        phases = listener.seen.get(rec["obs"], {}).get("_phases", {})
        catalyst = 0.0
        for phase, (lo_ms, hi_ms) in phases.items():
            lo, hi = max(lo_ms / 1000.0, built), min(hi_ms / 1000.0, rec["end"])
            tracer.add(f"catalyst.{phase}", lo_ms / 1000.0, hi_ms / 1000.0, wid)
            add(f"catalyst.{phase}_s", (hi_ms - lo_ms) / 1000.0)
            catalyst += max(0.0, hi - lo)
        build_s = built - rec["start"]
        execute_s = max(0.0, (rec["end"] - built) - catalyst)
        add("plans.build_s", build_s)
        add(f"plans.{module}.build_s", build_s)
        add(f"catalyst.{module}_s", catalyst)
        add("jvm.execute_s", execute_s)
        add(f"jvm.{module}.execute_s", execute_s)
        group_jobs.extend(tracker.getJobIdsForGroup(rec["obs"]))
    for key, value in harness.jvm_totals(spark, group_jobs).items():
        layers[f"jvm.{key}"] = value
    return layers


def run(seed: int, seconds: int, trace: bool, work, smoke: bool, tracer) -> dict:
    t_setup = time.monotonic()
    import pulsar_pekko_streams_example_spark.plans  # noqa: F401  (registers queries)
    from pulsar_pekko_streams_example_spark.streaming.permits import (
        PermitConfig,
        fair_scheduler_confs,
    )

    clients = harness.CPUS
    permits = PermitConfig(
        global_permit_limit=clients,
        pools=tuple((f"client-{i}", 1, 1) for i in range(clients)),
    )
    spark = harness.start_session("perfbench-registry_mix", work,
                                  fair_scheduler_confs(permits))
    spark.range(1).count()
    setup_s = time.monotonic() - t_setup

    expected = load_expected()
    rng = random.Random(seed)
    names = []
    for _ in range(1 if smoke else PASSES):
        order = sorted(expected)
        rng.shuffle(order)
        names += order[:SMOKE_QUERIES] if smoke else order
    with harness.query_listener(spark, OBS_PREFIX, phases=trace) as listener:
        records, t0 = run_loop(spark, names, clients)
        t1 = max(r["end"] for r in records)
        listener.wait_for([r["obs"] for r in records if "error" not in r], 60)
    failures = check(records, listener, expected)
    walls = [r["end"] - r["start"] for r in records]
    result = {
        "attempted": len(records),
        "failed": len(failures),
        "failures": failures,
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": len(walls) / (t1 - t0),
            "latency_mean_s": sum(walls) / len(walls),
        },
        "detail": {
            "executions": len(records),
            "distinct_queries": len({r["name"] for r in records}),
            "latency_p50_s": harness.median(walls),
            "latency_p90_s": harness.p90(walls),
            "latency_samples": len(walls),
            "clients": clients,
            "listener_errors": listener.errors,
            "walls_s": [[r["name"], round(r["end"] - r["start"], 3)] for r in records],
        },
        "sf": SF,
        "spark": spark,
    }
    if trace:
        result["layers"] = layer_metrics(spark, records, listener, tracer, expected)
    return result
