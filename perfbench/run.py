"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a checkout and prints, as the last line of
stdout, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of ``BENCHMARK.json`` when ``--trace 0``,
its per-layer metrics when ``--trace 1``.  The line before it carries the run
stamp (cpus, commit, sf, seed, hypervisor steal, load average) and the
workload's detail.  A traced run also writes its spans, per-layer metrics and
tracing overhead to ``.perfbench_out/trace-<workload>-s<seed>.json``.

Exit status: 0 when every output check passed, 1 when one failed (the result
line is still printed), 2 when the run could not be set up or measured (no
result line).  ``--smoke`` runs the workload at a tiny size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness  # noqa: E402

WORKLOADS = ("registry_mix", "stream_mix")


def load_catalogue() -> tuple[dict[str, str], dict[str, str]]:
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layers


def run_workload(name: str, seed: int, seconds: int, trace: bool, work: Path,
                 smoke: bool, tracer: harness.Tracer) -> dict:
    if name == "registry_mix":
        from perfbench import registry_mix

        return registry_mix.run(seed, seconds, trace, work, smoke, tracer)
    from perfbench import streams

    return streams.run(seed, seconds, trace, work, smoke, tracer)


def stop_engine(spark) -> None:
    """Stop the session, the gateway JVM and the Python workers under it,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers: list[int] = []
    if proc is not None:
        kids = harness._children_index()
        todo = list(kids.get(proc.pid, ()))
        while todo:
            pid = todo.pop()
            workers.append(pid)
            todo.extend(kids.get(pid, ()))
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 15
    for pid in workers:
        while True:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    try:
        harness.require_package()
        e2e_units, layer_units = load_catalogue()
    except (harness.BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    steal0, t_run = harness.steal_jiffies(), time.monotonic()
    work = harness.prepare_run_dir(args.workload, args.seed)
    tracer = harness.Tracer(enabled=trace)
    spark = None
    try:
        with harness.RssSampler() as rss:
            res = run_workload(args.workload, args.seed, args.seconds, trace, work,
                               args.smoke, tracer)
            spark = res.pop("spark")
        res["detail"]["peak_rss_mb"] = rss.peak_mb
        res.setdefault("layers", {})["resources.peak_rss_mb"] = rss.peak_mb
        stamp = harness.stamp(args.seed, res.pop("sf"), steal0, t_run)
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 2
    finally:
        if spark is not None:
            stop_engine(spark)
        else:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                stop_engine(active)
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(e2e_units) - set(res["metrics"]))
    if missing:
        print(f"perfbench: workload produced no value for {missing}", file=sys.stderr)
        return 2
    correct = res["failed"] == 0 and not res.get("check_errors")
    detail = {
        "workload": args.workload,
        "trace": trace,
        "stamp": stamp,
        "end_to_end": {k: res["metrics"][k] for k in e2e_units},
        "check_errors": res.get("check_errors", []),
        "failures": dict(list(res.get("failures", {}).items())[:20]),
        **res["detail"],
    }
    out = harness.OUT_DIR
    if trace:
        layers = {k: float(res.get("layers", {}).get(k, 0.0)) for k in layer_units}
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layers.items()}
        last = out / f"last-{args.workload}.json"
        base = json.loads(last.read_text())["end_to_end"] if last.exists() else None
        overhead = (
            {k: res["metrics"][k] - base[k] for k in e2e_units if k in base}
            if base else None
        )
        harness.write_json(out / f"trace-{args.workload}-s{args.seed}.json", {
            **detail,
            "per_layer": layers,
            "tracing_overhead": overhead,
            "self_time_s": tracer.self_times(),
            "spans": tracer.spans,
        })
        detail["tracing_overhead"] = overhead
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in e2e_units.items()}
        harness.write_json(out / f"last-{args.workload}.json", detail)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
