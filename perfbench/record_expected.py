"""Record the expected outputs that ``registry_mix`` checks.

    python3 perfbench/record_expected.py

Runs the workload's query subset (see ``select``) in
two fresh sessions with different submission orders, and writes each query's
row count and content hash to ``registry_expected.json``.  A query whose hash
differs between the two passes is stored with ``hash: null`` (checked on its
row count only); give the reason in ``hash_unstable_reason``.
"""

from __future__ import annotations

import json
import random
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import harness, registry_mix  # noqa: E402
from perfbench.run import stop_engine  # noqa: E402

STRIDE = 16
OFFSET = 3


def select(registry) -> list[str]:
    """Every STRIDE-th query of each registry module, by name, starting at
    index OFFSET (modulo the module's size): each module is represented and
    an Arrow ``mapInPandas`` query is in."""
    modules: dict[str, list[str]] = {}
    for name, spec in registry.items():
        modules.setdefault(spec.build.__module__.rsplit(".", 1)[-1], []).append(name)
    out = []
    for names in modules.values():
        names = sorted(names)
        out += names[OFFSET % len(names)::STRIDE]
    return sorted(out)


def main() -> int:
    harness.require_package()
    work = harness.prepare_run_dir("record", 0)
    import pulsar_pekko_streams_example_spark.plans  # noqa: F401
    from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY

    names = select(REGISTRY)
    old = {}
    if registry_mix.EXPECTED_PATH.exists():
        old = registry_mix.load_expected()
    passes, spark = [], None
    try:
        for seed in (1, 2):
            if spark is not None:
                spark.stop()
            spark = harness.start_session(f"perfbench-record-{seed}", work)
            order = list(names)
            random.Random(seed).shuffle(order)
            with harness.query_listener(spark, registry_mix.OBS_PREFIX, False) as lst:
                records, _ = registry_mix.run_loop(spark, order, harness.CPUS)
                lst.wait_for([r["obs"] for r in records], 60)
            bad = {r["name"]: r["error"] for r in records if "error" in r}
            if bad:
                print(json.dumps(bad, indent=1), file=sys.stderr)
                return 1
            passes.append({r["name"]: lst.seen[r["obs"]][r["obs"]] for r in records})
    finally:
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)
    out = {}
    for n in names:
        (r1, h1), (r2, h2) = passes[0][n], passes[1][n]
        if r1 != r2:
            print(f"{n}: row count differs between passes ({r1} vs {r2})", file=sys.stderr)
            return 1
        entry = {"module": REGISTRY[n].build.__module__.rsplit(".", 1)[-1],
                 "rows": int(r1), "hash": h1 if h1 == h2 else None}
        if entry["hash"] is None:
            entry["hash_unstable_reason"] = old.get(n, {}).get(
                "hash_unstable_reason", "hash differed between two recording passes")
        out[n] = entry
    registry_mix.EXPECTED_PATH.write_text(json.dumps(
        {"sf_dir": "perfbench/data/sf0.001",
         "selection": f"per module, sorted names[{OFFSET} % size::{STRIDE}]",
         "queries": out}, indent=1, sort_keys=True) + "\n")
    print(f"recorded {len(out)} queries, "
          f"{sum(e['hash'] is None for e in out.values())} checked on rows only")
    return 0


if __name__ == "__main__":
    sys.exit(main())
