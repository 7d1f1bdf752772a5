"""Registry-wide physical-plan census gate (VERDICT r16 ask #7).

The committed census (plans/r*/plan_census.tsv, newest round wins) pins one
row of operator counts per query — Exchange / join-strategy / Window / scan /
pushdown counts at sf0.001.  This test recomputes every row and diffs it
±0 against the file, so a restructure that silently forks a subtree (the
exact failure mode the ann_method_recall_matrix ledger warns about: reuse
requires exact canonical equality, and ANY per-branch drift replants a
corpus arm) fails CI with the per-query delta instead of shipping.

Deliberate contract: a plan-shape CHANGE is not a bug — it is a decision.
When a round changes a query's plan on purpose, regenerate the census
(python tools/plan_census.py plans/r<NN>/plan_census.tsv) and commit it with
the change; the diff then documents exactly which queries moved.
"""

from __future__ import annotations

import glob
import os
import re

from pulsar_pekko_streams_example_spark.plans import REGISTRY

from tests.conftest import SF_SMOKE
from tools.plan_census import COLUMNS, census_rows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_census() -> str:
    # numeric round order: lexicographically "r100" would sort before "r99"
    paths = sorted(
        glob.glob(os.path.join(REPO, "plans", "r*", "plan_census.tsv")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.relpath(p, REPO))[1]),
    )
    assert paths, "no committed plans/r*/plan_census.tsv found"
    return paths[-1]


def test_registry_plan_census_matches_committed_tsv(spark):
    path = _newest_census()
    with open(path) as fh:
        header = fh.readline().rstrip("\n").split("\t")
        assert tuple(header) == COLUMNS, (header, COLUMNS)
        pinned = {}
        for line in fh:
            parts = line.rstrip("\n").split("\t")
            pinned[parts[0]] = tuple(int(x) for x in parts[1:])

    assert set(pinned) == set(REGISTRY), (
        "registry and census disagree on the query set — regenerate "
        f"{path} (missing: {sorted(set(REGISTRY) - set(pinned))}, "
        f"stale: {sorted(set(pinned) - set(REGISTRY))})"
    )

    diffs = []
    # census_rows resets the shared-subtree cache before every row: a
    # query's census must not depend on which OTHER tests/queries ran
    # before it in this session (cached subtrees swap scan chains for
    # InMemoryTableScan pairs), and operators inside InMemoryRelation are
    # excluded (cached snapshots embed racy runtime-AQE state) — see the
    # determinism contract in tools/plan_census.py.
    for name, got in census_rows(spark, sorted(REGISTRY), SF_SMOKE):
        if got != pinned[name]:
            delta = {
                col: f"{want} -> {have}"
                for col, want, have in zip(COLUMNS[1:], pinned[name], got)
                if want != have
            }
            diffs.append((name, delta))
    assert not diffs, (
        f"{len(diffs)} queries drifted from {os.path.relpath(path, REPO)} "
        "(intentional? regenerate the census and commit it with the "
        f"change): {diffs}"
    )
