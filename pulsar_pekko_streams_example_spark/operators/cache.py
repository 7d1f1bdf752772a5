"""Session-scoped materialization cache for subtrees shared across queries.

Several registry queries are stages of ONE logical pipeline over the same
corpus: shingle postings feed exact-Jaccard, MinHash-LSH and near-dup
clustering; hyperplane signature bands feed both embedding near-dup and
bucketed ANN; the SimHash fingerprint table feeds the fingerprint report and
the hamming histogram.  Run standalone, each query re-derives the subtree —
correct, but when one session runs many registry queries over the same data
(the bench, the driver's correctness sweep, a real curation run) the same
corpus-wide fan-out is recomputed per consumer.

``shared_df`` memoizes and persists such a subtree once per (application,
key): the first caller materializes it (MEMORY_AND_DISK — corpus-scale
entries like the posting list spill instead of evicting), every later
caller — including concurrently scheduled queries on other threads — reuses
the cached partitions.  This is the Spark-idiomatic equivalent of the
staging tables a production multi-consumer pipeline checkpoints between
stages: in a sequential curation run you materialize exactly these (posting
lists, signatures, verified pair sets) once and fan consumers out from
them, not re-derive them per query.

Keys embed the dataset directory and the operator parameters, so different
scale factors or thresholds never collide.  Entries live for the Spark
application; re-running a query in the same session is a cache read.

**Deliberately NOT wired into the registry queries for corpus-scale
subtrees.**  Measured on the concurrent FAIR-pool bench at sf0.1
(local[32]): wiring shared subtrees into the dedup/similarity queries
REGRESSED makespan ~20s → ~27-33s across every variant tried (full
posting-list cache; small-outputs-only cache; 8 and 16 worker threads).
Re-measured at 152 queries / 28 workers (round 3, after the consumer count
doubled): sharing the raw posting list across its 8 consumers was at best
neutral (median 34.7s shared vs 32.0s unshared over 4+3 runs) — under a
saturated mix the persist barrier idles waiting consumers for exactly as
long as the redundant recompute would have taken, and the cached-partition
reads are not free.  The conclusion stands: share small OUTPUTS (hot set,
verified pairs, CC labels), recompute corpus-scale subtrees.  Under saturated concurrency the redundant
recompute overlaps with other queries' work anyway, while the cache adds a
persist/serialization barrier (breaking scan→explode codegen fusion), a
build lock that idles waiting consumers, and removes none of the dominant
shuffle-join cost.  Use ``shared_df`` where it wins: a *sequential* or
low-concurrency multi-consumer pipeline (one curation run fanning out into
report + clustering + sampling stages) over data large enough that the
subtree recompute, not the downstream shuffles, dominates.
"""

from __future__ import annotations

import threading
from typing import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_REGISTRY_LOCK = threading.Lock()
_BUILT: dict[tuple, object] = {}
_BUILDING: dict[tuple, threading.Lock] = {}
#: bumped by ``reset()``: a build that started before a reset must not
#: store its (pre-reset) result after it
_GENERATION = 0


def shared_obj(
    spark: SparkSession,
    key: tuple[Hashable, ...],
    build: Callable[[], object],
) -> object:
    """Return the memoized build result for ``key``, building it on first use.

    Builds run under a per-key lock: concurrent queries needing the same
    entry wait for one build instead of racing to compute it.  Distinct
    keys build concurrently.  The builder is responsible for
    materialization — e.g. the BPE merge chain's ``(words, sym, tops)``,
    whose frames are eagerly checkpointed by the build itself.

    A build that straddles a ``reset()`` is returned to its caller but not
    stored, so the next caller rebuilds — ``reset()`` forgets every entry,
    including one whose build was in flight.
    """
    full_key = (spark.sparkContext.applicationId,) + key
    with _REGISTRY_LOCK:
        if full_key in _BUILT:
            return _BUILT[full_key]
        key_lock = _BUILDING.setdefault(full_key, threading.Lock())
    with key_lock:
        with _REGISTRY_LOCK:
            if full_key in _BUILT:
                return _BUILT[full_key]
            generation = _GENERATION
        obj = build()
        with _REGISTRY_LOCK:
            if generation == _GENERATION:
                _BUILT[full_key] = obj
    return obj


def shared_df(
    spark: SparkSession,
    key: tuple[Hashable, ...],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """``shared_obj`` whose builder persists (MEMORY_AND_DISK) and counts
    the DataFrame, so waiting queries reuse the cached partitions instead
    of racing to compute them."""

    def materialize() -> DataFrame:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        return df

    return shared_obj(spark, key, materialize)


def reset(spark: SparkSession) -> None:
    """Unpersist and forget every shared entry built by this application.

    Measurement hook, not a production path: the bench's sequential pass
    re-times each warm build contention-free AFTER the concurrent mix, and
    a cache hit would measure the memo (microseconds) instead of the build.
    Dropping the entries in dependency-agnostic bulk is safe because the
    builds re-memoize on next call.  A DataFrame entry whose build
    straddles the reset is not stored, so its persisted partitions stay
    with its caller until the application ends.

    ``_BUILDING`` locks are deliberately LEFT IN PLACE: a concurrent caller
    may hold (or be queued on) a key's lock, and popping it would hand the
    next caller a fresh lock for the same key — two threads would then
    build the same entry at once.  The few retained Lock objects are
    trivially small.  Eviction blocks so a re-timed rebuild that starts
    right after reset() never overlaps the old partitions' eviction I/O.
    Checkpointed blocks inside dropped tuple entries are reclaimed by the
    ContextCleaner once unreferenced."""
    global _GENERATION
    app_id = spark.sparkContext.applicationId
    with _REGISTRY_LOCK:
        _GENERATION += 1
        dropped = [_BUILT.pop(k) for k in [k for k in _BUILT if k[0] == app_id]]
    for obj in dropped:
        if isinstance(obj, DataFrame):
            obj.unpersist(blocking=True)
