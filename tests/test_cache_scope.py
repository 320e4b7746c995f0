"""Cache lifetime under `cache.scoped`: each caching query reads its cache
through any projection, never aliases another invocation's entry, and
leaves no cache behind once its frame is dropped or its call fails.

Only NAMED persistent RDDs are counted: those are Dataset caches. The
`localCheckpoint` RDDs of cluster_pairs_distributed have no name and are
owned by Spark's ContextCleaner."""

import gc

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gis_scripts_spark import cache
from gis_scripts_spark import queries as Q
from gis_scripts_spark.geom import wkb as wkb_mod
from gis_scripts_spark.operators import coverage_join as cj
from gis_scripts_spark.operators import dedup, knn

SF_DIR = "/root/testdata/sf0.001"  # TESTDATA.md


def _cached(spark) -> set[int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k, r in rdds.items() if r.name() is not None}


def _settled(spark) -> set[int]:
    gc.collect()
    return _cached(spark)


def _jobs(spark, df) -> int:
    """Spark jobs run by one action on `df`."""
    sc = spark.sparkContext
    group = f"cache-scope-{id(df)}"
    sc.setJobGroup(group, "job count")
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _customers(spark):
    return Q.derived_lonlat(Q._pq(spark, SF_DIR, "customer"), "c_custkey")


def _knn(spark):
    pts = _customers(spark)
    return knn.knn_join(pts, pts, k=5, z=6, point_id="c_custkey",
                        query_id="c_custkey", exclude_self=True)


def _minhash(spark):
    return dedup.minhash_lsh_pairs(Q._pq(spark, SF_DIR, "documents"))


@pytest.mark.parametrize(
    "name",
    ["knn_k5", "minhash_lsh_pairs", "simhash_pairs", "dedup_clusters", "coverage_join"],
)
def test_query_reads_cache_and_releases_it(spark, name):
    base = _settled(spark)
    df = Q.QUERIES[name](spark, SF_DIR)
    df.collect()
    if name != "dedup_clusters":
        # dedup_clusters reads its signature cache only in the eager edges
        # checkpoint inside the call; its returned plan starts at a checkpoint
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    assert _cached(spark) - base, "no cache was materialized"
    del df
    assert _settled(spark) == base


@pytest.mark.parametrize("make", [_minhash, _knn], ids=["minhash_lsh_pairs", "knn_join"])
def test_invocations_never_share_a_cache_entry(spark, make):
    base = _settled(spark)
    first = make(spark)
    first.collect()
    mine = _cached(spark) - base
    second = make(spark)
    rows = sorted(second.collect())
    theirs = _cached(spark) - base - mine
    assert mine and theirs, "the second call reused the first call's cache"
    del first
    assert _settled(spark) - base == theirs
    assert sorted(second.collect()) == rows
    del second
    assert _settled(spark) == base


def test_projection_keeps_operator_caches(spark):
    @cache.scoped
    def projected():
        return _knn(spark).select("query_id", "neighbor_id", "rank")

    held = _knn(spark)
    held_jobs = _jobs(spark, held)
    proj_jobs = _jobs(spark, projected())
    assert proj_jobs <= held_jobs, (proj_jobs, held_jobs)


def test_coverage_join_auto_releases_candidates(spark):
    boxes = [(i, -30.0 + 3 * i, -20.0 + 2 * i) for i in range(30)]
    fp = spark.createDataFrame(pd.DataFrame({
        "image_id": [f"fp_{i}" for i, _, _ in boxes],
        "wkb": [bytes(wkb_mod.bbox_to_wkb(x, y, x + 5.0, y + 4.0)) for _, x, y in boxes],
    }))
    rects = spark.createDataFrame(pd.DataFrame({
        "aoi_id": ["a0", "a1"],
        "x_min": [-25.0, 10.0], "y_min": [-25.0, 0.0],
        "x_max": [5.0, 60.0], "y_max": [5.0, 50.0],
    }))
    base = _settled(spark)
    out = cj.coverage_join(fp, rects, z=5, broadcast_candidates="auto")
    assert out.count() > 0
    del out
    assert _settled(spark) == base


def test_scope_releases_on_failure(spark):
    @cache.scoped
    def failing():
        df = cache.persist(spark.range(1000).withColumn("v", F.col("id") * 2))
        df.count()
        return df.select(F.raise_error(F.lit("boom"))).collect()

    base = _settled(spark)
    with pytest.raises(Exception, match="boom"):
        failing()
    assert _cached(spark) == base
