"""The package's one caching primitive (``session.persisted`` /
``session.materialized``): it releases what it caches, coalesces only its
own cached plans, and is the only place that persists."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from datawarehousefinal_spark.session import (
    materialized,
    persisted,
    scoped_shuffle_partitions,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "datawarehousefinal_spark"
CACHED_PLAN_KEY = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _tiny_agg(spark):
    return (
        spark.range(300)
        .withColumn("k", F.col("id") % 3)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_materialized_releases_on_exit(spark):
    spark.catalog.clearCache()
    with materialized(_tiny_agg(spark)) as df:
        assert not _cache_empty(spark)
        assert df.count() == 3
    assert _cache_empty(spark)


def test_materialized_releases_when_body_raises(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="boom"):
        with materialized(_tiny_agg(spark)) as df:
            df.count()
            raise RuntimeError("boom")
    assert _cache_empty(spark)


def test_materialized_leaves_a_cached_frame_to_its_owner(spark):
    spark.catalog.clearCache()
    owned = persisted(_tiny_agg(spark))
    with materialized(owned) as df:
        assert df is owned
        df.count()
    assert not _cache_empty(spark)
    owned.unpersist()
    assert _cache_empty(spark)


def test_persisted_coalesces_only_its_own_cached_plan(spark):
    spark.catalog.clearCache()
    with scoped_shuffle_partitions(spark, 16):
        coalesced = persisted(_tiny_agg(spark))
        coalesced.count()
        assert coalesced.rdd.getNumPartitions() < 16
        assert spark.conf.get(CACHED_PLAN_KEY, None) is None
        spark.catalog.clearCache()
        plain = _tiny_agg(spark).persist()
        plain.count()
        assert plain.rdd.getNumPartitions() == 16
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "face",
    [
        "rf_confusion_matrix",
        "kmeans_cluster_sizes",
        "feature_cache_roundtrip",
        "ppl_bucket_mix",
        "pca_components",
    ],
)
def test_face_leaves_no_cache(spark, sf_dir, face):
    spark.catalog.clearCache()
    rows = entrymod.queries()[face](spark, sf_dir).collect()
    assert rows
    assert _cache_empty(spark), f"{face} left cached frames behind"


def _caching_sites(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("persist", "cache")
        ):
            found.append(f"{path.name}:{node.lineno} .{node.func.attr}(")
        elif isinstance(node, ast.ImportFrom) and (
            node.module == "pyspark.storagelevel"
            or any(a.name == "StorageLevel" for a in node.names)
        ):
            found.append(f"{path.name}:{node.lineno} imports StorageLevel")
        elif isinstance(node, ast.Import) and any(
            a.name == "pyspark.storagelevel" for a in node.names
        ):
            found.append(f"{path.name}:{node.lineno} imports pyspark.storagelevel")
    return found


def test_only_session_module_caches():
    offenders = [
        site
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "session.py"
        for site in _caching_sites(path)
    ]
    assert not offenders, (
        "cache through session.persisted/materialized instead: "
        + ", ".join(offenders)
    )


def test_caching_lint_sees_the_session_module():
    assert _caching_sites(PKG / "session.py")
