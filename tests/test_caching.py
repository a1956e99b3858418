"""caching.materialize_and_release: the pinned inputs are released
even when the eager materialization fails (the success path is gated by
the store and dedup tests' cache-idle checks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_native_reddit_data_pipeline_spark.caching import materialize_and_release
from conftest import assert_cache_idle


def test_release_when_materialize_fails(spark):
    pinned = spark.range(100).persist()
    pinned.count()
    doomed = pinned.select(
        F.when(F.col("id") == 42, F.raise_error(F.lit("injected failure")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with pytest.raises(Exception, match="injected failure"):
        materialize_and_release(doomed, pinned)
    assert_cache_idle(spark, "a failed materialize_and_release")
