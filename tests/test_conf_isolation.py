"""Session conf a library call changes for its own work is restored
afterwards, on success and on error: a later query in the same session
must see the session's own settings."""

from __future__ import annotations

import sys
import types

import pandas as pd
import pytest


def test_ingest_restores_arrow_setting(spark):
    """Arrow is switched on only for the pandas conversion (NaN lands as
    null), then the session's own setting comes back."""
    from python_sql_etl_project_spark.sources.ingest import spark_df_from_pandas

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = spark_df_from_pandas(
            spark, pd.DataFrame({"x": [1.0, float("nan")]}), add_ingest_order=False
        )
        assert [r.x for r in df.collect()] == [1.0, None]
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)


def test_transform_with_state_restores_state_store_provider(
    spark, sf_dir, monkeypatch
):
    """A stub ``google.protobuf`` gets the call past its capability gate;
    the stream then fails, and the RocksDB provider it set must not stay
    on the session."""
    from python_sql_etl_project_spark.streaming.windows import (
        transform_with_state_profile,
    )

    protobuf = types.ModuleType("google.protobuf")
    protobuf.descriptor = types.ModuleType("google.protobuf.descriptor")
    monkeypatch.setitem(sys.modules, "google", types.ModuleType("google"))
    monkeypatch.setitem(sys.modules, "google.protobuf", protobuf)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    with pytest.raises(Exception, match="STREAM_FAILED"):
        transform_with_state_profile(spark, sf_dir)
    assert spark.conf.get(key) == prev
