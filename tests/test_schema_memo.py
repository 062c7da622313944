"""The parquet schema memo (sources.catalog.read_parquet_known_schema)
must not serve a schema inferred under other settings, and must evict by
recency when full."""

from __future__ import annotations

from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import LongType

from querysight_spark.sources import catalog

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def fresh_memo(monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE", OrderedDict())
    return catalog


def test_memo_key_includes_nanos_as_long(spark, tmp_path, fresh_memo):
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000_000], type=pa.timestamp("ns"))}),
        path,
    )
    before = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "true")
        df = fresh_memo.read_parquet_known_schema(spark, path)
        assert df.schema["ts"].dataType == LongType()
        spark.conf.set(NANOS_AS_LONG, "false")
        # inferred afresh under the new setting, which rejects NANOS,
        # instead of reusing the long schema inferred under the old one
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            fresh_memo.read_parquet_known_schema(spark, path)
    finally:
        spark.conf.set(NANOS_AS_LONG, before)


def test_memo_evicts_least_recently_used(spark, tmp_path, fresh_memo, monkeypatch):
    monkeypatch.setattr(fresh_memo, "_SCHEMA_CACHE_MAX", 2)
    paths = {}
    for name in "abc":
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table({"x": [1]}), paths[name])
    for name in "aba":  # the second read of a is a hit and refreshes it
        fresh_memo.read_parquet_known_schema(spark, paths[name])
    fresh_memo.read_parquet_known_schema(spark, paths["c"])
    assert [k[0] for k in fresh_memo._SCHEMA_CACHE] == [paths["a"], paths["c"]]
