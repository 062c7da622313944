from __future__ import annotations

import os

import pytest

from querysight_spark import demo
from querysight_spark.analyze import run_analysis
from querysight_spark.plans.inspect import plan_summary
from querysight_spark.schemas import (
    DBT_EDGES_SCHEMA,
    DBT_MODEL_MAP_SCHEMA,
    DBT_SOURCES_SCHEMA,
)
from querysight_spark.sources.dbt_catalog import (
    DbtCatalog,
    catalog_frames,
    local_frame,
    parse_dbt_project,
)


def _write(path: str, content: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)


def test_parse_project_from_files(tmp_path, spark):
    root = str(tmp_path / "proj")
    _write(f"{root}/dbt_project.yml", "name: demo\nmodels:\n  schema: analytics\n")
    _write(
        f"{root}/models/daily_sales.sql",
        "{{ config(materialized='table', schema='marts') }}\n"
        "SELECT * FROM {{ ref('orders_clean') }} JOIN {{ source('raw', 'events') }} USING (id)",
    )
    _write(
        f"{root}/models/orders_clean.sql",
        "SELECT * FROM {{ source('raw', 'orders') }}",
    )
    _write(
        f"{root}/models/sources.yml",
        """
sources:
  - name: raw
    schema: raw_schema
    database: rawdb
    tables:
      - name: events
      - name: orders
""",
    )
    cat = parse_dbt_project(root)
    names = {m["name"]: m for m in cat.models}
    assert set(names) == {"daily_sales", "orders_clean"}
    assert names["daily_sales"]["materialized"] == "table"
    assert names["daily_sales"]["schema"] == "marts"
    assert names["orders_clean"]["schema"] == "analytics"  # project default
    assert ("daily_sales", "orders_clean") in cat.edges
    assert ("daily_sales", "raw.events") in cat.edges
    assert ("raw.events", "rawdb.raw_schema.events") in cat.sources

    model_map, sources, edges = catalog_frames(spark, cat)
    keys = {r.table_key: r.model_name for r in model_map.collect()}
    assert keys["daily_sales"] == "daily_sales"
    assert keys["marts.daily_sales"] == "daily_sales"
    assert sources.count() == 2 and edges.count() == 3


def test_parse_project_from_manifest(tmp_path):
    root = str(tmp_path / "proj2")
    _write(
        f"{root}/target/manifest.json",
        """
{"nodes": {"model.demo.m1": {"resource_type": "model", "name": "m1",
  "schema": "s1", "config": {"materialized": "view"},
  "depends_on": {"nodes": ["model.demo.m0"]}}},
 "sources": {"source.demo.raw.ev": {"source_name": "raw", "name": "ev", "schema": "rs"}}}
""",
    )
    cat = parse_dbt_project(root)
    assert cat.models == [{"name": "m1", "schema": "s1", "materialized": "view"}]
    assert cat.edges == [("m1", "m0")]
    assert cat.sources == [("raw.ev", "rs.ev")]


def _catalog() -> DbtCatalog:
    return DbtCatalog(
        models=[
            {"name": "stg_orders", "schema": "main", "materialized": "table"},
            {"name": "daily_sales", "schema": "analytics", "materialized": None},
            {"name": "mart_unused", "schema": None, "materialized": "view"},
        ],
        sources=[("raw.events", "staging.raw_events")],
        edges=[("daily_sales", "stg_orders"), ("stg_orders", "raw_base")],
    )


def _same_frame(new, old) -> None:
    assert new.schema == old.schema
    assert sorted(new.collect()) == sorted(old.collect())


def test_catalog_frames_match_list_built_frames(spark):
    cat = _catalog()
    model_map, sources, edges = catalog_frames(spark, cat)
    _same_frame(model_map, spark.createDataFrame(cat.model_map_rows(), DBT_MODEL_MAP_SCHEMA))
    _same_frame(sources, spark.createDataFrame(cat.sources, DBT_SOURCES_SCHEMA))
    _same_frame(edges, spark.createDataFrame(cat.edges, DBT_EDGES_SCHEMA))
    for df in (model_map, sources, edges):
        s = plan_summary(df)
        assert s["n_local_scans"] == 1 and s["n_rdd_scans"] == 0, s


def test_demo_dims_match_list_built_frames(spark, monkeypatch):
    calls = []

    def recording(spark_, rows, schema):
        calls.append((rows, schema))
        return local_frame(spark_, rows, schema)

    monkeypatch.setattr(demo, "local_frame", recording)
    built = [demo.build_model_map(spark), demo.build_sources_dim(spark), demo.build_edges(spark)]
    assert [schema for _, schema in calls] == [
        DBT_MODEL_MAP_SCHEMA, DBT_SOURCES_SCHEMA, DBT_EDGES_SCHEMA
    ]
    for df, (rows, schema) in zip(built, calls):
        assert df.count() == len(rows) > 0
        _same_frame(df, spark.createDataFrame(rows, schema))


def test_empty_catalog_yields_typed_empty_frames(spark):
    frames = catalog_frames(spark, DbtCatalog())
    for df, schema in zip(frames, (DBT_MODEL_MAP_SCHEMA, DBT_SOURCES_SCHEMA, DBT_EDGES_SCHEMA)):
        assert df.schema == schema
        assert df.collect() == []


def test_local_frame_rejects_none_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="depends_on"):
        local_frame(spark, [("m1", None)], DBT_EDGES_SCHEMA).collect()
    # nullable fields still take None
    row = local_frame(spark, [("k", "m", None, None, 0)], DBT_MODEL_MAP_SCHEMA).first()
    assert row.schema is None and row.match_rank == 0


def test_level3_pages_scan_catalog_dims_locally(spark, query_log, tmp_path):
    """The pages built on catalog_frames dims hold the dims as local
    relations: no stage of theirs runs a PythonRDD."""
    path = str(tmp_path / "log")
    query_log.write.parquet(path)
    logs = spark.read.parquet(path)
    model_map, sources, edges = catalog_frames(spark, _catalog())
    res = run_analysis(
        spark, logs, model_map, sources, edges,
        level="dbt_integration", min_frequency=1,
    )
    for name in ("coverage", "uncovered_tables", "patterns_enriched"):
        df = getattr(res, name)
        df.collect()  # final adaptive plan
        s = plan_summary(df)
        assert s["n_local_scans"] >= 1 and s["n_rdd_scans"] == 0, (name, s)
