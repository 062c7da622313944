"""The two workloads: setup, warm-up, one closed-loop op, and the op's check.

Every op goes through the package's public functions only. ``Ctx.span``
records a span per layer call when the run is traced and does nothing
otherwise.
"""

from __future__ import annotations

import datetime as dt
import glob
import io
import json
import math
import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from querysight_spark import demo
from querysight_spark.analyze import run_analysis
from querysight_spark.functions.normalize import with_pattern_columns
from querysight_spark.functions.sqlextract import extract_tables, extract_tables_udf
from querysight_spark.plans.console import render_panel, render_table
from querysight_spark.plans.coverage import (
    coverage_metrics,
    patterns_with_models,
    uncovered_tables,
    unused_models,
    upstream_closure,
    used_models,
)
from querysight_spark.plans.patterns import aggregate_patterns, filter_logs
from querysight_spark.plans.recommend import recommendations
from querysight_spark.plans.report import sort_patterns
from querysight_spark.sources.catalog import load_table
from querysight_spark.sources.snapshot_cache import SnapshotCache
from querysight_spark.streaming.incremental import (
    read_pattern_state,
    start_incremental_merge,
    stream_query_logs,
)

ANALYZE_DAYS = 1     # ~3.3k log rows per op
SLICE = dt.timedelta(hours=6)  # one ingest op lands ~800 log rows
INGEST_WARMUP_OPS = 2  # landed in a dir of their own, before the measured ops
PAGE_SIZE = 20       # the CLI's --page-size default
PAGE_LIMIT = 500     # rows the CLI's display_dataframe collects at most
MIN_FREQUENCY = 2    # the CLI's --min-frequency default
NOW = 1.9e9          # fixed snapshot-cache clock: TTLs cannot expire mid-run


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    span: object          # span(name) -> context manager
    events_path: str = ""
    logs: object = None   # the raw query log over the whole generated span
    dims: tuple = ()      # model map, sources, edges


def noop(df) -> None:
    """Run ``df`` to completion and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def setup_inputs(ctx: Ctx, phase) -> None:
    """Generate the seeded events, then load them through the package."""
    sf = os.path.join(ctx.work, "sf")
    ctx.events_path = phase("fixture", lambda: gen.write_events(sf, ctx.seed))

    def _load():
        with ctx.span("sources.catalog.load"):
            load_table(ctx.spark, "events", sf)
        ctx.logs = demo.build_raw_query_log(ctx.spark, sf)
        ctx.dims = (demo.build_model_map(ctx.spark), demo.build_sources_dim(ctx.spark),
                    demo.build_edges(ctx.spark))

    phase("catalog", _load)


class TracedCache(SnapshotCache):
    """The package's snapshot cache with a span around each get and put."""

    def __init__(self, root: str, ctx: Ctx) -> None:
        super().__init__(root)
        self.ctx = ctx

    def get(self, spark, level, key, now=None):
        with self.ctx.span("sources.snapshot_cache.get"):
            return super().get(spark, level, key, now=now)

    def put(self, df, level, key, now=None):
        with self.ctx.span("sources.snapshot_cache.put"):
            return super().put(df, level, key, now=now)


class Analyze:
    """``analyze --level optimization --export-dir`` in process, against a
    snapshot cache filled during setup: run the pipeline, collect the CLI's
    report pages, export JSON."""

    op_period_s = 6.0  # seconds per op, with its probe and check, on the reference host

    def setup(self, ctx: Ctx, phase, n_ops: int) -> None:
        self.ctx = ctx
        self.start, self.end = gen.window(ctx.seed, ANALYZE_DAYS)
        self.expected = oracle.oracle_patterns(
            ctx.events_path, self.start, self.end, demo.RAW_QUERY_LOG_CTE)
        self.rows = sum(p[0] for p in self.expected.values())
        self.export_dir = os.path.join(ctx.work, "export")
        self.cache = TracedCache(os.path.join(ctx.work, "cache"), ctx)
        phase("cache_fill", self.op)

    def warmup(self) -> None:
        """One op that reads the filled cache. Without it, the first such op
        took 1.04-1.33 times the mean of the two after it over 10 runs."""
        self.op()

    def rows_per_op(self, i: int) -> int:
        return self.rows

    def window_logs(self):
        return filter_logs(self.ctx.logs, start_time=self.start, end_time=self.end)

    def op(self, i: int = -1) -> dict:
        ctx = self.ctx
        spark = ctx.spark
        mm, src, ed = ctx.dims
        with ctx.span("analyze.run_analysis"):
            res = run_analysis(
                spark, ctx.logs, mm, src, ed, level="optimization",
                start_time=self.start, end_time=self.end, min_frequency=MIN_FREQUENCY,
                cache=self.cache, use_cache=True, now=NOW,
            )
        with ctx.span("plans.console.pages"):
            summary, page = report_pages(res)
        with ctx.span("plans.report.export"):
            res.export(self.export_dir, single_file=True)
        return {"summary": summary, "page": page, "cache_hits": list(res.cache_hits)}

    def check(self, out: dict) -> list[str]:
        problems = []
        if out["summary"]["total_queries"] != self.rows:
            problems.append(f"summary total_queries {out['summary']['total_queries']} != {self.rows}")
        page = [{"normalized_query": r["normalized_query"], "frequency": r["frequency"],
                 "total_duration_ms": r["total_ms"]} for r in out["page"]]
        problems += oracle.check_top(page, self.expected, len(page), MIN_FREQUENCY)
        exported = []
        for path in sorted(glob.glob(f"{self.export_dir}/patterns/*.json")):
            with open(path) as f:
                exported += [json.loads(line) for line in f]
        problems += oracle.check_patterns(exported, self.expected, MIN_FREQUENCY)
        if len(out["cache_hits"]) != 3:
            problems.append(f"cache hits {out['cache_hits']} (want levels 1, 2 and 4)")
        return problems

    def hit_ratio(self, out: dict) -> float:
        return len(out["cache_hits"]) / 3


def report_pages(res) -> tuple[dict, list[dict]]:
    """The report the CLI prints for ``--level optimization``, rendered to
    a buffer. Returns the summary row and the collected pattern rows."""
    out = io.StringIO()
    summary = res.summary.first().asDict()
    out.write(render_panel("\n".join(f"{k}: {v}" for k, v in summary.items())))
    page = _pages(out, "Query Patterns", sort_patterns(res.patterns, by="frequency").select(
        "normalized_query", "frequency",
        F.round("avg_duration_ms", 2).alias("avg_ms"),
        F.round("total_duration_ms", 2).alias("total_ms")))
    _pages(out, "dbt Coverage", res.coverage)
    _pages(out, "Uncovered Tables", res.uncovered_tables)
    _pages(out, "Recommendations", res.recommendations.select(
        "normalized_query", "rec_type", "impact", "description"))
    return summary, page


def _pages(out, title: str, df) -> list[dict]:
    """What the CLI's ``display_dataframe`` does, minus the TTY prompt:
    collect at most PAGE_LIMIT rows once and render PAGE_SIZE-row tables."""
    cols = list(df.columns)
    rows = [r.asDict() for r in df.limit(PAGE_LIMIT + 1).collect()][:PAGE_LIMIT]
    pages = [rows[i:i + PAGE_SIZE] for i in range(0, len(rows), PAGE_SIZE)]
    for n, chunk in enumerate(pages, 1):
        out.write(render_table(chunk, cols, title=f"{title} (Page {n}/{len(pages)})"))
    return rows


class Ingest:
    """Land one slice of the raw log as a parquet file, run the incremental
    merge to completion, read the top-20 patterns of the merged state. The
    measured ops land consecutive slices in one watched dir, so the state
    grows by one partition per op."""

    op_period_s = 2.4  # seconds per op, with its probe and check, on the reference host

    def setup(self, ctx: Ctx, phase, n_ops: int) -> None:
        self.ctx = ctx
        self.n = n = max(n_ops, INGEST_WARMUP_OPS)
        self.start, _ = gen.window(ctx.seed, math.ceil(n * SLICE / dt.timedelta(days=1)))
        bounds = [(self.start + SLICE * j, self.start + SLICE * (j + 1)) for j in range(n)]

        def _prep():
            win = self.window_logs()
            self.schema = win.schema
            return win.toArrow()

        table = phase("land_prep", _prep)
        micros = table["query_start_time"].cast(pa.int64()).to_numpy()
        epoch = dt.datetime(1970, 1, 1)
        self.slices = []
        for lo, hi in bounds:
            lo_us, hi_us = ((b - epoch) // dt.timedelta(microseconds=1) for b in (lo, hi))
            self.slices.append(table.filter(pa.array((micros >= lo_us) & (micros < hi_us))))
        parts = [oracle.oracle_patterns(ctx.events_path, lo, hi, demo.RAW_QUERY_LOG_CTE)
                 for lo, hi in bounds]
        self.expected = [oracle.merge(parts[:j + 1]) for j in range(n)]
        self.dir = os.path.join(ctx.work, "ingest")

    def warmup(self) -> None:
        """The first slices, landed in a dir of their own: the first
        streaming queries of a session are the slowest."""
        measured, self.dir = self.dir, os.path.join(self.ctx.work, "ingest-warmup")
        for i in range(INGEST_WARMUP_OPS):
            self.op(i)
        self.dir = measured

    def rows_per_op(self, i: int) -> int:
        return self.slices[i].num_rows

    def op(self, i: int) -> dict:
        ctx = self.ctx
        landed = os.path.join(self.dir, "in")
        os.makedirs(landed, exist_ok=True)
        tmp = os.path.join(landed, f".slice-{i}.parquet")
        pq.write_table(self.slices[i], tmp)
        os.replace(tmp, os.path.join(landed, f"slice-{i}.parquet"))
        state = os.path.join(self.dir, "state")
        with ctx.span("streaming.incremental.batch"):
            q = start_incremental_merge(
                stream_query_logs(ctx.spark, landed, schema=self.schema),
                state, os.path.join(self.dir, "ckpt"), extract_from_sql=True)
            q.awaitTermination()
        with ctx.span("streaming.incremental.read_state"):
            top = read_pattern_state(ctx.spark, state).orderBy(
                F.col("frequency").desc(), "normalized_query").limit(20).collect()
        return {"slice": i, "top": [r.asDict() for r in top], "state": state}

    def check(self, out: dict) -> list[str]:
        expected = self.expected[out["slice"]]
        problems = oracle.check_top(out["top"], expected, 20)
        state = [r.asDict() for r in read_pattern_state(self.ctx.spark, out["state"]).select(
            "normalized_query", "frequency", "total_duration_ms", "tables_accessed").collect()]
        return problems + oracle.check_patterns(state, expected)

    def hit_ratio(self, out: dict) -> float:
        return 0.0

    def window_logs(self):
        return filter_logs(self.ctx.logs, start_time=self.start,
                           end_time=self.start + SLICE * self.n)


WORKLOADS = {
    "analyze_warm": Analyze,
    "ingest_incremental": Ingest,
}


def sweep(ctx: Ctx, win, step) -> dict:
    """One call into each layer's public functions over the workload's
    window, each forced to the noop sink. ``step(name, fn)`` takes a probe,
    then runs ``fn`` inside a span called ``name``. Returns counts."""
    spark = ctx.spark
    mm, src, ed = ctx.dims
    win = win.localCheckpoint()
    queries = [r[0] for r in win.select("query").collect()]
    counts = {"rows": len(queries)}
    step("functions.normalize", lambda: noop(with_pattern_columns(win).select("pattern_id")))
    step("functions.sqlextract.udf", lambda: noop(win.select(extract_tables_udf("query"))))
    step("functions.sqlextract.direct", lambda: [extract_tables(q) for q in queries])
    step("plans.patterns.aggregate", lambda: noop(aggregate_patterns(win, min_frequency=MIN_FREQUENCY)))
    pats = aggregate_patterns(win, min_frequency=MIN_FREQUENCY).localCheckpoint()
    counts["patterns_out"] = pats.count()

    def _coverage():
        noop(patterns_with_models(pats, mm))
        used = used_models(pats, mm).localCheckpoint()
        noop(unused_models(mm, used))
        noop(uncovered_tables(pats, mm, src))
        with ctx.span("plans.coverage.closure"):
            noop(upstream_closure(used, ed, max_hops=1))
        noop(coverage_metrics(mm, used))

    step("plans.coverage", _coverage)
    step("plans.recommend", lambda: noop(recommendations(pats, mm)))
    cache = SnapshotCache(os.path.join(ctx.work, "sweep-cache"))
    step("sources.snapshot_cache.put", lambda: cache.put(pats, "pattern_analysis", "sweep", now=NOW))
    step("sources.snapshot_cache.get", lambda: cache.get(spark, "pattern_analysis", "sweep", now=NOW))
    res = step("analyze.run_analysis", lambda: run_analysis(
        spark, win, mm, src, ed, level="optimization", min_frequency=MIN_FREQUENCY))
    step("plans.console.pages", lambda: report_pages(res))
    out = os.path.join(ctx.work, "sweep-export")
    step("plans.report.export", lambda: res.export(out, single_file=True))
    counts["export_bytes"] = sum(os.path.getsize(p) for p in glob.glob(f"{out}/*/*.json"))
    landed = os.path.join(ctx.work, "sweep-ingest", "in")
    os.makedirs(landed)
    pq.write_table(win.toArrow(), os.path.join(landed, "all.parquet"))
    state = os.path.join(ctx.work, "sweep-ingest", "state")

    def _batch():
        start_incremental_merge(
            stream_query_logs(spark, landed, schema=win.schema), state,
            os.path.join(ctx.work, "sweep-ingest", "ckpt"), extract_from_sql=True,
        ).awaitTermination()

    step("streaming.incremental.batch", _batch)
    step("streaming.incremental.read_state", lambda: read_pattern_state(spark, state).orderBy(
        F.col("frequency").desc(), "normalized_query").limit(20).collect())
    return counts
