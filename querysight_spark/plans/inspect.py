"""Physical-plan introspection: the plan-audit discipline as a library.

Every SCALE.md audit in this repo asks the same questions of a plan —
did the filter reach the scan, did the small side broadcast, how many
exchanges, is the hot path inside whole-stage codegen? ``plan_summary``
answers them programmatically so pipelines can ASSERT their plan shape
in CI instead of eyeballing ``explain()`` output; a regressed broadcast
(e.g. a stats change flipping to sort-merge) fails a test, not a
production SLA.

String-parses the executed-plan dump — the same surface ``explain()``
prints, stable enough across Spark 3.x/4.x for these coarse counters.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_summary(df: DataFrame) -> dict:
    """Coarse physical-plan counters for assertions:

    - n_scans: file-source scans
    - n_local_scans: LocalTableScan occurrences (driver-built rows held
      in the plan; scanning or broadcasting them runs no Python worker)
    - n_rdd_scans: Scan ExistingRDD occurrences (a checkpointed frame,
      or ``createDataFrame`` over a Python list, whose every scan runs a
      PythonRDD stage)
    - n_exchanges: total exchanges (shuffles + broadcasts)
    - n_shuffles / n_broadcasts: exchange kinds (shuffle = data moves
      across the cluster; broadcast = replicated small side)
    - n_sort_merge_joins / n_broadcast_hash_joins
    - n_single_partition: Exchange SinglePartition occurrences. A
      global sort/window funneling ALL rows through one task is the
      plan shape that dies first at 100 TB (the r4 collocations/sk04
      finding) — top-k paths should show n_take_ordered instead. Note
      a global SCALAR aggregate also plans one (final agg over the
      per-partition partials — a rows-per-partition-sized exchange,
      benign), so assert a bound that allows those, or 0 when none.
    - n_take_ordered: TakeOrderedAndProject occurrences (distributed
      per-partition top-k merged on the driver)
    - pushed_filters: the PushedFilters lists, one string per scan
    - has_wholestage_codegen: any codegen span present
    - aqe_final: AdaptiveSparkPlan reports isFinalPlan=true
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an AQE dump appends the pre-adaptive plan under "== Initial Plan ==";
    # count operators in the FINAL section only or every exchange doubles
    plan = plan.split("== Initial Plan ==")[0]
    n_cache_refs = plan.count("InMemoryTableScan")
    # every InMemoryTableScan re-PRINTS the cached child plan under its
    # InMemoryRelation — those scans execute once at cache fill, not per
    # reference; drop the definition subtrees (deeper-indented lines) so
    # the counters reflect executions, not prints
    lines, keep, skip_indent = plan.splitlines(), [], None
    for ln in lines:
        indent = len(ln) - len(ln.lstrip(" :+-*("))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in ln:
            skip_indent = indent
            continue
        keep.append(ln)
    plan = "\n".join(keep)
    return {
        "n_cache_refs": n_cache_refs,
        "n_scans": len(re.findall(r"FileScan|Scan parquet|Scan csv|Scan json", plan)),
        "n_local_scans": plan.count("LocalTableScan"),
        "n_rdd_scans": plan.count("Scan ExistingRDD"),
        "n_exchanges": plan.count("Exchange"),
        "n_broadcasts": plan.count("BroadcastExchange"),
        "n_shuffles": plan.count("Exchange") - plan.count("BroadcastExchange"),
        "n_sort_merge_joins": plan.count("SortMergeJoin"),
        "n_broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "n_single_partition": plan.count("Exchange SinglePartition"),
        "n_take_ordered": plan.count("TakeOrderedAndProject"),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
        # toString renders codegen stages as "*(n) Op" markers (the
        # formatted explain spells out WholeStageCodegen) — accept both
        "has_wholestage_codegen": (
            "WholeStageCodegen" in plan or re.search(r"\*\(\d+\) ", plan) is not None
        ),
        "aqe_final": "isFinalPlan=true" in plan,
    }


def assert_plan(df: DataFrame, **expectations) -> dict:
    """Assert counters from ``plan_summary``: exact for ints/bools,
    substring-in-any for ``pushed_filters_contain``. Returns the summary
    so failures can print it. Example::

        assert_plan(joined, n_broadcasts=1, n_shuffles=0,
                    pushed_filters_contain="IsNotNull")
    """
    s = plan_summary(df)
    for key, want in expectations.items():
        if key == "pushed_filters_contain":
            if not any(want in f for f in s["pushed_filters"]):
                raise AssertionError(
                    f"no pushed filter contains {want!r}: "
                    f"{s['pushed_filters']!r}"
                )
            continue
        got = s.get(key)
        if got != want:
            raise AssertionError(f"{key}: expected {want!r}, got {got!r}\n{s}")
    return s
