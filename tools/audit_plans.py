"""Plan audit over the suite's headline queries.

For each query, inspect the *executed* physical plan and report the
signals that matter at 100 TB:

- shuffles:   number of Exchange nodes (lower is better; every one is
              a full network pass over its input)
- pushed:     whether the parquet scan carries real PushedFilters
              (row-group skipping) for queries that filter
- codegen:    WholeStageCodegen span count (JVM-compiled pipelines)
- py_eval:    Python/Arrow eval nodes (the slow path — should exist
              only for the recursion family and multimodal decode)
- scan_cols:  columns actually read (column pruning evidence)

Usage: python tools/audit_plans.py [sf_dir] [query ...]
Writes a markdown table to stdout; nonzero exit if any query that
declares a time range shows NO pushed range filter.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

# queries whose semantics include a time-range filter over a raw table
# scan — these MUST show a pushed range predicate (not just IsNotNull).
# ts_agg_window_create_empty / interpolate / fill aggregate the whole
# table (spine bounds are constants, not filters), so they're exempt.
RANGE_QUERIES = {
    "influxql_count_fill0",
    "influxql_show_meta",
    "influxql_percentile_integral",
    "influxql_regex_or",
    "influxql_multi_measurement",
    "influxql_math_fns",
    "influxql_tz",
    "flux_dashboard",
    "flux_text_quantile",
    "flux_text_map_funcs",
    "ts_deadman",
}

# queries whose scan targets a measurement/day-partitioned store —
# these MUST show partition PRUNING (PartitionFilters beyond
# isnotnull), the stronger form of pushdown (r4 VERDICT item 9: the
# maintenance benches join the assertion set).
PRUNE_QUERIES = {
    "bench_cq_run",
}


def main() -> int:
    sf_dir = os.path.abspath(SF_DIR)
    import __spark_entry__ as entry
    from aws_greengrass_labs_database_influxdb_spark.session import get_spark

    # AQE off: the pre-execution adaptive plan hides WholeStageCodegen
    # wrapping; the static plan shows the real codegen spans. (AQE
    # stays ON in production sessions — this is a read-only audit.)
    spark = get_spark(
        app_name="audit_plans", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    qs = entry.queries()
    names = [n for n in qs if not ONLY or n in ONLY]
    rows = []
    failures = []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            # formatted explain, NOT executedPlan().toString(): the
            # latter truncates long PushedFilters lists mid-list, which
            # made range-pushdown detection depend on filter order
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            rows.append((name, "ERR", "", "", "", str(e)[:60]))
            failures.append(name)
            continue
        # formatted explain lists every node twice (tree + details);
        # count the details-section headers "(N) NodeName" once each
        shuffles = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
        py_eval = len(re.findall(
            r"^\(\d+\) (?:ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|BatchEvalPython)",
            plan, re.M,
        ))
        # greedy to end-of-line: a nested ']' (e.g. In(col, [a,b])) must
        # not truncate the filter list before a later range predicate
        pushed = re.findall(r"PushedFilters: \[(.*)\]", plan)
        has_range_push = any(
            re.search(r"GreaterThan|LessThan|EqualTo", p) for p in pushed
        )
        # partition pruning: PartitionFilters with a real predicate
        # (not just isnotnull) skips whole directories, not row groups
        part = re.findall(r"PartitionFilters: \[(.*)\]", plan)
        has_prune = any(
            re.search(r"[=<>]", re.sub(r"isnotnull\([^)]*\)", "", p)) for p in part
        )
        scan_cols = sorted(
            {c for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
             for c in re.findall(r"(\w+):", m)}
        )
        if name in RANGE_QUERIES and not has_range_push:
            failures.append(name)
        if name in PRUNE_QUERIES and not has_prune:
            failures.append(name)
        rows.append((
            name, str(shuffles), str(codegen), str(py_eval),
            ("range" if has_range_push else ("yes" if any(pushed) else "-"))
            + ("+prune" if has_prune else ""),
            ",".join(scan_cols)[:48],
        ))
    print("| query | shuffles | codegen | py_eval | pushed | scan_cols |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print("| " + " | ".join(r) + " |")
    if failures:
        print(f"\nFAIL: no pushed range/prune filter (or error) in: {sorted(failures)}")
        return 1
    if not ONLY:
        # full-run invariant: every bench.py headline + bench_* query
        # must have been audited (the round loop relies on this)
        import bench as bench_mod

        want = set(bench_mod.HEADLINE) | {n for n in qs if n.startswith("bench_")}
        missed = want - {r[0] for r in rows}
        if missed:
            print(f"\nFAIL: bench headline queries not audited: {sorted(missed)}")
            return 1
    print(f"\nOK: {len(rows)} plans audited")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
