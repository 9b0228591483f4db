"""Physical-plan fingerprints: environment-independent plan-shape
descriptors for regression defense.

A bench gate needs to distinguish "this query got slower because the
plan regressed" from "the VM was loaded".
Timings can't answer that; the *plan shape* can. A fingerprint captures
exactly the signals that determine scale behavior — the ordered
physical operator sequence, exchange/codegen/Python-eval counts,
pushed-filter evidence, and scanned columns — and none of the
environment noise (paths, partition counts, stats, codegen ids).

Two runs of the same code on the same data layout produce the same
fingerprint on any machine; a changed fingerprint means the plan
actually changed. ``bench.py`` embeds these per query so every
``BENCH_r{N}.json`` is shape-comparable with the committed local
reference, and ``tests/test_plan_fingerprints.py`` diffs the suite
against the committed ``PLAN_FINGERPRINTS.json``.
"""

from __future__ import annotations

import hashlib
import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

# details-section node header in `explain("formatted")` output:
# "(3) Exchange" / "(7) HashAggregate [codegen id : 2]"
_NODE_RX = re.compile(r"^\(\d+\) ([A-Za-z][\w]*)", re.M)
_PY_NODES = (
    "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
    "BatchEvalPython", "FlatMapGroupsInPandasWithState",
)


def formatted_plan(df: DataFrame) -> str:
    """The full `explain("formatted")` text of a DataFrame."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_fingerprint(df: DataFrame) -> dict:
    """Shape descriptor of ``df``'s physical plan (analysis only — the
    query is planned, never executed).

    Returns ``{"fp", "nodes", "shuffles", "codegen", "py_eval",
    "pushed_range", "partition_prune", "scan_cols"}`` where ``fp`` is a
    12-hex digest of the ordered node-name sequence plus the pushdown
    booleans and scanned columns. Node *names* only: numeric partition
    counts, file paths, statistics, and codegen ids are all excluded so
    the digest is stable across machines and scale factors with the
    same layout.
    """
    plan = formatted_plan(df)
    nodes = _NODE_RX.findall(plan)
    shuffles = sum(1 for n in nodes if n in ("Exchange", "BroadcastExchange"))
    codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    py_eval = sum(1 for n in nodes if n in _PY_NODES)
    pushed = re.findall(r"PushedFilters: \[(.*)\]", plan)
    pushed_range = any(
        re.search(r"GreaterThan|LessThan|EqualTo", p) for p in pushed
    )
    part = re.findall(r"PartitionFilters: \[(.*)\]", plan)
    partition_prune = any(
        re.search(r"[=<>]", re.sub(r"isnotnull\([^)]*\)", "", p)) for p in part
    )
    scan_cols = sorted(
        {c for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
         for c in re.findall(r"(\w+):", m)}
    )
    sig = "|".join([
        "->".join(nodes),
        f"range={pushed_range}",
        f"prune={partition_prune}",
        ",".join(scan_cols),
    ])
    return {
        "fp": hashlib.md5(sig.encode()).hexdigest()[:12],
        "nodes": len(nodes),
        "shuffles": shuffles,
        "codegen": codegen,
        "py_eval": py_eval,
        "pushed_range": pushed_range,
        "partition_prune": partition_prune,
        "scan_cols": scan_cols,
    }


def fingerprint_queries(
    spark, sf_dir: str, names: list[str], queries: dict | None = None,
) -> dict[str, dict]:
    """Fingerprint each named suite query at ``sf_dir``.

    Plans (never executes) each query with ``spark.sql.shuffle.
    partitions`` pinned to the bench default (32) so the descriptor
    matches what ``bench.py`` records, then restores the session conf.
    """
    if queries is None:
        import __spark_entry__ as entry

        queries = entry.queries()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        out = {}
        for name in names:
            out[name] = plan_fingerprint(queries[name](spark, sf_dir))
        return out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
