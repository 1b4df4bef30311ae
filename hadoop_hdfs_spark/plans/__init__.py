"""Physical-plan inspection utilities — the programmatic form of the
`.explain("formatted")` discipline this repo develops against (README
"Design decisions", PLANS.md gallery, tests/test_plans.py audits).

At 100 TB the plan IS the product: these helpers make scale properties
(broadcasts present, exchanges absent, partial aggregation kept, columns
pruned) assertable in tests and inspectable in notebooks.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The full `.explain("formatted")` text of a DataFrame's plan."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def operator_counts(df: DataFrame) -> dict[str, int]:
    """Physical operator histogram of the plan tree (node names only)."""
    tree = formatted_plan(df).split("\n\n")[0]
    out: dict[str, int] = {}
    for m in re.finditer(r"[+:*-]- ([A-Za-z]+)", tree):
        out[m.group(1)] = out.get(m.group(1), 0) + 1
    return out


def exchange_count(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast-build) nodes in the plan."""
    return operator_counts(df).get("Exchange", 0)


def read_schema_of_first_scan(df: DataFrame) -> str:
    """ReadSchema of the first parquet scan — what actually leaves storage.

    Column pruning is visible here: a 2-column projection over a 10-column
    table must show a 2-field struct.
    """
    plan = formatted_plan(df)
    line = next(
        (line for line in plan.splitlines() if "ReadSchema" in line), None
    )
    if line is None:
        raise ValueError("plan contains no file scan with a ReadSchema")
    return line


def _tree_indent(line: str) -> int:
    """Length of the tree-rendering prefix (spaces and :, +, -, | glyphs)."""
    return len(re.match(r"^[\s:+|-]*", line).group(0))


def strip_cached_plan_bodies(plan: str) -> str:
    """Drop the physical plan bodies printed beneath InMemoryRelation nodes.

    An InMemoryRelation is a LEAF of the logical plan, but toString renders
    its cachedPlan (a physical AdaptiveSparkPlan) indented beneath it — and
    that body is NOT stable run to run: plan_id counters are session-global,
    and AQE re-plans in place, so the same cache captured before/after
    materialization prints raw Exchanges vs ShuffleQueryStage/ReusedExchange
    subtrees. The InMemoryRelation line itself (output schema + storage
    level) is kept, so an assertion about a query's OWN operators does not
    depend on which tests materialized the shared caches first.
    """
    out = []
    lines = plan.splitlines()
    i = 0
    while i < len(lines):
        line = lines[i]
        out.append(line)
        i += 1
        if "InMemoryRelation" in line:
            base = _tree_indent(line)
            while i < len(lines) and _tree_indent(lines[i]) > base:
                i += 1
    return "\n".join(out)
