"""Plan-audit helpers: make Catalyst behavior (predicate pushdown, column
pruning, broadcast joins, exchange counts) assertable in tests.

The reference hand-implements these optimizations at fetch time (SURVEY
§4); here they must come out of Catalyst for free — these helpers are how
the test suite proves they actually do.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (captures ``df.explain``)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that reach a Parquet scan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan_string(df))


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan (column-pruning evidence)."""
    return re.findall(r"ReadSchema: ([^\n]*)", plan_string(df))


def has_pushed_filter(df: DataFrame, column: str) -> bool:
    return any(column in f for f in pushed_filters(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def exchange_partitionings(df: DataFrame) -> list[str]:
    """The partitioning of every shuffle exchange in the plan, one entry
    per numbered ``(N) Exchange`` node of the formatted plan (broadcast
    exchanges are not shuffles and are not listed). Expression ids, the
    partition count and the plan id are dropped, so an entry reads e.g.
    ``hashpartitioning(doc_id), ENSURE_REQUIREMENTS``.

    Build ``df`` on a session without materialized caches (e.g. after
    ``cachectl.release()``, as the bench runs after every slot): a
    cached relation an earlier action ran is drawn with its executed
    adaptive plan, final and initial, and its exchanges count twice."""
    found: dict[str, str] = {}
    for section in plan_string(df).split("\n\n"):
        head = re.match(r"\((\d+)\) Exchange\n", section)
        if head is None:
            continue
        args = re.search(r"^Arguments: (.*)$", section, re.M).group(1)
        args = re.sub(r"#\d+L?|, \[plan_id=\d+\]", "", args)
        found[head.group(1)] = re.sub(r", \d+\)", ")", args)
    return list(found.values())


def count_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (lower is better; broadcast
    exchanges are not counted)."""
    return len(exchange_partitionings(df))


def codegen_stage_count(df: DataFrame) -> int:
    """WholeStageCodegen spans — wider/fewer means more of the plan runs
    as generated JVM code. (Formatted mode labels them '[codegen id : N]',
    simple mode 'WholeStageCodegen (N)'.)"""
    plan = plan_string(df)
    ids = re.findall(r"codegen id : (\d+)", plan)
    ids += re.findall(r"WholeStageCodegen \((\d+)\)", plan)
    return len(set(ids))
