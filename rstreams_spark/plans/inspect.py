"""Physical-plan introspection: the 'did Catalyst do what we meant'
toolkit. Used in tests to pin the plan shape (pushdown reached the
scan, dims broadcast, no accidental sort-merge join / extra shuffle)
so a regression in plan quality fails CI, not the cluster bill.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

__all__ = [
    "explain_str", "pushed_filters", "read_schemas",
    "count_broadcast_joins", "count_sortmerge_joins", "count_shuffles",
    "plan_report",
]


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter expressions that reached the parquet scan."""
    txt = explain_str(df)
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", txt):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schemas(df: DataFrame) -> list[list[str]]:
    """Column sets each scan actually reads (pruning evidence)."""
    txt = explain_str(df)
    return [
        re.findall(r"(\w+):", m.group(1))
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt)
    ]


def _count_nodes(df: DataFrame, node: str) -> int:
    # formatted mode: each operator appears once as a numbered node
    # line "(N) <Node>"; arguments are listed separately
    return len(re.findall(rf"\(\d+\) {node}\b", explain_str(df)))


def count_broadcast_joins(df: DataFrame) -> int:
    return _count_nodes(df, "BroadcastHashJoin") + _count_nodes(
        df, "BroadcastNestedLoopJoin"
    )


def count_sortmerge_joins(df: DataFrame) -> int:
    return _count_nodes(df, "SortMergeJoin")


def count_shuffles(df: DataFrame) -> int:
    """Shuffle exchanges only (BroadcastExchange intentionally not
    counted — broadcasts are the cheap alternative to a shuffle)."""
    return _count_nodes(df, "Exchange")


def plan_report(df: DataFrame) -> dict:
    return {
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schemas(df),
        "broadcast_joins": count_broadcast_joins(df),
        "sortmerge_joins": count_sortmerge_joins(df),
        "shuffles": count_shuffles(df),
    }
