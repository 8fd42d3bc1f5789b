"""Physical-plan introspection for plan-shape regression tests."""

from .inspect import (  # noqa: F401
    explain_str, pushed_filters, read_schemas, count_broadcast_joins,
    count_sortmerge_joins, count_shuffles,
    plan_report,
)
