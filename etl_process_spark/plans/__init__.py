"""Physical-plan auditing: assert the plan you designed is the plan you run.

Catalyst owns physical planning, but "let the optimizer do it" only works
if the declarative plan actually triggers the optimizations — a filter
that doesn't reach the parquet scan or a small dim that doesn't broadcast
is a silent 100× at scale. These helpers read `explain("formatted")`
output so tests can pin the load-bearing plan properties per query
(pushed filters, pruned read schemas, join strategies, shuffle counts)
and fail when a refactor regresses them.
"""

from etl_process_spark.plans.audit import (  # noqa: F401
    broadcast_join_count,
    codegen_span_count,
    exchange_count,
    explain_str,
    has_cartesian,
    plan_summary,
    pushed_filters,
    python_stage_count,
    read_schemas,
    sortmerge_join_count,
    unbounded_serial_exchanges,
    window_count,
)
