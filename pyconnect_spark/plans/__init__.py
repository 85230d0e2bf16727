"""Physical-plan inspection utilities."""

from pyconnect_spark.plans.inspect import (  # noqa: F401
    execute_with_metrics,
    executed_plans,
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema,
    unpartitioned_windows,
    wholestage_codegen_spans,
)
