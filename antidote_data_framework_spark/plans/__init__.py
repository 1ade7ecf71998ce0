from .inspect import (  # noqa: F401
    broadcast_join_count,
    final_plan,
    has_partial_aggregation,
    physical_plan,
    pushed_filters,
    scan_count,
    uses_python_eval,
)
