"""Plan-shaping utilities: parallelism spreading, plan inspection."""

from implementation_of_an_etl_process_spark.plans.shape import (
    explain_str,
    leaf_scan_bytes,
    local_rows_df,
    maybe_broadcast,
    ordered_emit,
    small_leaf_input,
    spread,
)

__all__ = [
    "spread",
    "ordered_emit",
    "explain_str",
    "local_rows_df",
    "leaf_scan_bytes",
    "maybe_broadcast",
    "small_leaf_input",
]
