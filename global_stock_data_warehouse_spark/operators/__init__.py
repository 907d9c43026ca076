"""Relational/dataflow operators (SURVEY.md §2) + scale extensions.

Each operator is a DataFrame -> DataFrame function; composition happens in
``plans/``. What does come back to the driver is small and bounded:
dispatch probes, counts and gates; ``validate.observed`` returns a row of
global aggregates in one job with no exchange. All hot paths are built-in
expressions (whole-stage codegen) or, where genuinely procedural
(similarity, multimodal), Arrow-batched pandas UDFs.
"""

from global_stock_data_warehouse_spark.operators.resample import ohlc_resample  # noqa: F401
from global_stock_data_warehouse_spark.operators.returns import with_period_return  # noqa: F401
from global_stock_data_warehouse_spark.operators.validate import (  # noqa: F401
    observed,
    ohlc_violation,
    with_series_gates,
)
from global_stock_data_warehouse_spark.operators.upsert import upsert_keyed  # noqa: F401
from global_stock_data_warehouse_spark.operators.joins import (  # noqa: F401
    anti_missing,
    broadcast_lookup,
    semi_active,
)
