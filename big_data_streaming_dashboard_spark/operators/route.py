"""3-way routing: normal / critical / dirty (SURVEY.md F3/F4, S10).

The reference filters the final stream three times into three Kafka
sinks (flink_process/flink_process.py:334-351). We compute ONE ``route``
column and, in streaming, write all three topics in a single
``foreachBatch`` pass over a persisted batch (streaming/sinks.py) --
the plan is evaluated once, not three times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUTES = ("normal", "critical", "dirty")


def route(silver: DataFrame) -> DataFrame:
    """Add the ``route`` column (dirty | critical | normal)."""
    return silver.withColumn(
        "route",
        F.when(F.col("status") == "invalid", "dirty")
        .when(F.col("critical"), "critical")
        .otherwise("normal"),
    )
