"""Oracle cross-check: every registry query vs its DuckDB twin at the
driver's correctness scale factor (sf0.01) -- the same comparison the
driver runs (row count + schema + order-insensitive values).

Every oracle query runs in the FAST tier (the default invocation).
r19 tied the fast tier to the committed DRIVER_WINDOW and marked the
other queries `slow`, but the window rotates every round, so each
rotation dropped ~48 parameterizations from the default run while it
added as many others. The whole 133-query sweep takes ~4 min on 4
cores, so it stays in the default run and a window rotation no longer
moves any test between tiers."""

from __future__ import annotations

import pytest

from big_data_streaming_dashboard_spark.plans import QUERIES

from .conftest import SF_ORACLE, compare_spark_duck

ORACLE_QUERIES = sorted(name for name, spec in QUERIES.items() if spec.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(spark, duck, name):
    spec = QUERIES[name]
    df = spec.fn(spark, SF_ORACLE)
    ok, msg = compare_spark_duck(df, duck, spec.oracle)
    assert ok, f"{name}: {msg}"


def test_rows_only_queries_run(spark):
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            df = spec.fn(spark, SF_ORACLE)
            assert df.count() >= 0, name


def test_harness_flags_hugeint_vs_bigint(spark, duck):
    """Regression for the r2 doc_shard_packing driver failure: DuckDB's
    windowed SUM(BIGINT) yields HUGEINT; an oracle that forgets the
    BIGINT cast must FAIL locally even though every value is equal."""
    from pyspark.sql import functions as F

    sdf = spark.range(1).select(F.lit(44).cast("long").alias("s"))
    uncast = "SELECT SUM(x) OVER () AS s FROM (VALUES (44)) t(x)"
    ok, _ = compare_spark_duck(sdf, duck, uncast)
    assert not ok, "uncast HUGEINT oracle must mismatch a BIGINT column"
    cast = (
        "SELECT CAST(SUM(x) OVER () AS BIGINT) AS s FROM (VALUES (44)) t(x)"
    )
    ok, msg = compare_spark_duck(sdf, duck, cast)
    assert ok, msg
