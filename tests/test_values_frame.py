"""``values_frame``: the SQL ``VALUES`` form of a small literal frame
must equal ``createDataFrame`` on the same rows and schema, and fall
back to it for any schema it cannot render."""

from __future__ import annotations

from decimal import Decimal

from etl_tpch_spark.exprs import values_frame


def _same(a, b) -> None:
    assert a.schema == b.schema
    assert a.collect() == b.collect()


def test_values_frame_matches_create_dataframe(spark):
    rows = [(1, "a", 0.5, [1, 2]), (2, None, None, None)]
    schema = "id LONG, s STRING, x DOUBLE, xs ARRAY<LONG>"
    df = values_frame(spark, rows, schema)
    _same(df, spark.createDataFrame(rows, schema))
    # the fast path: a driver-side relation, no RDD scan
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan


def test_values_frame_unparseable_schema_falls_back(spark):
    """A parenthesised type such as ``decimal(10,2)`` defeats the
    top-level comma split; the frame still builds, via
    ``createDataFrame``."""
    rows = [(1, Decimal("2.50")), (2, None)]
    schema = "id LONG, price decimal(10,2)"
    _same(
        values_frame(spark, rows, schema),
        spark.createDataFrame(rows, schema),
    )
