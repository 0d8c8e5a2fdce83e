"""``values_frame``: the SQL ``VALUES`` form of a small literal frame
must equal ``createDataFrame`` on the same rows and schema, and fall
back to it for any schema it cannot render."""

from __future__ import annotations

from decimal import Decimal

import pytest

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


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([(1, 2.7)], "id LONG, x LONG"),  # float in an integral column
        ([(1, True)], "id LONG, x LONG"),  # bool in an integral column
        ([(1, 3)], "id LONG, x DOUBLE"),  # int in a double column
    ],
)
def test_values_frame_rejects_mismatched_numeric_cells(spark, rows, schema):
    """A cell whose Python type does not match its column is not
    coerced (2.7 → 2): values_frame falls back to createDataFrame,
    which raises."""
    with pytest.raises(TypeError) as want:
        spark.createDataFrame(rows, schema)
    with pytest.raises(TypeError) as got:
        values_frame(spark, rows, schema)
    assert type(got.value) is type(want.value)


def test_values_frame_non_str_in_string_column_falls_back(spark):
    """A non-str cell in a string column takes createDataFrame's path
    (and its conversion), not a str() of values_frame's own."""
    rows = [(1, 5), (2, 2.5)]
    schema = "id LONG, s STRING"
    df = values_frame(spark, rows, schema)
    _same(df, spark.createDataFrame(rows, schema))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan


def test_values_frame_past_max_rows_falls_back(spark):
    rows = [(i, f"r{i}") for i in range(5)]
    schema = "id LONG, s STRING"
    df = values_frame(spark, rows, schema, max_rows=4)
    _same(df, spark.createDataFrame(rows, schema))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" not in plan
