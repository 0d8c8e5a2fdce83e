"""Round-trip tests for the format-pluggable I/O layer (pipeline/io.py):
every supported format must write→read losslessly with an explicit
schema, including timestamps (micros), doubles, and strings containing
the CSV delimiter."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.pipeline.io import (
    FORMATS,
    convert_table,
    read_table,
    run_concurrently,
    table_files,
    write_table,
)


def _sorted_rows(df, key):
    return [tuple(r) for r in df.orderBy(key).collect()]


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv", "xml"])
def test_roundtrip_lineitem(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "lineitem").limit(500)
    path = str(tmp_path / f"lineitem_{fmt}")
    write_table(src, path, fmt)
    got = read_table(spark, path, fmt, schema=src.schema)
    assert got.schema == src.schema
    assert _sorted_rows(got, "l_orderkey") == _sorted_rows(src, "l_orderkey")


@pytest.mark.parametrize("fmt", ["json", "csv", "xml"])
def test_roundtrip_documents_delimiters(spark, sf_dir, tmp_path, fmt):
    # text column contains spaces (and would contain commas/quotes in a
    # real corpus) — row formats must quote/escape losslessly
    src = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit(', with "quoted, commas"'))
    )
    path = str(tmp_path / f"documents_{fmt}")
    write_table(src, path, fmt)
    got = read_table(spark, path, fmt, schema=src.schema)
    assert _sorted_rows(got, "doc_id") == _sorted_rows(src, "doc_id")


@pytest.mark.parametrize("fmt", ["csv", "xml"])
def test_roundtrip_events_timestamps(spark, sf_dir, tmp_path, fmt):
    # micro-precision event times must survive the row-format round-trip
    src = load_table(spark, sf_dir, "events").limit(200)
    path = str(tmp_path / f"events_{fmt}")
    write_table(src, path, fmt)
    got = read_table(spark, path, fmt, schema=src.schema)
    assert _sorted_rows(got, "event_id") == _sorted_rows(src, "event_id")


def test_text_format_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "documents").select(
        F.col("text").alias("value")
    )
    path = str(tmp_path / "docs_text")
    write_table(src, path, "text")
    got = read_table(spark, path, "text")
    assert got.count() == src.count()
    assert {r.value for r in got.collect()} == {r.value for r in src.collect()}


def test_convert_csv_to_parquet(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "orders").limit(300)
    csv_path = str(tmp_path / "orders_csv")
    pq_path = str(tmp_path / "orders_pq")
    write_table(src, csv_path, "csv")
    n = convert_table(
        spark, csv_path, "csv", pq_path, "parquet", schema=src.schema
    )
    assert n == 300
    got = read_table(spark, pq_path, "parquet")
    assert _sorted_rows(got, "o_orderkey") == _sorted_rows(src, "o_orderkey")
    assert table_files(pq_path)  # real data files, no stray temp dirs


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        read_table(spark, str(tmp_path), "avro")


def test_schemaless_row_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        read_table(spark, str(tmp_path), "csv")


def test_formats_constant_is_exhaustive():
    # xml joined in round 10: a first-class built-in source in Spark 4
    assert set(FORMATS) == {"parquet", "orc", "json", "csv", "xml", "text"}


def test_run_concurrently_order_properties_and_errors(spark):
    """Results come back in action order, each worker thread sees the
    caller's local properties, and a failure re-raises (noting any
    other failure) only after every action ran."""
    sc = spark.sparkContext
    sc.setLocalProperty("etl.test.owner", "caller")
    try:
        got = run_concurrently(spark, [
            lambda n=n: (sc.getLocalProperty("etl.test.owner"),
                         spark.range(n).count())
            for n in range(4)
        ])
    finally:
        sc.setLocalProperty("etl.test.owner", None)
    assert got == [("caller", n) for n in range(4)]

    ran = []

    def fail(msg):
        ran.append(msg)
        raise ValueError(msg)

    with pytest.raises(ValueError, match="first") as err:
        run_concurrently(spark, [
            lambda: fail("first"), lambda: ran.append("ok"),
            lambda: fail("second"),
        ])
    assert sorted(ran) == ["first", "ok", "second"]
    assert any("second" in note for note in err.value.__notes__)
