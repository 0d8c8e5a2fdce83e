"""Reduce stage: the flagship query over the *live* processed tables.

Reference semantics (pipeline/reduce.py:24-86): daily, for each of the 5
market segments, compute "unshipped orders by revenue" (TPC-H Q3
variant) over the Delta tables and write one snappy parquet per segment
to ``results/`` (SURVEY.md §3.1, S8).

This module is the live-schema twin of ``queries/flagship.py`` (which
targets driver testdata): the processed tables use the reference's
renamed columns (``o_order_time``/``l_ship_time``, data.py:100-108) and
*string* uuid order keys (data.py:74-93) — join logic is identical
because Spark equi-joins are key-type agnostic (SURVEY.md §7 risk c).
Column naming is resolved at runtime so the same function also accepts
testdata-named tables.

The five gold outputs come from one pass: every segment is joined,
aggregated and ranked together (``row_number`` over
``partitionBy(c_mktsegment)``, the Spark-native form of the reference's
segment loop, SURVEY.md §2.7), the ranked top-k is materialised once,
and the five per-segment parquet writes run concurrently as filters of
it.  The outputs are the loop's: one snappy parquet per segment, rows in
rank order.  At scale the ``rank <= k`` filter plans a partial
``WindowGroupLimit`` before the window's exchange, so each map task
ships at most ``k`` rows per segment.  The cutoff is an explicit
parameter; the reference's ``pd.Timestamp.now()`` (reduce.py:56) is the
caller's choice, not baked in.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .io import run_concurrently

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _col(df: DataFrame, *candidates: str) -> str:
    for c in candidates:
        if c in df.columns:
            return c
    raise ValueError(f"none of {candidates} in {df.columns}")


def ranked_unshipped(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    *,
    segments: tuple[str, ...],
    cutoff: datetime | str,
    k: int = 50,
) -> DataFrame:
    """Reference reduce.py:43-78 for every segment in one plan: the
    top-``k`` unshipped orders by revenue of each segment, ranked
    ``revenue desc, l_orderkey``.

    Columns: ``c_mktsegment, rank, l_orderkey, revenue, <order time>,
    o_orderpriority``.  The customer dim (key + segment) is broadcast;
    an order belongs to one customer, so adding the segment to the
    grouping keys leaves every order's revenue as in the per-segment
    query.
    """
    o_time = _col(orders, "o_order_time", "o_orderdate")
    l_time = _col(lineitem, "l_ship_time", "l_shipdate")
    cut = F.lit(cutoff).cast("timestamp")

    fcust = customer.filter(
        F.col("c_mktsegment").isin([s.upper() for s in segments])
    ).select("c_custkey", "c_mktsegment")
    forders = orders.filter(F.col(o_time) < cut).select(
        "o_orderkey", "o_custkey", o_time, "o_orderpriority"
    )
    fline = lineitem.filter(F.col(l_time) > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    )
    return (
        forders.join(F.broadcast(fcust), forders.o_custkey == fcust.c_custkey)
        .join(fline, forders.o_orderkey == fline.l_orderkey)
        .withColumn(
            "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .groupBy("c_mktsegment", "l_orderkey", o_time, "o_orderpriority")
        .agg(F.sum("revenue").alias("revenue"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "c_mktsegment", "rank", "l_orderkey", "revenue", o_time,
            "o_orderpriority",
        )
    )


def _segment_rows(ranked: DataFrame, segment: str) -> DataFrame:
    """One segment's rows of ``ranked`` in rank order, with the
    reference result columns (reduce.py:72-74):
    ``l_orderkey, revenue, <order time>, o_orderpriority``.

    At most ``k`` rows, so they go to one partition (one output file,
    like the reference's single parquet, reduce.py:76-78) and are
    sorted there: no range-partitioning sample job."""
    return (
        ranked.filter(F.col("c_mktsegment") == segment.upper())
        .coalesce(1)
        .sortWithinPartitions("rank")
        .drop("c_mktsegment", "rank")
    )


def unshipped_orders_live(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    *,
    segment: str,
    cutoff: datetime | str,
    k: int = 50,
) -> DataFrame:
    """One segment's top-``k`` (reference reduce.py:43-78) against
    live-schema DataFrames: the ``segment`` view of
    :func:`ranked_unshipped`."""
    ranked = ranked_unshipped(
        orders, lineitem, customer, segments=(segment,), cutoff=cutoff, k=k
    )
    return _segment_rows(ranked, segment)


def query_reduce(
    spark: SparkSession,
    processed_dir: str,
    results_dir: str,
    *,
    cutoff: datetime | str,
    segments: tuple[str, ...] = SEGMENTS,
    k: int = 50,
    fmt: str = "parquet",
) -> dict[str, str]:
    """Flow ``query_reduce`` (reduce.py:81-86): one snappy parquet
    result per segment.  Returns {segment: result_path}.

    One pass replaces the reference's segment loop: the ranked top-k of
    every segment is computed and cached once (at most
    ``k * len(segments)`` rows), then the per-segment writes run
    concurrently as filters of it.  A segment with no qualifying order
    still gets its (empty) parquet, so ``results_ready`` holds.
    """
    load = lambda t: spark.read.format(fmt).load(  # noqa: E731
        os.path.join(processed_dir, t)
    )
    ranked = ranked_unshipped(
        load("orders"), load("lineitem"), load("customer"),
        segments=segments, cutoff=cutoff, k=k,
    ).persist()
    try:
        ranked.count()
        out = {
            seg: os.path.join(results_dir, f"{seg.lower()}.snappy.parquet")
            for seg in segments
        }
        # snappy is Spark's default parquet codec
        run_concurrently(spark, [
            lambda seg=seg, path=path: _segment_rows(ranked, seg)
            .write.mode("overwrite").parquet(path)
            for seg, path in out.items()
        ])
        return out
    finally:
        ranked.unpersist()
