"""Incrementalizer: turn static TPC-H tables into an unbounded feed.

Reference semantics (pipeline/data.py:56-122): every 15-min cycle the six
static tables are written once (skip-if-exists, data.py:38, 63-67) while
``orders`` + ``lineitem`` are re-emitted with

- **fresh surrogate order keys** — ``uuid4().hex`` per order row
  (data.py:74-85), propagated to lineitem via a key-remap join
  (data.py:86-93, SURVEY.md J3);
- **re-stamped event times** — affine map of the historical date range
  onto ``[now-15m, now]`` for order/receipt/commit times and
  ``[now, now+3d]`` for ship times (data.py:96-108, helper ``new_time``
  data.py:24-26, SURVEY.md F1);
- **rescaled prices** — ``uniform(0,1) * l_extendedprice``
  (data.py:101-103, SURVEY.md F3);

then exported as JSON-lines with an ISO-timestamped name per table
(data.py:110-121, SURVEY.md S4).

Spark-first deltas from the reference:

- the per-row uuid dict + ``set_index().join`` becomes a distributed
  key-map DataFrame joined to lineitem — broadcast when small, shuffle
  join at scale; no driver-side state, so a 100 TB cycle works the same;
- ``now`` and the key function are explicit parameters (reference used
  wall-clock + unseeded uuid4/np.random — nondeterministic, SURVEY.md §7
  risk a); ``key_fn="hash"`` gives a deterministic 32-hex surrogate so
  e2e tests can diff results;
- the JSON "file" is a directory of part files (Spark's native ndjson
  sink) — same format, but writable in parallel by many executors;
- the batch's staging writes are independent jobs and run concurrently
  (the reference writes its tables one after another), so a small
  batch pays the fixed per-job driver cost once, not once per table.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from .io import run_concurrently

STATIC_TABLES = ("region", "nation", "customer", "supplier", "part")
DYNAMIC_TABLES = ("orders", "lineitem")


def _rekey_expr(key_fn: str, batch_tag: str):
    """New 32-hex surrogate order key (reference data.py:76-79).

    ``uuid`` reproduces the reference exactly (nondeterministic);
    ``hash`` derives the key from (batch, old key) — deterministic, same
    uniqueness guarantee within a batch, diffable in tests.
    """
    if key_fn == "uuid":
        return F.expr("replace(uuid(), '-', '')")
    if key_fn == "hash":
        return F.md5(F.concat_ws(":", F.lit(batch_tag), F.col("o_orderkey")))
    raise ValueError(f"key_fn must be 'uuid' or 'hash', got {key_fn!r}")


def _new_time(col: str, lo, hi, t_start: datetime, t_end: datetime):
    """Affine rescale of ``col``'s observed range onto [t_start, t_end]
    (reference data.py:24-26).  Integer-microsecond arithmetic via
    unix_micros keeps it exact; degenerate range maps to t_start.
    Testdata parquet holds TIMESTAMP_NTZ — cast to TIMESTAMP (session tz
    is pinned UTC in session.py, so the cast is deterministic)."""
    span = F.lit(int((hi - lo).total_seconds() * 1e6))
    frac = (
        F.when(span > 0,
               (F.unix_micros(F.col(col).cast("timestamp"))
                - F.unix_micros(F.lit(lo).cast("timestamp")))
               / span)
        .otherwise(F.lit(0.0))
    )
    out_span = int((t_end - t_start).total_seconds() * 1e6)
    return F.timestamp_micros(
        (F.unix_micros(F.lit(t_start)) + (frac * out_span).cast("long"))
    )


def incrementalize(
    spark: SparkSession,
    source_dir: str,
    staging_dir: str,
    *,
    now: datetime,
    key_fn: str = "hash",
    seed: int = 42,
    lookback: timedelta = timedelta(minutes=15),
    ship_horizon: timedelta = timedelta(days=3),
) -> list[str]:
    """Emit one staging micro-batch from the static tables at
    ``source_dir``.  Returns the list of staging paths written.

    Layout matches reference data.py:110-121:
    ``<staging>/<table>/<table>_<ISO>.json`` (a directory of ndjson part
    files).  Static tables are written only if absent (data.py:38).
    """
    t = Tables(spark, source_dir)
    iso = now.strftime("%Y-%m-%dT%H-%M-%S")
    builds: dict[str, Callable[[], DataFrame]] = {}  # in output order
    for table in STATIC_TABLES:
        tdir = os.path.join(staging_dir, table)
        if os.path.exists(tdir) and any(os.scandir(tdir)):
            continue  # write-once (reference data.py:38, 63-67)
        builds[table] = lambda df=getattr(t, table): df

    # the key map orders defines also feeds lineitem (the reference
    # processes tables in reversed(sorted()) order for this reason,
    # data.py:56-62).  The map is lazy, so the two writes (each with its
    # own time-range job) only read it and run concurrently.
    orders, line = t.orders, t.lineitem
    key_map = orders.select(
        F.col("o_orderkey").alias("_old_key"),
        _rekey_expr(key_fn, iso).alias("_new_key"),
    )

    def new_orders() -> DataFrame:
        o_lo, o_hi = orders.agg(
            F.min("o_orderdate"), F.max("o_orderdate")
        ).first()
        return (
            orders.join(key_map, orders.o_orderkey == key_map._old_key)
            .withColumn(
                "o_order_time",
                _new_time("o_orderdate", o_lo, o_hi, now - lookback, now),
            )
            .drop("o_orderkey", "_old_key", "o_orderdate")
            .withColumnRenamed("_new_key", "o_orderkey")
        )

    def new_line() -> DataFrame:
        l_lo, l_hi = line.agg(F.min("l_shipdate"), F.max("l_shipdate")).first()
        return (
            line.join(key_map, line.l_orderkey == key_map._old_key)
            .withColumn(
                "l_ship_time",
                _new_time("l_shipdate", l_lo, l_hi, now, now + ship_horizon),
            )
            .withColumn(
                "l_extendedprice", F.rand(seed) * F.col("l_extendedprice")
            )
            .drop("l_orderkey", "_old_key", "l_shipdate")
            .withColumnRenamed("_new_key", "l_orderkey")
        )

    builds["orders"], builds["lineitem"] = new_orders, new_line

    def sink(table: str) -> str:
        path = os.path.join(staging_dir, table, f"{table}_{iso}.json")
        builds[table]().write.mode("overwrite").json(path)
        return path

    return run_concurrently(spark, [lambda n=name: sink(n) for name in builds])
