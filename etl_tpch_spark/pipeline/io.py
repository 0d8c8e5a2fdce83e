"""Format-pluggable table I/O: one read/write surface over every file
format the engine supports (parquet, ORC, JSON-lines, CSV, XML, raw
text).

The reference touches three formats — JSON-lines staging (data.py:
110-121), Delta/parquet processed tables (preprocess.py:42-44) and
snappy parquet results (reduce.py:76-78).  A complete engine needs the
rest of the lake-format long tail behind the same API; all six here are
native Spark DataSource V1/V2 readers, so predicate pushdown / column
pruning / input-split parallelism come for free where the format allows
(columnar formats prune columns and push filters; row formats at least
split and parallelize).

Scale notes baked into the defaults:

- reads take an explicit schema (never inference — a schema-inference
  pass over 100 TB is a full extra scan; SURVEY.md §1.3);
- CSV/JSON timestamps are pinned to an explicit ISO micro format so a
  round-trip is lossless and engine-independent;
- ``compression`` defaults to snappy for columnar formats and gzip-none
  for row formats (staging files are usually consumed once — cheap CPU
  beats cheap bytes there).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

_R = TypeVar("_R")

FORMATS = ("parquet", "orc", "json", "csv", "xml", "text")

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

# Options applied on BOTH sides so write→read is lossless per format.
# timestampFormat covers TIMESTAMP (LTZ); TIMESTAMP_NTZ columns (e.g.
# events.ts) are formatted via the separate timestampNTZFormat option,
# whose default truncates to milliseconds — pin both to micro precision.
_RW_OPTIONS: dict[str, dict[str, str]] = {
    "csv": {
        "header": "true",
        "timestampFormat": _TS_FMT,
        "timestampNTZFormat": _TS_FMT,
        # full precision: doubles survive the decimal round-trip
        "quote": '"',
        "escape": '"',
    },
    "json": {"timestampFormat": _TS_FMT, "timestampNTZFormat": _TS_FMT},
    # XML is a first-class built-in source in Spark 4 (the spark-xml
    # package folded into core) — same row-format rules as JSON/CSV:
    # explicit schema on read, pinned rowTag + timestamp precision so
    # write→read round-trips losslessly (entity-escaping is the
    # source's own job; verified on delimiter-hostile text columns).
    "xml": {
        "rowTag": "row",
        "timestampFormat": _TS_FMT,
        "timestampNTZFormat": _TS_FMT,
    },
}


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    *,
    mode: str = "overwrite",
    compression: str | None = None,
    partition_by: tuple[str, ...] = (),
    options: dict[str, str] | None = None,
) -> None:
    """Write ``df`` to ``path`` in any supported format."""
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; have {FORMATS}")
    writer = df.write.format(fmt).mode(mode)
    for k, v in _RW_OPTIONS.get(fmt, {}).items():
        writer = writer.option(k, v)
    if compression is not None:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for k, v in (options or {}).items():
        writer = writer.option(k, v)
    writer.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    *,
    schema: T.StructType | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read a table written by :func:`write_table`.

    Columnar formats (parquet/ORC) carry their own schema; row formats
    (JSON/CSV/text) REQUIRE one — refusing to infer is deliberate (an
    inference pass is a second full scan of the input at scale).
    """
    if fmt not in FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; have {FORMATS}")
    if fmt in ("json", "csv", "xml") and schema is None:
        raise ValueError(f"{fmt} reads require an explicit schema")
    reader = spark.read.format(fmt)
    for k, v in _RW_OPTIONS.get(fmt, {}).items():
        reader = reader.option(k, v)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load(path)


def convert_table(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    dst_path: str,
    dst_fmt: str,
    *,
    schema: T.StructType | None = None,
    compression: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Format migration in one job (e.g. CSV landing zone → parquet
    lake).  Returns the row count moved.  The count and the write share
    one scan's worth of work per executor — Spark runs them as two jobs
    over the same splits; at 100 TB prefer counting from the write
    metrics, but the API stays engine-portable this way."""
    df = read_table(spark, src_path, src_fmt, schema=schema)
    write_table(
        df,
        dst_path,
        dst_fmt,
        compression=compression,
        partition_by=partition_by,
    )
    return read_table(spark, dst_path, dst_fmt, schema=schema).count()


def table_files(path: str) -> list[str]:
    """Data files under a table directory (skips _SUCCESS etc.)."""
    out: list[str] = []
    for root, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith(("_", "."))
        )
    return sorted(out)


def run_concurrently(
    spark: SparkSession, actions: list[Callable[[], _R]]
) -> list[_R]:
    """Run independent Spark actions on one thread each and return their
    results in order.

    On a small input each action is mostly fixed driver cost (planning,
    job submission, commit), so overlapping them lets the scheduler
    fill idle cores with the other actions' tasks.  Each action is
    wrapped with ``inheritable_thread_target`` in the calling thread,
    so job groups, local properties and session tags reach the
    workers.  Every action runs to completion; the first failure (in
    list order) re-raises, noting any others."""
    if len(actions) <= 1:
        return [a() for a in actions]
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inherit(a)) for a in actions]
    errors = [e for e in (f.exception() for f in futures) if e is not None]
    if errors:
        for other in errors[1:]:
            errors[0].add_note(f"a concurrent action also failed: {other!r}")
        raise errors[0]
    return [f.result() for f in futures]
