"""Persisted HyperLogLog register index — incremental distinct counts
without rescanning history.

The batch query (queries/sketches.py events_hll_daily_users) builds
its per-day sketches from ALL events every run.  Register maxima are
associative and idempotent (max), so at scale the sketch is a stored
artifact: each arriving batch contributes its own (day, reg, rho)
maxima, and the running estimate is a merge of stored rows — history
is never re-read.  This is the same index lifecycle as the MinHash
signature index (dedup/index.py) and the IVF inverted file
(similarity/index.py), applied to an aggregate sketch:

1. ``tick`` reduces ONE new batch to its per-(day, register) maxima —
   at most days×m rows however many events the batch holds — and
   appends them to a TxTable (exactly-once batch ids: a replayed
   tick appends nothing);
2. ``registers``/``estimate`` merge stored rows by max on read —
   bit-identical to the sketch built in one pass over all history
   (tests/test_hll_index.py pins the equality, not an approximation);
3. ``fold`` rewrites accumulated tick rows into one row per (day,
   register) — the sketch-aware OPTIMIZE; the merge-on-read result is
   unchanged, the index stops growing with tick count.

Reference parity: the reference keeps derived state in Delta tables
between runs (reference pipeline/preprocess.py:41-76); no sketch
counterpart exists there — this is north-star scope (SURVEY.md §2,
"operations a large-scale training-data pipeline needs").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.sketches import (
    _M_DAILY,
    _RANK_MAX_DAILY,
    _C_DAILY,
    _corrected_est_spark,
    _hll_spark,
)
from .txlog import TxTable


class HllIndex:
    """A TxTable of per-day HLL register maxima over event user_ids."""

    def __init__(self, path: str) -> None:
        self.table = TxTable(path)

    @staticmethod
    def _batch_registers(events: DataFrame) -> DataFrame:
        """Reduce one batch to its (day, reg, m_rho) maxima — the only
        shuffle is onto at most days×64 groups."""
        rows = events.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("user_id").cast("string").alias("k"),
        )
        scored = _hll_spark(rows, _M_DAILY, _RANK_MAX_DAILY)
        return scored.groupBy("day", "reg").agg(
            F.max("rho").alias("m_rho")
        )

    def tick(
        self, events: DataFrame, *, batch_id: str | None = None
    ) -> int:
        """Fold a new batch into the index (idempotent on batch_id)."""
        return self.table.append(
            self._batch_registers(events), batch_id=batch_id
        )

    def registers(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Merged per-(day, register) maxima across all stored ticks."""
        return (
            self.table.read(spark, version)
            .groupBy("day", "reg")
            .agg(F.max("m_rho").alias("m_rho"))
        )

    def estimate(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Per-day distinct-user estimates from stored registers only —
        the running dashboard number, computed without touching one
        historical event row.  Identical estimator (incl. the
        linear-counting table) to the batch query, so merged-index
        estimates equal the one-shot sketch bit-for-bit."""
        regs = self.registers(spark, version)
        agg = regs.groupBy("day").agg(
            F.count(F.lit(1)).alias("hit"),
            F.sum(
                F.lit(1.0)
                / F.expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
            ).alias("s_hit"),
        )
        raw = F.lit(float(_C_DAILY)) / (
            F.col("s_hit")
            + (F.lit(_M_DAILY) - F.col("hit")) * F.lit(1.0)
        )
        return agg.select(
            "day",
            _corrected_est_spark(raw, F.col("hit"), _M_DAILY).alias(
                "est_users"
            ),
        ).orderBy("day")

    def fold(self, spark: SparkSession) -> int | None:
        """Sketch-aware OPTIMIZE: overwrite accumulated tick rows with
        their merge, one row per (day, register).  Estimates are
        unchanged (max is associative); the table size becomes
        days×64 regardless of how many ticks ever ran.

        The overwrite is PINNED to the version the merge was read
        from: a rival tick landing in between would otherwise be
        baked out of the replacement while its batch_id stays in the
        log — a lost update that exactly-once replay could never
        repair.  On conflict fold returns None (skip — folding is
        optional hygiene; the next maintenance pass retries)."""
        start_v = self.table.latest_version()
        if start_v is None:
            return None
        merged = (
            self.table.read(spark, version=start_v)
            .groupBy("day", "reg")
            .agg(F.max("m_rho").alias("m_rho"))
        )
        return self.table.overwrite(merged, expect_version=start_v)
