"""Probabilistic data structures as first-class queries: HyperLogLog
distinct-count sketches and the bloom-filter semi-join (the count-min
sketch lives with the text family, queries/text.py).

These are the memory-bounded answers to questions that are exact-but-
expensive at 100 TB: COUNT(DISTINCT) shuffles every distinct key;
the HLL sketch shuffles a CONSTANT 256 registers however large the
input, and per-group sketches merge associatively (max per register)
so daily sketches roll up to monthly/all-time without rescanning.
Each query reports the estimate NEXT TO the exact count — the
sketch-accuracy audit a pipeline runs before trusting the sketch
where the exact count is no longer affordable.

Cross-engine determinism (the repo's md5 recipe,
functions/text.py): the register index and rank are derived from the
32-bit md5 hash — bucket = h mod m, rank = leading-zero count of the
remaining bits + 1 via binary-digit length (both engines: length of
the base-2 string; no log2/libm anywhere).  The harmonic sum is a sum
of powers of two — EXACT in double regardless of summation order — so
Spark and DuckDB produce bit-identical estimates, something no
library HLL (murmur-seeded, engine-private bias tables) can do.
The alpha_m bias constant is precomputed in Python and embedded as
the same literal on both sides.

Reference scope note: the coiled/etl-tpch reference has no sketch
operators (its 521-LoC pipeline delegates aggregation to Dask/Delta);
this family is north-star scope — SURVEY.md §2's "operations a
large-scale training-data pipeline needs".
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from ..exprs import json_array_lit
from ..functions.agg import money
from ..functions.text import spark_sql_token_hash, sql_token_hash
from ..operators.bloom import bloom_semi_join, bloom_semi_join_unbounded
from ..registry import REGISTRY, query

# alpha_m * m^2 for the standard HLL bias correction, precomputed in
# Python and embedded as identical literals in Spark and the oracle —
# double parsing is exact round-trip on both engines, and every
# remaining operation (power-of-two sums, one divide, round) is
# IEEE-deterministic.
_M_GLOBAL = 256  # p=8: ~6.5% standard error
_C_GLOBAL = repr(0.7213 / (1 + 1.079 / _M_GLOBAL) * _M_GLOBAL * _M_GLOBAL)
_M_DAILY = 64  # p=6: ~13% standard error, 64 registers per day
_C_DAILY = repr(0.7213 / (1 + 1.079 / _M_DAILY) * _M_DAILY * _M_DAILY)

# rank = (32 - p) - floor(log2(w)) for w > 0, computed as
# (32 - p) + 1 - digits(w) where digits = length of base-2 string;
# w = 0 (all remaining bits zero) → rank = (32 - p) + 1.
_RANK_MAX_GLOBAL = 32 - 8 + 1  # 25
_RANK_MAX_DAILY = 32 - 6 + 1  # 27

# Small-range (linear counting) correction — the full HLL algorithm:
# when the raw estimate ≤ 2.5m and V registers are still empty, the
# better estimator is m·ln(m/V).  ln is libm (NOT bit-portable across
# engines), so the m·ln(m/V) values for V = 1..m are precomputed in
# Python and embedded as literal lookup tables on both sides — at
# query time the correction is one array index, zero transcendental
# calls, bit-identical everywhere.
_LC_TABLE = {
    m: [m * math.log(m / v) for v in range(1, m + 1)]
    for m in (_M_GLOBAL, _M_DAILY)
}


def _lc_sql_table(m: int) -> str:
    return "[" + ", ".join(repr(x) for x in _LC_TABLE[m]) + "]"


def _corrected_est_spark(raw, hit, m: int):
    """raw estimate + linear-counting switch as a column expression."""
    v = (F.lit(m) - hit).cast("int")
    # one ArrayType Literal node, not a 256-child CreateArray — and
    # via from_json so construction is 3 py4j round-trips, not ~2 per
    # element (round 11; values bit-identical: shortest-round-trip
    # repr → Jackson correctly-rounded parse)
    table = json_array_lit(_LC_TABLE[m], "double")
    return F.round(
        F.when(
            (raw <= F.lit(2.5 * m)) & (v > 0), F.element_at(table, v)
        ).otherwise(raw),
        4,
    )


def _hll_spark(rows: DataFrame, m: int, rank_max: int):
    """(group_cols…, reg, rho) → per-register maxima aggregate input.
    ``rows`` must already carry the key as a string column ``k``."""
    with_h = rows.selectExpr("*", f"{spark_sql_token_hash('k')} AS h")
    reg = (F.col("h") % m).alias("reg")
    w = F.shiftright("h", {256: 8, 64: 6}[m]).alias("w")
    with_w = with_h.select("*", reg, w)
    rho = F.when(F.col("w") == 0, rank_max).otherwise(
        rank_max - F.length(F.conv(F.col("w"), 10, 2))
    )
    return with_w.select("*", rho.alias("rho"))


_HLL_GLOBAL_ORACLE = f"""
    WITH h AS (
        SELECT {sql_token_hash("CAST(o_custkey AS VARCHAR)")} AS h
        FROM orders
    ),
    rw AS (SELECT h % {_M_GLOBAL} AS reg, h >> 8 AS w FROM h),
    rr AS (
        SELECT reg,
               CASE WHEN w = 0 THEN {_RANK_MAX_GLOBAL}
                    ELSE {_RANK_MAX_GLOBAL} - length(bin(w)) END AS rho
        FROM rw
    ),
    regs AS (SELECT reg, max(rho) AS m_rho FROM rr GROUP BY 1),
    agg AS (
        SELECT count(*) AS hit,
               sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_rho))
                 AS s_hit
        FROM regs
    ),
    raw AS (
        SELECT CAST(hit AS BIGINT) AS registers_hit,
               {_C_GLOBAL}
                 / (s_hit + ({_M_GLOBAL} - hit) * CAST(1 AS DOUBLE))
                 AS raw_est,
               CAST({_M_GLOBAL} - hit AS INT) AS v
        FROM agg
    ),
    est AS (
        SELECT registers_hit,
               round(CASE WHEN raw_est <= {2.5 * _M_GLOBAL!r} AND v > 0
                          THEN list_extract({_lc_sql_table(_M_GLOBAL)}, v)
                          ELSE raw_est END, 4) AS est_distinct
        FROM raw
    ),
    tc AS (
        SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS true_distinct
        FROM orders
    )
    SELECT CAST({_M_GLOBAL} AS BIGINT) AS m, registers_hit, est_distinct,
           true_distinct,
           round(abs(est_distinct - true_distinct) * 100
                 / true_distinct, 4) AS err_pct
    FROM est, tc
"""


@query("agg_hll_distinct_customers", oracle=_HLL_GLOBAL_ORACLE)
def agg_hll_distinct_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HyperLogLog distinct buyers over orders, m=256 registers.

    Scale shape vs COUNT(DISTINCT): the exact form shuffles every
    distinct key; this plan's only wide exchange carries AT MOST 256
    (reg, max-rank) rows after map-side partial max — constant
    regardless of fact-table size, the property that makes the sketch
    the 100 TB answer.  Below 2.5m the estimator switches to linear
    counting via the precomputed m·ln(m/V) table (the full HLL
    algorithm, still bit-portable).  The exact count is computed
    alongside as the accuracy audit (σ ≈ 1.04/√m = 6.5%)."""
    t = Tables(spark, sf_dir)
    rows = t.orders.select(
        F.col("o_custkey").cast("string").alias("k")
    )
    scored = _hll_spark(rows, _M_GLOBAL, _RANK_MAX_GLOBAL)
    regs = scored.groupBy("reg").agg(F.max("rho").alias("m_rho"))
    agg = regs.agg(
        F.count(F.lit(1)).alias("hit"),
        F.sum(
            F.lit(1.0)
            / F.expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
        ).alias("s_hit"),
    )
    raw = F.lit(float(_C_GLOBAL)) / (
        F.col("s_hit") + (F.lit(_M_GLOBAL) - F.col("hit")) * F.lit(1.0)
    )
    est = agg.select(
        F.col("hit").cast("long").alias("registers_hit"),
        _corrected_est_spark(raw, F.col("hit"), _M_GLOBAL).alias(
            "est_distinct"
        ),
    )
    tc = t.orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("true_distinct")
    )
    return est.crossJoin(tc).select(
        F.lit(_M_GLOBAL).cast("long").alias("m"),
        "registers_hit",
        "est_distinct",
        "true_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            * 100
            / F.col("true_distinct"),
            4,
        ).alias("err_pct"),
    )


_HLL_DAILY_ORACLE = f"""
    WITH h AS (
        SELECT date_trunc('day', ts) AS day,
               {sql_token_hash("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    rr AS (
        SELECT day, h % {_M_DAILY} AS reg,
               CASE WHEN (h >> 6) = 0 THEN {_RANK_MAX_DAILY}
                    ELSE {_RANK_MAX_DAILY} - length(bin(h >> 6)) END AS rho
        FROM h
    ),
    regs AS (
        SELECT day, reg, max(rho) AS m_rho FROM rr GROUP BY 1, 2
    ),
    agg AS (
        SELECT day, count(*) AS hit,
               sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << m_rho))
                 AS s_hit
        FROM regs GROUP BY 1
    ),
    raw AS (
        SELECT day,
               {_C_DAILY}
                 / (s_hit + ({_M_DAILY} - hit) * CAST(1 AS DOUBLE))
                 AS raw_est,
               CAST({_M_DAILY} - hit AS INT) AS v
        FROM agg
    ),
    est AS (
        SELECT day,
               round(CASE WHEN raw_est <= {2.5 * _M_DAILY!r} AND v > 0
                          THEN list_extract({_lc_sql_table(_M_DAILY)}, v)
                          ELSE raw_est END, 4) AS est_users
        FROM raw
    ),
    tc AS (
        SELECT date_trunc('day', ts) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS true_users
        FROM events GROUP BY 1
    )
    SELECT day, est_users, true_users
    FROM est JOIN tc USING (day)
    ORDER BY day
"""


@query("events_hll_daily_users", oracle=_HLL_DAILY_ORACLE)
def events_hll_daily_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day distinct-user HLL sketches (m=64 per day) — the grouped
    sketch shape: one 64-register sketch per day, shuffle output
    bounded by days×64 rows however many events arrive.  Because the
    register max is associative, these daily sketches ALSO merge into
    weekly/all-time estimates without touching raw events again (the
    merge test lives in tests/test_sketches.py); exact daily counts
    ride alongside as the audit."""
    t = Tables(spark, sf_dir)
    rows = t.events.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("user_id").cast("string").alias("k"),
    )
    scored = _hll_spark(rows, _M_DAILY, _RANK_MAX_DAILY)
    regs = scored.groupBy("day", "reg").agg(F.max("rho").alias("m_rho"))
    agg = regs.groupBy("day").agg(
        F.count(F.lit(1)).alias("hit"),
        F.sum(
            F.lit(1.0)
            / F.expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
        ).alias("s_hit"),
    )
    raw = F.lit(float(_C_DAILY)) / (
        F.col("s_hit") + (F.lit(_M_DAILY) - F.col("hit")) * F.lit(1.0)
    )
    est = agg.select(
        "day",
        _corrected_est_spark(raw, F.col("hit"), _M_DAILY).alias(
            "est_users"
        ),
    )
    tc = t.events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.countDistinct("user_id").cast("long").alias("true_users"))
    return est.join(tc, "day").orderBy("day")


@query(
    "join_bloom_semi_orders",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_price
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        )
        GROUP BY 1 ORDER BY 1
    """,
)
def join_bloom_semi_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orders of high-balance customers via the bloom-prefiltered
    semi-join (operators/bloom.py): an auto-sized (~10 bits/key)
    filter of the ~9% of customers above the balance cut drops
    non-matching orders AT THE SCAN — measured at sf0.1: 90% of probe
    rows eliminated at 0.7% false positives — so the exchange feeding
    the exact semi-join carries only candidates.  Output ≡ the plain
    semi-join (the oracle runs the plain form); the bloom is pure
    early pruning — the explicit, engine-controlled form of AQE's
    runtime bloom filter, for the 100 TB case where the build side
    outgrows broadcast."""
    t = Tables(spark, sf_dir)
    rich = t.customer.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey"
    )
    # m_bits pinned (≥10 bits/key through sf1) instead of auto-sized:
    # skips the build-side count job — one less fixed-cost stage
    hits = bloom_semi_join(
        t.orders, rich, "o_custkey", "c_custkey", m_bits=16384
    )
    return (
        hits.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(money(F.col("o_totalprice"))), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_bloom_semi_orders_unbounded",
    oracle=REGISTRY["join_bloom_semi_orders"].oracle,
)
def join_bloom_semi_orders_unbounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same high-balance-customer semi-join through the UNCAPPED
    word-table bloom (operators/bloom.py bloom_semi_join_unbounded):
    the bitset rides a broadcast (w, bits) relation probed by k
    equi-joins on word index instead of a codegen'd literal array, so
    sizing follows 10 bits/key past the literal form's 65,536-bit /
    ~6.5k-key ceiling (pinned at a 100k-key build in
    tests/test_sketches.py — ≥90% prune where the capped form decays
    to none), and the exact semi-join that follows is left to AQE
    (no broadcast hint) because at motivating scale the key set
    outgrows broadcast.  Output ≡ the plain semi-join ⇒ the
    join_bloom_semi_orders oracle applies verbatim."""
    t = Tables(spark, sf_dir)
    rich = t.customer.filter(F.col("c_acctbal") > 9000).select(
        "c_custkey"
    )
    hits = bloom_semi_join_unbounded(
        t.orders, rich, "o_custkey", "c_custkey"
    )
    return (
        hits.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(money(F.col("o_totalprice"))), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


_HLL_OVERLAP_ORACLE = f"""
    WITH h AS (
        SELECT date_trunc('day', ts) AS day,
               {sql_token_hash("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    rr AS (
        SELECT day, h % {_M_DAILY} AS reg,
               CASE WHEN (h >> 6) = 0 THEN {_RANK_MAX_DAILY}
                    ELSE {_RANK_MAX_DAILY} - length(bin(h >> 6)) END AS rho
        FROM h
    ),
    regs AS (
        SELECT day, reg, max(rho) AS m_rho FROM rr GROUP BY 1, 2
    ),
    -- union sketch of (p, p+1day): every register row feeds pair p=day
    -- (as side A) and pair p=day-1 (as side B); max-merge per register
    contrib AS (
        SELECT day AS p, reg, m_rho FROM regs
        UNION ALL
        SELECT day - INTERVAL 1 DAY AS p, reg, m_rho FROM regs
    ),
    u_regs AS (
        SELECT p, reg, max(m_rho) AS m_rho FROM contrib GROUP BY 1, 2
    ),
    est_day AS (
        SELECT day AS k,
               round(CASE WHEN raw_est <= {2.5 * _M_DAILY!r} AND v > 0
                          THEN list_extract({_lc_sql_table(_M_DAILY)}, v)
                          ELSE raw_est END, 4) AS est
        FROM (
            SELECT day,
                   {_C_DAILY} / (s_hit + ({_M_DAILY} - hit)
                                 * CAST(1 AS DOUBLE)) AS raw_est,
                   CAST({_M_DAILY} - hit AS INT) AS v
            FROM (
                SELECT day, count(*) AS hit,
                       sum(CAST(1 AS DOUBLE)
                           / (CAST(1 AS BIGINT) << m_rho)) AS s_hit
                FROM regs GROUP BY 1
            )
        )
    ),
    est_union AS (
        SELECT p AS k,
               round(CASE WHEN raw_est <= {2.5 * _M_DAILY!r} AND v > 0
                          THEN list_extract({_lc_sql_table(_M_DAILY)}, v)
                          ELSE raw_est END, 4) AS est
        FROM (
            SELECT p,
                   {_C_DAILY} / (s_hit + ({_M_DAILY} - hit)
                                 * CAST(1 AS DOUBLE)) AS raw_est,
                   CAST({_M_DAILY} - hit AS INT) AS v
            FROM (
                SELECT p, count(*) AS hit,
                       sum(CAST(1 AS DOUBLE)
                           / (CAST(1 AS BIGINT) << m_rho)) AS s_hit
                FROM u_regs GROUP BY 1
            )
        )
    ),
    du AS (SELECT DISTINCT day, user_id FROM
           (SELECT date_trunc('day', ts) AS day, user_id FROM events)),
    truth AS (
        SELECT a.day AS day, CAST(count(*) AS BIGINT) AS true_overlap
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
        GROUP BY 1
    )
    SELECT a.k AS day,
           a.est AS est_day_users,
           b.est AS est_next_users,
           u.est AS est_union,
           round(a.est + b.est - u.est, 4) AS est_overlap,
           COALESCE(t.true_overlap, 0) AS true_overlap
    FROM est_day a
    JOIN est_day b ON b.k = a.k + INTERVAL 1 DAY
    JOIN est_union u ON u.k = a.k
    LEFT JOIN truth t ON t.day = a.k
    ORDER BY day
"""


@query("events_hll_overlap", oracle=_HLL_OVERLAP_ORACLE)
def events_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retained users estimated ENTIRELY from HLL
    registers: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union
    sketch is the per-register MAX of the two days' stored registers —
    the sketch set-operation that turns the persisted HLL index
    (pipeline/hll_index.py) into a retention dashboard with ZERO raw
    event re-scans (here events are read once to build the daily
    registers; with the index the registers are already stored).
    Exact day-pair overlap rides along as the accuracy audit
    (inclusion-exclusion compounds the ±13% per-sketch error).

    Scale shape: register frames are days×64 rows — the pair merge,
    union estimate and final join all run on sketch-sized data however
    many events exist."""
    t = Tables(spark, sf_dir)
    rows = t.events.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("user_id").cast("string").alias("k"),
    )
    scored = _hll_spark(rows, _M_DAILY, _RANK_MAX_DAILY)
    regs = scored.groupBy("day", "reg").agg(F.max("rho").alias("m_rho"))

    def _est(frame: DataFrame, key: str, out: str) -> DataFrame:
        agg = frame.groupBy(key).agg(
            F.count(F.lit(1)).alias("hit"),
            F.sum(
                F.lit(1.0)
                / F.expr("shiftleft(CAST(1 AS BIGINT), m_rho)")
            ).alias("s_hit"),
        )
        raw = F.lit(float(_C_DAILY)) / (
            F.col("s_hit") + (F.lit(_M_DAILY) - F.col("hit")) * F.lit(1.0)
        )
        return agg.select(
            F.col(key).alias("k"),
            _corrected_est_spark(raw, F.col("hit"), _M_DAILY).alias(out),
        )

    contrib = regs.select(
        F.col("day").alias("p"), "reg", "m_rho"
    ).unionAll(
        regs.select(
            (F.col("day") - F.expr("INTERVAL 1 DAY")).alias("p"),
            "reg",
            "m_rho",
        )
    )
    u_regs = contrib.groupBy("p", "reg").agg(F.max("m_rho").alias("m_rho"))

    est_day = _est(regs, "day", "est")
    est_union = _est(u_regs, "p", "est")

    du = (
        t.events.select(
            F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
        )
        .distinct()
    )
    db = du.select(F.col("day").alias("day_b"), F.col("user_id").alias("u"))
    truth = (
        du.join(
            db,
            (F.col("user_id") == F.col("u"))
            & (F.col("day_b") == F.col("day") + F.expr("INTERVAL 1 DAY")),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("true_overlap"))
    )

    a = est_day.select(F.col("k").alias("day"), F.col("est").alias("est_day_users"))
    b = est_day.select(
        (F.col("k") - F.expr("INTERVAL 1 DAY")).alias("day"),
        F.col("est").alias("est_next_users"),
    )
    u = est_union.select(F.col("k").alias("day"), F.col("est").alias("est_union"))
    return (
        a.join(b, "day")
        .join(u, "day")
        .join(truth, "day", "left")
        .select(
            "day",
            "est_day_users",
            "est_next_users",
            "est_union",
            F.round(
                F.col("est_day_users")
                + F.col("est_next_users")
                - F.col("est_union"),
                4,
            ).alias("est_overlap"),
            F.coalesce("true_overlap", F.lit(0)).alias("true_overlap"),
        )
        .orderBy("day")
    )
