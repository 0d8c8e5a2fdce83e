"""Shared deterministic hashing constants + kernels for the dedup and
similarity operators.  Each kernel is one Spark-SQL text builder
(``spark_sql_*``, for ``selectExpr``/``F.expr``) next to its
hand-written DuckDB twin (``sql_*``); both derive randomness from md5
(cross-engine identical) and fixed integer constants (generated by LCG
below, embedded as literals in the SQL so the oracle needs no Python).

Arithmetic safety: token hashes are 32-bit; minhash multipliers < 2^20,
so a*h+b < 2^52 — exact in BIGINT and double on both engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from ..functions.text import HASH_MOD, spark_sql_token_hash, sql_token_hash

# ------------------------------------------------------------ constants

N_MINHASH = 16  # 8 bands × 2 rows
N_BANDS = 8
ROWS_PER_BAND = N_MINHASH // N_BANDS

# LCG-derived multipliers/offsets (deterministic, hash-independent)
MINHASH_PERMS: list[tuple[int, int]] = [
    (((i + 1) * 48271) % 1048573, ((i + 1) * 16807) % 1048573)
    for i in range(N_MINHASH)
]

N_HYPERPLANES = 16
EMB_DIM = 64
# Integer hyperplane weights in [-1000, 1000] (exact in double)
HYPERPLANES: list[list[int]] = [
    [((i * EMB_DIM + j) * 2654435761 % 2001) - 1000 for j in range(EMB_DIM)]
    for i in range(N_HYPERPLANES)
]

# (simhash constants live in dedup/operators.py next to the operator)

# ------------------------------------------------------------ minhash


def spark_sql_shingle_hashes(shingles_expr: str) -> str:
    """array<long> of 32-bit token hashes — compute ONCE per document,
    then feed every minhash permutation: the md5 inside the token hash
    is the expensive part, and factoring it out of the 16 perms is a
    16× reduction in hash work (value-identical: the perms are affine
    maps of the same hash)."""
    return f"transform({shingles_expr}, t -> {spark_sql_token_hash('t')})"


def sql_shingle_hashes(shingles_expr: str) -> str:
    return f"list_transform({shingles_expr}, t -> {sql_token_hash('t')})"


def spark_sql_minhash_signature(hashes_expr: str) -> str:
    """array<long> of N_MINHASH minhashes over a pre-hashed shingle
    array (see spark_sql_shingle_hashes).

    Evaluated as ONE pass over the shingle array: each shingle expands
    to its 16 permuted values, folded with an elementwise min.  The
    naive form — 16 separate ``array_min(transform(...))`` — evaluates
    the ``hashes`` argument 16× (Catalyst inlines the shared
    subexpression into every branch; no CSE across interpreted
    higher-order functions), which re-runs the md5 token hashing per
    permutation.  min is evaluation-order independent, so both forms
    are value-identical and the DuckDB oracle keeps its per-perm
    list_min shape."""
    perms = ", ".join(
        f"({a} * h + {b}) % {HASH_MOD}" for a, b in MINHASH_PERMS
    )
    init = ", ".join(f"{HASH_MOD}L" for _ in range(N_MINHASH))
    return (
        f"aggregate(transform({hashes_expr}, h -> array({perms})), "
        f"array({init}), "
        "(acc, x) -> zip_with(acc, x, (a, b) -> least(a, b)))"
    )


def sql_minhash_signature(hashes_expr: str) -> str:
    parts = [
        f"list_min(list_transform({hashes_expr}, "
        f"h -> ({a} * h + {b}) % {HASH_MOD}))"
        for a, b in MINHASH_PERMS
    ]
    return "[" + ", ".join(parts) + "]"


def spark_sql_band_keys(sig_expr: str) -> str:
    """array<string> of N_BANDS band-bucket keys (band id prefixed so
    buckets never collide across bands)."""
    keys = []
    for band in range(N_BANDS):
        parts = [f"'{band}'"] + [
            f"cast(element_at({sig_expr}, "
            f"{band * ROWS_PER_BAND + r + 1}) AS string)"
            for r in range(ROWS_PER_BAND)
        ]
        keys.append(f"concat_ws(',', {', '.join(parts)})")
    return f"array({', '.join(keys)})"


def sql_band_keys(sig_expr: str) -> str:
    keys = []
    for band in range(N_BANDS):
        parts = [f"'{band}'"] + [
            f"CAST({sig_expr}[{band * ROWS_PER_BAND + r + 1}] AS VARCHAR)"
            for r in range(ROWS_PER_BAND)
        ]
        keys.append(" || ',' || ".join(parts))
    return "[" + ", ".join(keys) + "]"


# ------------------------------------------------------- hyperplane LSH


def spark_sql_as_double_array(emb: str) -> str:
    """The embedding array cast element-wise to double."""
    return f"transform({emb}, x -> cast(x AS double))"


def spark_sql_dot_fold(a: str, b: str) -> str:
    """Sequential left-fold dot product of two double arrays —
    bit-identical to DuckDB's list_reduce over the same values."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


# DuckDB oracle of the int bucket id: sign bits of N_HYPERPLANES
# integer hyperplane projections, each a sequential dot-product fold
# (the Spark side is hyperplane_signature_udf below).
def sql_hyperplane_signature(emb_expr: str) -> str:
    terms = []
    for i, w in enumerate(HYPERPLANES):
        warr = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in w) + "]"
        dot = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {EMB_DIM + 1}), "
            f"j -> CAST({emb_expr}[j] AS DOUBLE) * ({warr})[j])), "
            f"(a, b) -> a + b)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# DuckDB exact-fold cosine of two float-array columns (cast to
# double): dot / sqrt(na * nb), every reduction a sequential left-fold.
def sql_cosine_fold(a_expr: str, b_expr: str) -> str:
    def fold_dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {EMB_DIM + 1}), "
            f"j -> CAST({x}[j] AS DOUBLE) * CAST({y}[j] AS DOUBLE))), "
            f"(a, b) -> a + b)"
        )

    return (
        f"({fold_dot(a_expr, b_expr)} / "
        f"sqrt({fold_dot(a_expr, a_expr)} * {fold_dot(b_expr, b_expr)}))"
    )


def hyperplane_signature_udf():
    """Spark form of the hyperplane signature (Arrow-batched): numpy
    accumulates dimension-by-dimension in the SAME order as the
    sequential fold — acc starts at 0.0 and adds x_j·w_ij in ascending
    j, so every IEEE addition is identical and the signature is
    bit-equal to the DuckDB oracle :func:`sql_hyperplane_signature`.
    ~40× less per-row overhead than 16 interpreted higher-order-function
    folds (measured on sf0.1 embeddings).
    """
    # (EMB_DIM, N_HYPERPLANES): row j holds every hyperplane's weight j
    WT = np.array(HYPERPLANES, dtype="float64").T
    bits = np.array([1 << i for i in range(N_HYPERPLANES)], dtype="int64")

    def sig(emb: pd.Series) -> pd.Series:
        X = np.stack(emb.to_numpy())  # (batch, EMB_DIM)
        acc = np.zeros((len(X), N_HYPERPLANES), dtype="float64")
        for j in range(EMB_DIM):  # sequential dim order = fold order
            acc += X[:, j : j + 1].astype("float64") * WT[j]
        return pd.Series(((acc > 0) * bits).sum(axis=1))

    return F.pandas_udf(sig, "long")
