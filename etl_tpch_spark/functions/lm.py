"""Bigram-LM primitives shared by the CCNet-style quality-filter query
(queries/text.py text_lm_quality_filter) and the persisted LM lifecycle
(pipeline/lm_index.py) — ONE definition of counting, conditional
derivation and document scoring, so the indexed path is equivalent to
the query by construction (tests/test_lm_index.py pins it).

All probability arithmetic is micro-probability integers
(round(n_pair·1e6/n_w1) as BIGINT): per-document score sums are
integer — order-free — so results are bit-equal across engines and
across any partitioning.  Counts (not probabilities) are the stored
representation: counts fold by plain summation, which makes the stored
LM appendable (new reference batches) and compactable (fold = regroup)
with no renormalization bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import spark_sql_tokens

MICRO = 1_000_000


def bigram_pairs(docs: DataFrame) -> DataFrame:
    """Explode each document into its (w1, w2) adjacent-token pairs
    (multiplicity kept — it IS the statistic), carrying all original
    columns.  Documents with fewer than two tokens contribute nothing
    (explode of an empty array)."""
    # clamp at 0: slice() raises on negative lengths, and empty /
    # whitespace-only text (routine in crawl JSON-lines) tokenizes to
    # size 0, which would make sz-1 == -1 and kill the whole batch.
    # arrays_zip (a codegen'd built-in) replaces the earlier
    # zip_with+struct lambda: higher-order functions evaluate their
    # lambda interpreted per element, and the pair explode was the
    # single largest term in every LM query at the 10× fixture
    # (2.24 s → 1.05 s for the same 2.7M pairs, SCALING.md round 6).
    n = F.greatest(F.size("W") - F.lit(1), F.lit(0))
    z = F.arrays_zip(
        F.slice("W", 1, n).alias("w1"), F.slice("W", 2, n).alias("w2")
    )
    return (
        docs.withColumn("W", F.expr(spark_sql_tokens("text")))
        .withColumn("p", F.explode(z))
        .drop("W")
    )


def bigram_counts(ref_docs: DataFrame) -> DataFrame:
    """(w1, w2, n_pair) counts over the reference slice — the stored
    representation of the LM.  One pair explode + one count shuffle."""
    return (
        bigram_pairs(ref_docs)
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )


def lm_from_counts(counts: DataFrame) -> DataFrame:
    """Derive the conditional table (w1, w2, p_micro) from (possibly
    multi-batch, unmerged) count rows.  The pre-aggregation makes the
    result invariant to how counts were batched into the store.

    Per-w1 totals come from a window over the aggregated counts, not a
    groupBy-then-self-join: the join form derived the ``counts``
    lineage TWICE (for an in-query LM that meant two full reference
    explode+count passes), while the window re-exchanges only the
    LM-sized rows.  Same integer arithmetic, same output."""
    from pyspark.sql import Window as W

    c = counts.groupBy("w1", "w2").agg(F.sum("n_pair").alias("n_pair"))
    n_w1 = F.sum("n_pair").over(W.partitionBy("w1"))
    return c.select(
        "w1",
        "w2",
        F.round(F.col("n_pair") * float(MICRO) / n_w1, 0)
        .cast("long")
        .alias("p_micro"),
    )


def score_docs(
    docs: DataFrame, lm: DataFrame, *, sort: bool = True
) -> DataFrame:
    """Per-document LM score: average bigram micro-probability under
    ``lm`` (unseen bigrams score 0 — the perplexity penalty).  Returns
    (doc_id, lang, source, n_bigrams, covered_bigrams, avg_p_micro),
    ordered by doc_id (``sort=False`` skips the global sort for
    consumers that re-aggregate — the sort is a range exchange whose
    sampling job re-executes the whole upstream).

    Scale shape: one doc-sized bigram explode joined against the
    LM-sized conditional table (broadcast when it fits, (w1, w2)
    shuffle otherwise — Catalyst/AQE picks), one per-doc aggregate."""
    doc_pairs = bigram_pairs(docs).select(
        "doc_id", "lang", "source", "p.w1", "p.w2"
    )
    scored = (
        doc_pairs.join(lm, ["w1", "w2"], "left")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count("p_micro").alias("covered_bigrams"),
            F.coalesce(F.sum("p_micro"), F.lit(0)).alias(
                "score_sum_micro"
            ),
        )
    )
    avg = F.round(
        F.col("score_sum_micro") * 1.0 / F.col("n_bigrams"), 0
    ).cast("long")
    out = scored.withColumn("avg_p_micro", avg).drop("score_sum_micro")
    return out.orderBy("doc_id") if sort else out
