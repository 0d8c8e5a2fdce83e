"""LLM-corpus daily tick (pipeline/corpus.py): dedup-via-index →
quality gate → split assignment → exactly-once corpus append →
optional OPTIMIZE/export, end to end over two crawl days."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.functions.text import spark_sql_quality_score
from etl_tpch_spark.pipeline.corpus import corpus_cycle, corpus_snapshot


def _days(spark, sf_dir):
    """Two crawl days with monotone doc_ids (the module's documented
    precondition: first-seen has the lower id)."""
    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r[0] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    return (
        docs.filter(F.col("doc_id") < cut),
        docs.filter(F.col("doc_id") >= cut),
    )


def test_two_ticks_build_a_curated_corpus(spark, sf_dir, tmp_path):
    d1, d2 = _days(spark, sf_dir)
    root = str(tmp_path / "corpus_root")

    s1 = corpus_cycle(spark, d1, root, batch_id="day-1")
    s2 = corpus_cycle(spark, d2, root, batch_id="day-2")

    assert s1["corpus_version"] == 1 and s2["corpus_version"] == 2
    # conservation per tick: new = dropped(dup) + dropped(quality) + kept
    for s in (s1, s2):
        assert s["n_new"] == (
            s["n_seen_dropped"]
            + s["n_dup_dropped"]
            + s["n_quality_dropped"]
            + s["n_appended"]
        )
        assert sum(s["splits"].values()) == s["n_appended"]

    corpus = corpus_snapshot(spark, root)
    assert corpus.count() == s1["n_appended"] + s2["n_appended"]
    # the quality gate held for every surviving row
    n_bad = corpus.filter(
        F.expr(spark_sql_quality_score("text")) < 0.2
    ).count()
    assert n_bad == 0
    # splits are a partition of the corpus
    assert corpus.groupBy("split").count().count() <= 3
    # time travel: the day-1 corpus is still readable
    assert corpus_snapshot(spark, root, version=1).count() == s1["n_appended"]


def test_replayed_tick_mutates_nothing(spark, sf_dir, tmp_path):
    d1, _ = _days(spark, sf_dir)
    root = str(tmp_path / "corpus_root")
    s1 = corpus_cycle(spark, d1, root, batch_id="day-1")
    s1b = corpus_cycle(spark, d1, root, batch_id="day-1")  # crash replay
    assert s1b["corpus_version"] == s1["corpus_version"] == 1
    assert corpus_snapshot(spark, root).count() == s1["n_appended"]


def test_cross_tick_dedup_drops_later_near_dups(spark, sf_dir, tmp_path):
    """Feed day-1's docs again on day-2 under shifted ids: every
    re-crawled doc is an exact dup of a stored lower-id doc and must
    be dropped by the index tick, not re-appended."""
    d1, _ = _days(spark, sf_dir)
    root = str(tmp_path / "corpus_root")
    s1 = corpus_cycle(spark, d1, root, batch_id="day-1")
    top = d1.agg(F.max("doc_id")).first()[0]
    recrawl = d1.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(top + 1)).cast("long")
    )
    s2 = corpus_cycle(spark, recrawl, root, batch_id="day-2")
    assert s2["n_dup_dropped"] == s2["n_new"]
    assert s2["n_appended"] == 0
    assert corpus_snapshot(spark, root).count() == s1["n_appended"]


def test_tick_drops_docs_without_tokens(spark, sf_dir, tmp_path):
    """Empty and whitespace-only crawl docs have no quality score
    (NULL, not a division by zero): a batch holding them completes,
    and they count as quality drops instead of landing in the
    corpus."""
    d1, _ = _days(spark, sf_dir)
    top = load_table(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    blank = spark.createDataFrame(
        [
            {**r.asDict(), "doc_id": top + 1 + i, "text": text}
            for i, (r, text) in enumerate(
                zip(d1.orderBy("doc_id").limit(2).collect(), ["", "   "])
            )
        ],
        d1.schema,
    )
    plain = corpus_cycle(spark, d1, str(tmp_path / "plain"), batch_id="day-1")
    root = str(tmp_path / "mixed")
    mixed = corpus_cycle(spark, d1.unionByName(blank), root, batch_id="day-1")
    assert mixed["n_new"] == plain["n_new"] + 2
    assert mixed["n_dup_dropped"] == plain["n_dup_dropped"]
    assert mixed["n_quality_dropped"] == plain["n_quality_dropped"] + 2
    assert mixed["n_appended"] == plain["n_appended"]
    kept = corpus_snapshot(spark, root).filter(F.col("doc_id") > top)
    assert kept.count() == 0


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): ~8 s lifecycle e2e
def test_compact_and_export(spark, sf_dir, tmp_path):
    d1, d2 = _days(spark, sf_dir)
    root = str(tmp_path / "corpus_root")
    corpus_cycle(spark, d1, root, batch_id="day-1")
    s2 = corpus_cycle(
        spark, d2, root, batch_id="day-2", compact=True, export=True,
        n_shards=4,
    )
    # post-OPTIMIZE: clustered corpus files
    assert len(
        os.listdir(os.path.join(root, "export"))
    ) >= 1
    assert sum(s2["export"].values()) == corpus_snapshot(
        spark, root
    ).filter(F.col("split") == "train").count()
    # export is deterministic: rerunning the export stage reproduces
    # identical shard counts
    s2b = corpus_cycle(
        spark, d2, root, batch_id="day-2", export=True, n_shards=4
    )
    assert s2b["export"] == s2["export"]


def test_corpus_table_constraints_block_rogue_writers(
    spark, sf_dir, tmp_path
):
    """The cycle installs CHECK constraints on the corpus table, so a
    writer that bypasses the curation gate entirely still cannot land
    below-floor rows or junk splits — enforcement lives at the
    lakehouse boundary, not in one code path."""
    import pytest

    from etl_tpch_spark.catalog import load_table
    from etl_tpch_spark.pipeline.corpus import corpus_cycle
    from etl_tpch_spark.pipeline.txlog import TxTable

    root = str(tmp_path / "lake")
    docs = load_table(spark, sf_dir, "documents").limit(50)
    corpus_cycle(spark, docs, root, batch_id="b0")
    corpus = TxTable(os.path.join(root, "corpus"))
    assert set(corpus.constraints()) == {"quality_floor", "split_domain"}
    good = corpus.read(spark).limit(1)
    rogue = good.withColumn("quality", F.lit(-1.0))
    with pytest.raises(ValueError, match="quality_floor"):
        corpus.append(rogue)
    rogue2 = good.withColumn("split", F.lit("tset"))
    with pytest.raises(ValueError, match="split_domain"):
        corpus.append(rogue2)
