"""BPE trainer (queries/bpe.py) vs an independent pure-Python
reference implementation of the same algorithm — a third opinion
besides the DuckDB unrolled-CTE oracle, and the place where the merge
semantics (no self-pairs, merge-all-matches, (count, lhs, rhs)
tie-break) are spelled out executably."""

from __future__ import annotations

from collections import Counter

from etl_tpch_spark.catalog import Tables
from etl_tpch_spark.queries.bpe import (
    _BPE_K,
    text_bpe_merges,
    text_bpe_segment,
)


def _ref_bpe(word_freq: dict[str, int], k: int):
    """Reference trainer: dict/Counter only, no Spark, no SQL."""
    vocab = {w: [c for c in w] for w in word_freq}
    merges = []
    for rank in range(1, k + 1):
        counts: Counter = Counter()
        for w, toks in vocab.items():
            f = word_freq[w]
            for a, b in zip(toks, toks[1:]):
                if a != b:
                    counts[(a, b)] += f
        if not counts:
            break
        # (count DESC, lhs, rhs): lexicographically-least pair among
        # the maximal-count pairs
        top = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == top)
        cnt = counts[best_pair]
        l, r = best_pair
        merges.append((rank, l, r, l + r, cnt))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_matches_pure_python_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    wf: Counter = Counter()
    for row in docs:
        for w in row.text.split(" "):
            if w:
                wf[w] += 1
    ref_merges, ref_vocab = _ref_bpe(dict(wf), _BPE_K)

    got = [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in text_bpe_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    assert got == ref_merges

    seg = {r.word: r for r in text_bpe_segment(spark, sf_dir).collect()}
    assert set(seg) == set(ref_vocab)
    for w, toks in ref_vocab.items():
        assert seg[w].segmentation == " ".join(toks)
        assert seg[w].n_subwords == len(toks)
        # subwords reassemble the word exactly
        assert seg[w].segmentation.replace(" ", "") == w
        assert seg[w].freq == wf[w]


def test_bpe_merges_are_real(spark, sf_dir):
    rows = text_bpe_merges(spark, sf_dir).collect()
    assert len(rows) == _BPE_K
    ranks = sorted(r.merge_rank for r in rows)
    assert ranks == list(range(1, _BPE_K + 1))
    for r in rows:
        assert r.lhs != r.rhs  # self-pairs excluded by contract
        assert r.merged == r.lhs + r.rhs
        assert r.pair_count > 0


def test_bpe_oracle_survives_early_saturation(spark, tmp_path):
    """When merge candidates dry up before _BPE_K rounds (vocabulary of
    single chars and same-char runs has no non-self pairs), the engine
    breaks out of the loop — and the oracle's LEFT JOIN rounds must
    pass the vocabulary through unchanged instead of annihilating it
    (the CROSS JOIN bug this test pins)."""
    import duckdb

    from etl_tpch_spark import registry

    sf = str(tmp_path)
    docs = spark.createDataFrame(
        [(i, "a bb a ccc a bb", "en", "s0", 15) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    reg = registry.load_all()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = con.execute(reg["text_bpe_segment"].oracle).df()
    got = reg["text_bpe_segment"].fn(spark, sf).toPandas()
    assert len(want) == len(got) == 3  # a / bb / ccc all survive
    w = {r.word: r.segmentation for r in got.itertuples()}
    assert w == dict(zip(want.word, want.segmentation))
    # merges saturate identically: both sides emit the same short table
    wm = con.execute(reg["text_bpe_merges"].oracle).df()
    gm = reg["text_bpe_merges"].fn(spark, sf).toPandas()
    assert list(map(tuple, wm.values)) == list(map(tuple, gm.values))


def test_production_trainer_equals_relational_at_demo_k(spark, sf_dir):
    """train_bpe (one word-count job + driver-side merge loop) produces
    the IDENTICAL merge table to the relational per-round trainer at
    demo K — the equality that licenses swapping the production path in
    for large vocabularies (VERDICT r3 #5)."""
    from etl_tpch_spark.queries.bpe import _BPE_K, text_bpe_merges, train_bpe

    t = Tables(spark, sf_dir)
    got = [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in train_bpe(t.documents, _BPE_K)
    ]
    want = [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in text_bpe_merges(spark, sf_dir).collect()
    ]
    assert got == want


def test_production_trainer_k256_time_budget(spark, sf_dir):
    """K=256 production vocabulary on the fixture corpus: one Spark job
    total, merge loop driver-side — the run SCALING.md times.  Budget
    60 s is a regression tripwire (measured ~2 s at sf0.001, ~3 s at
    sf0.01); a per-merge Spark job would blow through it 10×."""
    import time

    from etl_tpch_spark.queries.bpe import train_bpe

    t = Tables(spark, sf_dir)
    t0 = time.monotonic()
    merges = train_bpe(t.documents, 256)
    dt = time.monotonic() - t0
    assert dt < 60, dt
    assert len(merges) > 6  # goes well past demo K before saturating
    ranks = [m.merge_rank for m in merges]
    assert ranks == list(range(1, len(merges) + 1))
    # counts are non-increasing? NOT guaranteed for BPE in general
    # (merges create new pairs), but every count is positive
    assert all(m.pair_count > 0 for m in merges)


def test_sampled_trainer_is_deterministic(spark, sf_dir):
    from etl_tpch_spark.queries.bpe import train_bpe

    t = Tables(spark, sf_dir)
    a = train_bpe(t.documents, 8, sample_pct=50)
    b = train_bpe(t.documents, 8, sample_pct=50)
    assert a == b
    assert len(a) > 0


def test_encoder_udf_equals_expression_chain(spark, sf_dir):
    """The production pandas-UDF encoder (broadcast merge table, LRU
    word cache) segments every held-out word identically to the
    K-chained expression replay the oracle checks — including words
    the trainer never saw (OOV: start from chars, take what applies)."""
    from pyspark.sql import functions as F

    from etl_tpch_spark.functions.text import spark_sql_tokens
    from etl_tpch_spark.queries.bpe import (
        _BPE_K,
        apply_merges_chain,
        bpe_encode_udf,
        bpe_encode_word,
        train_bpe,
    )

    t = Tables(spark, sf_dir)
    train_docs = t.documents.filter(F.col("doc_id") % 2 == 0)
    merges = train_bpe(train_docs, _BPE_K)
    held = (
        t.documents.filter(F.col("doc_id") % 2 == 1)
        .selectExpr(f"explode({spark_sql_tokens('text')}) AS word")
        .distinct()
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    chain = {
        r["word"]: r["T"]
        for r in apply_merges_chain(
            held.select("word", chars.alias("T")), merges
        ).collect()
    }
    udf = {
        r["word"]: r["seg"]
        for r in held.select(
            "word", bpe_encode_udf(merges)(F.col("word")).alias("seg")
        ).collect()
    }
    assert chain == udf and len(chain) > 0
    # a word with characters the trainer HAS seen but a shape it has
    # not: still segments (char fallback + applicable merges), and the
    # pure-Python per-word encoder agrees with itself via the UDF path
    ranked = [(m.lhs, m.rhs) for m in merges]
    novel = "zzzduplicatedzzz"
    assert "".join(bpe_encode_word(novel, ranked)) == novel
