"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup/similarity: deterministic dataset splits, sampling,
context-length chunking, sequence packing, PII scrubbing, and benchmark
-contamination detection (north-star LLM-data ops; no reference
counterpart — the reference's only sampling is the static/dynamic table
split, data.py:38,63-67).

Everything is oracle-checkable because "randomness" is md5-derived
(functions/text.py cross-engine hash recipe): a hash-ordered sample IS
a uniform sample, and it is reproducible across engines, re-runs and
cluster sizes — exactly what a 100 TB pipeline wants (re-running the
split after adding data moves only the new rows, no reshuffling of the
training set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import Tables
from ..dedup.clusters import connected_components
from ..dedup.operators import shingle_sets
from ..functions.splits import SQL_DOC_HASH, doc_hash, hash_split
from ..functions.text import (
    spark_sql_fingerprint,
    spark_sql_quality_score,
    spark_sql_tokens,
    sql_fingerprint,
)
from ..registry import REGISTRY, query
from ..similarity.ann import cosine_pairs_threshold

_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_WS_TOKENS = f"cast(size({spark_sql_tokens('text')}) AS bigint) AS ws_tokens"
_QUALITY = f"{spark_sql_quality_score('text')} AS quality"

# split/sample hashing is the SHARED definition in functions/splits.py —
# the corpus tick and the report card must stay bit-identical to the
# registered split queries (leakage safety)
_SQL_DOC_HASH = SQL_DOC_HASH
_doc_hash = doc_hash


# --------------------------------------------------------------- splits


@query(
    "sample_hash_split",
    oracle=f"""
        SELECT CASE WHEN {_SQL_DOC_HASH} % 100 < 80 THEN 'train'
                    WHEN {_SQL_DOC_HASH} % 100 < 90 THEN 'validation'
                    ELSE 'test' END                   AS split,
               CAST(count(*) AS BIGINT)               AS n_docs,
               CAST(sum(len({_SQL_TOKS})) AS BIGINT)  AS total_tokens
        FROM documents
        GROUP BY 1
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/validation/test split by id-hash
    bucket — the standard leakage-safe dataset split.  Content-hash
    addressing means membership is a pure row-local function: no
    shuffle to assign, stable under re-runs and appends (new docs land
    in splits without moving old ones).  One aggregation to report."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            hash_split().alias("split"),
            F.expr(_WS_TOKENS),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_tokens"),
        )
    )


@query(
    "sample_stratified",
    oracle="""
        SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn
        FROM (
            SELECT doc_id, lang,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: 20 docs per language, chosen by
    md5-hash order within each stratum (hash order ≙ uniform order, but
    reproducible).  One shuffle on the stratum key; rank truncation via
    window row_number — at scale Spark prunes with a per-partition
    top-k before the final rank (WindowGroupLimit)."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t.documents.select(
            "doc_id", "lang", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 20)
    )


@query(
    "sample_uniform_topk",
    oracle="""
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sort_key
        FROM documents
        ORDER BY sort_key, doc_id
        LIMIT 50
    """,
)
def sample_uniform_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample (k=50) as a hash-order top-k — the
    distributed replacement for reservoir sampling: every partition
    keeps its k smallest hashes, the driver merges (Spark plans
    TakeOrderedAndProject — no global sort, no second pass, and the
    sample is identical no matter the partitioning)."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("sort_key"),
        )
        .orderBy("sort_key", "doc_id")
        .limit(50)
    )


@query(
    "sample_temperature_mixture",
    oracle=f"""
        WITH c AS (
            SELECT lang, count(*) AS n_before FROM documents GROUP BY lang
        ),
        m AS (SELECT min(n_before) AS n_min FROM c),
        r AS (
            SELECT lang, n_before,
                   sqrt(CAST(m.n_min AS DOUBLE) / n_before) AS rate
            FROM c CROSS JOIN m
        )
        SELECT d.lang,
               CAST(any_value(r.n_before) AS BIGINT) AS n_before,
               CAST(count(*) FILTER (
                   WHERE {_SQL_DOC_HASH} < r.rate * 4294967296.0
               ) AS BIGINT) AS n_kept,
               round(any_value(r.rate), 6) AS keep_rate
        FROM documents d JOIN r ON d.lang = r.lang
        GROUP BY d.lang
    """,
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual-LLM
    mixing op, XLM-R style with α = 0.5): each language keeps documents
    with rate √(n_min/n_lang), so head languages are downsampled toward
    the tail and the mixture flattens without replicating rare data.

    Membership is doc-hash thresholding — row-local, append-stable, no
    shuffle to apply (domain rates are a tiny broadcast).  α = 0.5 is
    deliberate: the rate is one IEEE division + one sqrt, both
    correctly-rounded ops, so the kept set is bit-identical across
    engines (a general pow(x, α) would drift in the last ulp).  Reports
    per-language before/kept counts + the applied rate."""
    t = Tables(spark, sf_dir)
    # tiny per-lang frame, referenced twice in one plan (rates input +
    # the n_min aggregate) — cache so documents is scanned once for it
    counts = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_before")
    ).cache()
    rates = counts.crossJoin(
        F.broadcast(counts.agg(F.min("n_before").alias("n_min")))
    ).select(
        "lang",
        "n_before",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_before")).alias(
            "rate"
        ),
    )
    kept_flag = _doc_hash() < F.col("rate") * F.lit(4294967296.0)
    return (
        t.documents.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.first("n_before").alias("n_before"),
            F.sum(kept_flag.cast("long")).alias("n_kept"),
            F.round(F.first("rate"), 6).alias("keep_rate"),
        )
    )


# ----------------------------------------------- chunking & packing

CHUNK_TOKENS = 32
PACK_BUDGET = 256


@query(
    "text_chunking",
    oracle=f"""
        SELECT doc_id,
               CAST(chunk_id AS INTEGER) AS chunk_id,
               CAST(len(list_slice(W, chunk_id * {CHUNK_TOKENS} + 1,
                                   chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS}))
                    AS BIGINT) AS n_chunk_tokens,
               {sql_fingerprint(
                   f"list_slice(W, chunk_id * {CHUNK_TOKENS} + 1, "
                   f"chunk_id * {CHUNK_TOKENS} + {CHUNK_TOKENS})"
               )} AS chunk_fp
        FROM (
            SELECT doc_id, W,
                   unnest(range(0, CAST(ceil(len(W) / {CHUNK_TOKENS}.0)
                                        AS BIGINT))) AS chunk_id
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents)
            WHERE len(W) > 0
        )
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: split every document into fixed-size
    token chunks (the retrieval/training preprocessing step).  Explode
    over a computed chunk-index sequence + array slice — row-local, no
    shuffle at all; output is ~n_tokens/32 rows per doc.  Each chunk
    carries the rolling fingerprint so chunk-level dedup composes."""
    t = Tables(spark, sf_dir)
    base = (
        t.documents.selectExpr("doc_id", f"{spark_sql_tokens('text')} AS W")
        .filter(F.size("W") > 0)
        .withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("W") / F.lit(float(CHUNK_TOKENS)))
                    .cast("int")
                    - 1,
                )
            ),
        )
    )
    chunk = f"slice(W, chunk_id * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS})"
    return base.selectExpr(
        "doc_id",
        "cast(chunk_id AS int) AS chunk_id",
        f"cast(size({chunk}) AS bigint) AS n_chunk_tokens",
        f"{spark_sql_fingerprint(chunk)} AS chunk_fp",
    )


@query(
    "text_pack_sequences",
    oracle=f"""
        SELECT doc_id, lang, ws_tokens,
               (cum - ws_tokens) // {PACK_BUDGET}          AS first_bin,
               (cum - 1) // {PACK_BUDGET}
                 - (cum - ws_tokens) // {PACK_BUDGET} + 1  AS n_bins_spanned
        FROM (
            SELECT doc_id, lang,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens,
                   CAST(sum(len({_SQL_TOKS})) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS BIGINT) AS cum
            FROM documents
        )
        WHERE ws_tokens > 0
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): documents are concatenated
    in deterministic order within each language shard and cut into
    fixed token-budget bins — the zero-padding-waste packing strategy
    for LLM training batches.  A single partitioned running-sum window
    assigns every doc its first bin and span; no iteration, one
    shuffle on the shard key (at 100 TB, shard = partition file, so
    packing parallelizes per shard)."""
    t = Tables(spark, sf_dir)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = t.documents.select(
        "doc_id", "lang", F.expr(_WS_TOKENS)
    ).withColumn("cum", F.sum("ws_tokens").over(w))
    return (
        base.filter(F.col("ws_tokens") > 0)
        .select(
            "doc_id",
            "lang",
            "ws_tokens",
            F.expr(f"(cum - ws_tokens) div {PACK_BUDGET}").alias("first_bin"),
            (
                F.expr(f"(cum - 1) div {PACK_BUDGET}")
                - F.expr(f"(cum - ws_tokens) div {PACK_BUDGET}")
                + 1
            ).alias("n_bins_spanned"),
        )
    )


# ------------------------------------------------------ PII scrubbing

_EMAIL = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PHONE = "\\+1-555-[0-9]{4}"
# Deterministic synthetic PII appended to every doc (the fixture corpus
# contains no digits at all) — identical string concat in both engines,
# so the scrub operator has real matches to find and the redacted-text
# digest still hash-checks.
_SQL_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com or call +1-555-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)


@query(
    "text_pii_redact",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '{_EMAIL}')) AS INTEGER)
                 AS n_emails,
               CAST(len(regexp_extract_all(aug, '{_PHONE}')) AS INTEGER)
                 AS n_phones,
               md5(regexp_replace(
                       regexp_replace(aug, '{_EMAIL}', '<EMAIL>', 'g'),
                       '{_PHONE}', '<PHONE>', 'g')) AS redacted_digest,
               CAST(length(regexp_replace(
                       regexp_replace(aug, '{_EMAIL}', '<EMAIL>', 'g'),
                       '{_PHONE}', '<PHONE>', 'g')) AS BIGINT)
                 AS n_chars_redacted
        FROM (SELECT doc_id, {_SQL_AUG} AS aug FROM documents)
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email/phone patterns (regex
    classes kept to RE2∩Java syntax so engine and oracle agree).  Pure
    row-local regexp work — scans once, no shuffle; at 100 TB this is
    the shape of every scrub pass (swap in the full PII regex bank or a
    Presidio-style UDF; the plumbing is identical)."""
    t = Tables(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    base = t.documents.select("doc_id", aug.alias("aug"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("aug"), _EMAIL, "<EMAIL>"),
        _PHONE,
        "<PHONE>",
    )
    return base.select(
        "doc_id",
        F.size(F.regexp_extract_all("aug", F.lit(_EMAIL), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("aug", F.lit(_PHONE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_digest"),
        F.length(redacted).cast("long").alias("n_chars_redacted"),
    )


# -------------------------------------- benchmark-contamination check

_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(W) - 1), "
    "i -> W[i] || ' ' || W[i+1] || ' ' || W[i+2]))"
)


@query(
    "text_contamination",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS shingles
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents)
        ),
        ev AS (
            SELECT doc_id, shingles FROM sh
            WHERE doc_id % 50 = 0 AND len(shingles) > 0
        ),
        corp AS (
            SELECT DISTINCT unnest(shingles) AS s
            FROM sh WHERE doc_id % 50 <> 0
        ),
        hits AS (
            SELECT e.doc_id, count(*) AS n_hit
            FROM (SELECT doc_id, unnest(shingles) AS s FROM ev) e
            JOIN corp USING (s)
            GROUP BY 1
        )
        SELECT ev.doc_id,
               CAST(len(ev.shingles) AS BIGINT)      AS n_shingles,
               CAST(coalesce(n_hit, 0) AS BIGINT)    AS n_contaminated,
               round(coalesce(n_hit, 0) * 1.0
                     / len(ev.shingles), 6)          AS contamination,
               coalesce(n_hit, 0) * 1.0
                 / len(ev.shingles) >= 0.5           AS flagged
        FROM ev LEFT JOIN hits ON ev.doc_id = hits.doc_id
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: for each held-out eval doc
    (every 50th id), the fraction of its 3-gram shingles that appear
    anywhere in the training corpus.  The corpus side collapses to its
    distinct shingle vocabulary before the join (semi-join probe), so
    the shuffled volume is vocabulary-sized, not corpus-sized — at
    100 TB, replace the vocabulary with a bloom filter broadcast for
    the same plan shape at ~1/100 the bytes."""
    t = Tables(spark, sf_dir)
    sh = shingle_sets(t.documents)
    ev = sh.filter((F.col("doc_id") % 50 == 0) & (F.size("shingles") > 0))
    corp_vocab = (
        sh.filter(F.col("doc_id") % 50 != 0)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    hits = (
        ev.select("doc_id", F.explode("shingles").alias("s"))
        .join(corp_vocab, "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    frac = F.coalesce(F.col("n_hit"), F.lit(0)) * 1.0 / F.size("shingles")
    return (
        ev.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size("shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_hit"), F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.round(frac, 6).alias("contamination"),
            (frac >= 0.5).alias("flagged"),
        )
    )


# ----------------------------------------- embedding-space dedup

EMB_DUP_THRESHOLD = 0.4


def _cc_over_pairs_sql(pairs_sql: str) -> str:
    """Recursive-CTE connected components over a (vec_a, vec_b) pair
    subquery — min-reachable-id labels, the oracle twin of
    dedup/clusters.py connected_components."""
    return f"""
        WITH RECURSIVE pairs AS (
            {pairs_sql}
        ),
        edges AS (
            SELECT vec_a AS s, vec_b AS d FROM pairs
            UNION
            SELECT vec_b AS s, vec_a AS d FROM pairs
        ),
        reach(s, d) AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        )
        SELECT s AS vec_id,
               least(s, min(d)) AS cluster_id
        FROM reach
        GROUP BY s
    """


@query(
    "dedup_embedding_clusters",
    oracle=_cc_over_pairs_sql(REGISTRY["sim_cosine_pairs_cells"].oracle),
)
def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters (semantic dedup), 100 TB
    shape: k-means cells → exact cosine ≥ 0.4 WITHIN cells only
    (similarity/ann.py cosine_pairs_threshold_cells, the published
    SemDeDup recipe) → connected components → min-id cluster labels.
    O(n²/k) pair work instead of the all-pairs O(n²); the `_bruteforce`
    twin below keeps the exact-recall baseline.  Cells, cosines and the
    transitive closure are all bit-deterministic ⇒ hash-checked against
    the unrolled-Lloyd + recursive-CTE oracle."""
    from ..similarity.ann import cosine_pairs_threshold_cells

    t = Tables(spark, sf_dir)
    pairs = cosine_pairs_threshold_cells(t.embeddings, EMB_DUP_THRESHOLD)
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    return comp.select(F.col("doc_id").alias("vec_id"), "cluster_id")


@query(
    "dedup_embedding_clusters_bruteforce",
    oracle=_cc_over_pairs_sql(REGISTRY["sim_cosine_pairs"].oracle),
)
def dedup_embedding_clusters_bruteforce(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall-baseline twin of dedup_embedding_clusters: exact all-pairs
    cosine ≥ 0.4 (O(n²)) feeding the same connected components.  Kept
    for recall measurement against the cell-scoped product path — run
    at audit scale, not at 100 TB."""
    t = Tables(spark, sf_dir)
    pairs = cosine_pairs_threshold(t.embeddings, EMB_DUP_THRESHOLD)
    comp = connected_components(pairs, src="vec_a", dst="vec_b")
    return comp.select(F.col("doc_id").alias("vec_id"), "cluster_id")


@query(
    "sample_quality_weighted",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, source,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens,
                   round(least(len({_SQL_TOKS}) / 50.0, 1.0)
                         * (len(list_distinct({_SQL_TOKS})) * 1.0
                            / len({_SQL_TOKS})), 6) AS quality
            FROM documents
        )
        SELECT source,
               count(*) AS n_total,
               CAST(sum(CASE WHEN {_SQL_DOC_HASH}
                                  < quality * 4294967296.0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN {_SQL_DOC_HASH}
                                  < quality * 4294967296.0
                             THEN ws_tokens ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               CAST(sum(CASE WHEN {_SQL_DOC_HASH}
                                  < quality * 4294967296.0
                             THEN CAST(quality AS DECIMAL(8,6))
                             ELSE CAST(0 AS DECIMAL(8,6)) END)
                    AS DOUBLE) AS kept_quality_mass
        FROM scored
        GROUP BY 1 ORDER BY 1
    """,
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling — keep each document with
    probability equal to its quality score (capped-length × vocabulary
    diversity, the text_quality_score formula): the standard soft
    filter that downsamples low-quality text instead of hard-cutting
    at a threshold, preserving distributional coverage.

    Membership is doc-hash thresholding against the per-doc rate
    (hash32(doc_id) < quality·2³²) — row-local, shuffle-free to apply,
    append-stable (a new crawl batch samples itself without touching
    old decisions), and bit-identical across engines because the
    quality rate is exact integer ratios rounded once.  Reports the
    per-source retention audit; quality mass sums in DECIMAL(8,6) so
    the total is order-independent (functions/agg.py discipline)."""
    t = Tables(spark, sf_dir)
    scored = t.documents.selectExpr("doc_id", "source", _WS_TOKENS, _QUALITY)
    kept = _doc_hash() < F.col("quality") * F.lit(4294967296.0)
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum(
                F.when(kept, F.col("ws_tokens")).otherwise(F.lit(0))
            ).alias("kept_tokens"),
            F.sum(
                F.when(
                    kept, F.col("quality").cast("decimal(8,6)")
                ).otherwise(F.lit(0).cast("decimal(8,6)"))
            )
            .cast("double")
            .alias("kept_quality_mass"),
        )
        .orderBy("source")
    )


@query(
    "corpus_report_card",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CASE WHEN {_SQL_DOC_HASH} % 100 < 80 THEN 'train'
                        WHEN {_SQL_DOC_HASH} % 100 < 90 THEN 'validation'
                        ELSE 'test' END AS split,
                   CAST(len({_SQL_TOKS}) AS BIGINT) AS ws_tokens,
                   round(least(len({_SQL_TOKS}) / 50.0, 1.0)
                         * (len(list_distinct({_SQL_TOKS})) * 1.0
                            / len({_SQL_TOKS})), 6) AS quality
            FROM documents
        )
        SELECT split,
               count(*) AS n_docs,
               CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN quality >= 0.2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_quality_ok,
               CAST(sum(CAST(quality AS DECIMAL(8,6))) AS DOUBLE)
                 AS quality_mass,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        FROM scored
        GROUP BY 1 ORDER BY 1
    """,
)
def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus card: per train/validation/test split (leakage-safe
    hash buckets), document and token counts, quality-gate pass
    counts, exact-decimal quality mass and language coverage — the
    one-page summary a dataset release ships (and the number a daily
    tick appends to its stats table).  One pass over documents, one
    3-group aggregate; quality mass sums in DECIMAL(8,6) so the
    report is bit-stable under any partitioning."""
    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        hash_split().alias("split"),
        "lang",
        F.expr(_WS_TOKENS),
        F.expr(_QUALITY),
    )
    return (
        scored.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_tokens"),
            F.sum(
                (F.col("quality") >= 0.2).cast("long")
            ).alias("n_quality_ok"),
            F.sum(F.col("quality").cast("decimal(8,6)"))
            .cast("double")
            .alias("quality_mass"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .orderBy("split")
    )
