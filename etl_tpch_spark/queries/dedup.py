"""Dedup query registrations with DuckDB oracles (north-star operators).

The md5-derived hashing (dedup/hashing.py) makes even the MinHash-LSH
pipeline fully oracle-checkable — the SQL replicates shingling, the 16
minhash permutations, the 8 band keys, the candidate join and the exact
Jaccard verification, and must agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from ..dedup.hashing import (
    sql_band_keys,
    sql_minhash_signature,
    sql_shingle_hashes,
)
from ..dedup.clusters import connected_components
from ..dedup.operators import (
    SIMHASH_BITS,
    exact_duplicates,
    jaccard_pairs_brute,
    minhash_lsh_pairs,
    simhash_pairs,
)
from ..functions.text import (
    HASH_MOD,
    spark_sql_fingerprint,
    spark_sql_tokens,
    sql_fingerprint,
    sql_token_hash_wide,
)
from ..registry import REGISTRY, query

_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(W) - 1), "
    "i -> W[i] || ' ' || W[i+1] || ' ' || W[i+2]))"
)
_SQL_SH_CTE = f"""
        sh AS (
            SELECT doc_id, {_SQL_SHINGLES} AS shingles
            FROM (SELECT doc_id, {_SQL_TOKS} AS W FROM documents)
        )"""

JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_HAMMING = 3  # with the 60-bit signature: 4 bands x 15 bits


@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS digest,
               min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: one hash-groupBy, O(n), the first
    pass of any dedup cascade."""
    t = Tables(spark, sf_dir)
    return exact_duplicates(t.documents)


@query(
    "dedup_fingerprint",
    oracle=f"""
        SELECT {sql_fingerprint(_SQL_TOKS)} AS fp,
               min(doc_id) AS canonical_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on the rolling token fingerprint — same
    plan shape as exact dedup but whitespace/token-normalized."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.selectExpr(
            f"{spark_sql_fingerprint(spark_sql_tokens('text'))} AS fp",
            "doc_id",
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
        WITH {_SQL_SH_CTE},
        e AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(shared * 1.0 /
                     (len(sa.shingles) + len(sb.shingles) - shared), 6)
                 AS jaccard
        FROM shared
        JOIN sh sa ON doc_a = sa.doc_id
        JOIN sh sb ON doc_b = sb.doc_id
        WHERE shared * 1.0 /
              (len(sa.shingles) + len(sb.shingles) - shared)
              >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (brute shared-shingle join) —
    the recall baseline for the LSH variant."""
    t = Tables(spark, sf_dir)
    return jaccard_pairs_brute(t.documents, JACCARD_THRESHOLD)


@query(
    "dedup_minhash_lsh",
    oracle=f"""
        WITH {_SQL_SH_CTE},
        hashed AS (
            SELECT doc_id, shingles,
                   {sql_shingle_hashes('shingles')} AS hs
            FROM sh WHERE len(shingles) > 0
        ),
        sig AS (
            SELECT doc_id, shingles,
                   {sql_minhash_signature('hs')} AS mh
            FROM hashed
        ),
        withbands AS (
            SELECT doc_id, shingles, unnest({sql_band_keys('mh')}) AS band
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM withbands x JOIN withbands y
              ON x.band = y.band AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                     (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles))), 6)
                 AS jaccard
        FROM cand
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
        WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)))
              >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified (dedup/operators.py).
    The 100 TB path: band-bucket join instead of all-pairs; verification
    touches only candidates."""
    t = Tables(spark, sf_dir)
    return minhash_lsh_pairs(t.documents, JACCARD_THRESHOLD)


def _sql_simhash_votes(bits: int = SIMHASH_BITS) -> str:
    """CTE chain ending in ``sig(doc_id, simhash)`` — the oracle twin
    of dedup/operators.py simhash_signatures.  The token hash is the
    shared sql builder (bits/4 hex chars), so Spark and DuckDB can
    never drift to different per-token hashes."""
    if bits != SIMHASH_BITS:
        raise ValueError(
            f"oracle votes are built for the registered {SIMHASH_BITS}-bit "
            "signature; change dedup.operators.SIMHASH_BITS to retune"
        )
    tok_hash = sql_token_hash_wide("tok")
    vote_cols = ",\n                   ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
        ex AS (
            SELECT doc_id,
                   {tok_hash} AS h
            FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
        ),
        votes AS (
            SELECT doc_id,
                   {vote_cols}
            FROM ex GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM votes
        )"""


@query(
    "dedup_simhash",
    oracle=f"""
        WITH {_sql_simhash_votes()}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                 AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Manku/Google configuration: 60-bit
    token-vote fingerprint, Hamming ≤ 3, candidates via 4×15-bit
    pigeonhole bands (32k buckets per band — the narrow 32-bit/h≤8
    form banded into ≤16 buckets and degenerated toward all-pairs at
    corpus scale).  Signature build is one shuffle; the band join
    shuffles (doc_id, band value) pairs only."""
    t = Tables(spark, sf_dir)
    return simhash_pairs(t.documents, SIMHASH_MAX_HAMMING)


_MINHASH_PAIRS_SQL = REGISTRY["dedup_minhash_lsh"].oracle


@query(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ),
        reach(s, d) AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        )
        SELECT s AS doc_id,
               least(s, min(d)) AS cluster_id
        FROM reach
        GROUP BY s
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: minhash-LSH pairs → connected components via
    iterative min-label propagation (dedup/clusters.py — the one
    genuinely iterative operator in the engine).  The DuckDB oracle
    replicates it with a recursive CTE (transitive closure + min),
    so even this is hash-checked, not rows-only."""
    t = Tables(spark, sf_dir)
    pairs = minhash_lsh_pairs(t.documents, JACCARD_THRESHOLD)
    return connected_components(pairs)


@query(
    "dedup_canonical_documents",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ),
        reach(s, d) AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        losers AS (
            SELECT s AS doc_id FROM reach
            GROUP BY s
            HAVING least(s, min(d)) <> s
        )
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(d.doc_id) AS BIGINT) AS min_doc_id
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        GROUP BY d.lang
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup payoff: the SURVIVING corpus after near-dup canonical
    selection (dedup/clusters.py canonical_documents — minhash-LSH
    pairs → connected components → drop every doc whose cluster has a
    smaller id), summarized per language.  This is the operator a
    training pipeline actually ships: pairs and clusters are
    intermediates, the deduped corpus is the product."""
    from ..dedup.clusters import canonical_documents

    t = Tables(spark, sf_dir)
    pairs = minhash_lsh_pairs(t.documents, JACCARD_THRESHOLD)
    kept = canonical_documents(t.documents, pairs)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "dedup_incremental",
    oracle=f"""
        WITH {_SQL_SH_CTE},
        hashed AS (
            SELECT doc_id, shingles,
                   {sql_shingle_hashes('shingles')} AS hs
            FROM sh WHERE len(shingles) > 0
        ),
        sig AS (
            SELECT doc_id, shingles,
                   {sql_minhash_signature('hs')} AS mh
            FROM hashed
        ),
        withbands AS (
            SELECT doc_id, shingles, unnest({sql_band_keys('mh')}) AS band
            FROM sig
        ),
        cand AS (
            SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
                            greatest(x.doc_id, y.doc_id) AS doc_b
            FROM withbands x JOIN withbands y
              ON x.band = y.band AND x.doc_id <> y.doc_id
            WHERE x.doc_id % 2 = 1
        )
        SELECT doc_a, doc_b,
               round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                     (len(sa.shingles) + len(sb.shingles)
                      - len(list_intersect(sa.shingles, sb.shingles))), 6)
                 AS jaccard
        FROM cand
        JOIN sig sa ON doc_a = sa.doc_id
        JOIN sig sb ON doc_b = sb.doc_id
        WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)))
              >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-crawl) dedup through the PERSISTED signature
    index (dedup/index.py): even doc_ids play the existing corpus
    (ingested as yesterday's index state), odd ids the new batch.  The
    tick signs ONLY the new batch, appends to the index TxTable, and
    band-joins + verifies against STORED signatures — O(new) hash work
    per tick, the corpus contributes a columnar index scan only.
    Output ≡ the stateless operator (shared candidate/verify helpers);
    equivalence with the batch operator minus corpus-internal pairs is
    pinned in tests/test_operators_unit.py, the index-path plan audit
    in tests/test_dedup_index.py."""
    from ..catalog import scratch_index_dir

    from ..dedup.index import MinHashIndex

    t = Tables(spark, sf_dir)
    corpus = t.documents.filter(F.col("doc_id") % 2 == 0)
    new = t.documents.filter(F.col("doc_id") % 2 == 1)
    idx = MinHashIndex(scratch_index_dir("minhash-idx", sf_dir))
    idx.ingest(corpus, batch_id="corpus-day0")
    return idx.tick(spark, new, JACCARD_THRESHOLD, batch_id="crawl-day1")


@query(
    "dedup_cluster_stats",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
        edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ),
        reach(s, d) AS (
            SELECT s, d FROM edges
            UNION
            SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
        ),
        labels AS (
            SELECT s AS doc_id, least(s, min(d)) AS cluster_id
            FROM reach GROUP BY s
        ),
        sizes AS (
            SELECT cluster_id, count(*) AS cluster_size
            FROM labels GROUP BY cluster_id
        )
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(cluster_size) - count(*) AS BIGINT)
                 AS removable_docs
        FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup QA report: near-dup cluster-size histogram with the
    headline number every curation dashboard tracks — how many
    documents canonical-selection would remove (size−1 per cluster).
    Distinguishes a corpus of tight pairs (mass at size 2) from
    crawl-style copy explosions (mass at high sizes); the 10× stress
    fixture moves the mass from 2 to ~10, exactly the shift this
    report exists to surface.  Plan: LSH pairs → iterative CC → two
    tiny aggregations; hash-checked via the recursive-CTE oracle."""
    t = Tables(spark, sf_dir)
    pairs = minhash_lsh_pairs(t.documents, JACCARD_THRESHOLD)
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.sum("cluster_size") - F.count(F.lit(1))).alias("removable_docs"),
    )


@query(
    "dedup_cross_source_matrix",
    oracle=f"""
        WITH pairs AS ({_MINHASH_PAIRS_SQL})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs,
               CAST(sum(CAST(jaccard AS DECIMAL(8,6))) AS DOUBLE)
                 AS jaccard_mass
        FROM pairs
        JOIN documents da ON pairs.doc_a = da.doc_id
        JOIN documents db ON pairs.doc_b = db.doc_id
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def dedup_cross_source_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source contamination matrix — which source pairs share
    near-duplicate content, the report that decides licensing/mixing
    questions ("how much of src3 is re-hosted src1?") before any doc
    is dropped.  Rides the LSH pair operator (same 100 TB band-join
    path), then two broadcast-sized dim joins onto sources and a
    vocab-sized matrix aggregate; jaccard mass sums in DECIMAL(8,6)
    so the per-cell total is order-independent."""
    t = Tables(spark, sf_dir)
    pairs = minhash_lsh_pairs(t.documents, JACCARD_THRESHOLD)
    src = t.documents.select("doc_id", "source")
    a = src.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
    )
    b = src.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            F.col("jaccard").cast("decimal(8,6)").alias("jdec"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jdec").cast("double").alias("jaccard_mass"),
        )
        .orderBy("source_a", "source_b")
    )
