"""Approximate-nearest-neighbor operators over an ``array<float>``
embedding column.

Two tiers (north star: "brute-force cosine top-k as the baseline; an
IVF or LSH-bucketed variant as the scale path"):

- brute-force: broadcast the (small) query set against the full corpus,
  exact-fold cosine, window top-k.  O(|Q|·n) — right whenever |Q| is
  small or the corpus fits a scan budget.
- LSH-bucketed: random-hyperplane signatures partition the corpus into
  2^b buckets; probe only the query's bucket.  O(|Q|·n/2^b) expected;
  recall tunable by bucket bits / multiple tables.  Signatures use
  integer hyperplanes + sequential folds → deterministic across engines
  (dedup/hashing.py).

All cosines are sequential-fold doubles (bit-identical to the DuckDB
oracle); never NaN for nonzero vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exprs import sql_double, sql_ident, values_frame
from ..dedup.hashing import (
    hyperplane_signature_udf,
    spark_sql_as_double_array,
    spark_sql_dot_fold,
)


def _with_norm(df: DataFrame, id_alias: str, emb_alias: str, norm_alias: str):
    """Project (id, double-cast embedding, self-dot norm) — per-vector
    work hoisted out of per-pair scoring; cosine then costs one fold per
    pair (dot / sqrt(na·nb)), value-identical to sql_cosine_fold.  Built
    via selectExpr: one parser round-trip per projection instead of
    per-node py4j construction (round 11, guide §4)."""
    return df.selectExpr(
        f"vec_id AS {id_alias}",
        f"{spark_sql_as_double_array('embedding')} AS {emb_alias}",
    ).selectExpr(
        "*",
        f"{spark_sql_dot_fold(emb_alias, emb_alias)} AS {norm_alias}",
    )


def _pair_cosine(q_emb: str, c_emb: str, q_norm: str, c_norm: str):
    return F.expr(_pair_cosine_sql(q_emb, c_emb, q_norm, c_norm))


def _pair_cosine_sql(q_emb: str, c_emb: str, q_norm: str, c_norm: str) -> str:
    return (
        f"round({spark_sql_dot_fold(q_emb, c_emb)}"
        f" / sqrt({q_norm} * {c_norm}), 6)"
    )

def cosine_topk_bruteforce(
    embeddings: DataFrame, query_ids: list[int], k: int
) -> DataFrame:
    """Exact top-k neighbors for each query id (excluding itself)."""
    corpus = _with_norm(embeddings, "vec_id", "c_emb", "c_norm")
    q = _with_norm(
        embeddings.filter(F.col("vec_id").isin(query_ids)),
        "query_id", "q_emb", "q_norm",
    )
    j = F.broadcast(q).crossJoin(corpus).filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = j.withColumn(
        "cosine", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def cosine_pairs_threshold(
    embeddings: DataFrame, threshold: float
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact, all-pairs — the recall
    baseline; use LSH buckets at scale).

    Per-vector work (double-cast + self-dot norm) is projected *before*
    the O(n²) cross join — each pair then pays only the one dot-product
    fold instead of three.  Values are identical to the naive form
    (cosine = dot/sqrt(na·nb); the per-vector folds are the same math),
    so the oracle is unchanged."""
    a = _with_norm(embeddings, "vec_a", "emb_a", "na")
    b = _with_norm(embeddings, "vec_b", "emb_b", "nb")
    return (
        a.crossJoin(b)
        .filter("vec_a < vec_b")
        .selectExpr(
            "vec_a",
            "vec_b",
            f"{_pair_cosine_sql('emb_a', 'emb_b', 'na', 'nb')} AS cosine",
        )
        .filter(f"cosine >= {sql_double(threshold)}")
    )


def cosine_topk_lsh(
    embeddings: DataFrame, query_ids: list[int], k: int, bucket_bits: int = 8
) -> DataFrame:
    """LSH-bucketed top-k: only candidates in the query's hyperplane
    bucket are scored.  The bucket id is the low ``bucket_bits`` bits of
    the 16-bit signature.  Join is an equi-join on bucket (shuffle by
    bucket — no cross join), making the probe cost n/2^bits per query."""
    mask = (1 << bucket_bits) - 1
    sig = _with_norm(embeddings, "vec_id", "c_emb", "c_norm").withColumn(
        "bucket",
        hyperplane_signature_udf()(F.col("c_emb")).bitwiseAND(F.lit(mask)),
    )
    # sig feeds both sides of the bucket join — persist so the corpus
    # signature isn't computed twice.  The cache outlives this call by
    # design (the returned DataFrame is lazy); Spark's unified storage
    # memory evicts it LRU under pressure, so repeated invocations in a
    # long-lived session degrade to recompute, never OOM — the
    # documented trade for not owning the consumption lifetime (the
    # persisted-index path, similarity/index.py, is the store-once
    # answer at scale).
    sig = sig.cache()
    q = sig.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("c_emb").alias("q_emb"),
        F.col("c_norm").alias("q_norm"),
        F.col("bucket"),
    )
    cand = F.broadcast(q).join(sig, "bucket").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = cand.withColumn(
        "cosine", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN with TRAINED centroids: deterministic
    quantized k-means (similarity/kmeans.py) partitions the corpus into
    ``n_cells`` Voronoi cells; each query probes only the ``n_probe``
    cells with nearest (integer-L2) centroids.

    Training is integer-exact Lloyd, so the trained index is still
    bit-reproducible across engines — the oracle rebuilds identical
    cells from an unrolled CTE (a real-world IVF rarely gets this:
    float k-means is reduction-order dependent).  Trained cells track
    the data distribution, lifting recall over the untrained
    lowest-id-centroid variant at the same probe budget (asserted vs
    the bruteforce baseline in tests/test_operators_unit.py).

    Cost shape: training is O(iters) broadcast+argmin passes (corpus
    never shuffles; K·dim-long driver round-trip per round), probe is
    |Q| · n_probe/n_cells of the corpus.  Recall < 1 by design; the
    bruteforce twin is the recall baseline.
    """
    from .kmeans import kmeans_fit, quantize

    # single downstream reference (the cells join) → no checkpoint;
    # a cache_key pins the trained fit for the session instead of
    # re-training cells on every query invocation
    assign, cent_rows = kmeans_fit(
        embeddings, n_cells, iters, materialize=False,
        cache_key=cache_key,
    )
    cells = _with_norm(embeddings, "vec_id", "v_emb", "v_norm").join(
        assign.select("vec_id", F.col("cluster").alias("cell")), "vec_id"
    )
    spark = embeddings.sparkSession
    # K-row LocalRelation (zero-task broadcast builds — round 12)
    cent = values_frame(
        spark, cent_rows, "cent_id long, cv array<long>"
    )
    # each query ranks the trained centroids by integer L2 (the SAME
    # metric training used — ties to lowest cent_id) and probes n_probe;
    # the few query vectors re-quantize row-wise (bit-identical to the
    # training quantization) rather than riding the full assignment
    q = quantize(embeddings.filter(F.col("vec_id").isin(query_ids))).select(
        F.col("vec_id").alias("query_id"), "qv"
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    q_cells = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .withColumn("d2", d2)
        .withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("query_id").orderBy("d2", "cent_id")
            ),
        )
        .filter(F.col("prn") <= n_probe)
        .select("query_id", F.col("cent_id").alias("cell"))
    )
    q_emb = _with_norm(
        embeddings.filter(F.col("vec_id").isin(query_ids)),
        "query_id", "q_emb", "q_norm",
    )
    probes = q_cells.join(q_emb, "query_id")
    cand = F.broadcast(probes).join(cells, "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = cand.withColumn(
        "cosine", _pair_cosine("q_emb", "v_emb", "q_norm", "v_norm")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def cosine_topk_lsh_multiprobe(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    bucket_bits: int = 8,
) -> DataFrame:
    """Multi-probe LSH: each query probes its own bucket plus every
    bucket at Hamming distance 1 in signature space (flip one of the
    ``bucket_bits`` sign bits).  Near-misses — neighbors falling just
    across one hyperplane — are recovered, trading (1 + bits)× probe
    cost for recall; still n·(1+b)/2^b of the corpus per query vs the
    brute-force scan.  Deterministic probe set ⇒ oracle-checkable."""
    mask = (1 << bucket_bits) - 1
    sig = _with_norm(embeddings, "vec_id", "c_emb", "c_norm").withColumn(
        "bucket",
        hyperplane_signature_udf()(F.col("c_emb")).bitwiseAND(F.lit(mask)),
    )
    sig = sig.cache()
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i))
            for i in range(bucket_bits)
        ],
    )
    q = (
        sig.filter(F.col("vec_id").isin(query_ids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("c_emb").alias("q_emb"),
            F.col("c_norm").alias("q_norm"),
            F.explode(probes).alias("bucket"),
        )
    )
    cand = (
        F.broadcast(q)
        .join(sig, "bucket")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "q_emb", "q_norm", "vec_id", "c_emb", "c_norm")
    )
    scored = cand.withColumn(
        "cosine", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def _vector_groups(embeddings: DataFrame) -> DataFrame:
    """One row per DISTINCT embedding array: representative id
    (min vec_id) + member ids — the embedding twin of the shingle-set
    grouping in dedup/operators.py minhash_lsh_pairs.  Exact text
    copies carry exact embedding copies, so a crawl corpus duplicates
    vectors the same way it duplicates documents; pair kernels that
    score every ROW do O(Σg²) work per g-sized copy group.  Hash
    aggregate (map-side combine collapses co-located copies before the
    shuffle); the group key is the raw array — no hash collision can
    merge distinct vectors.  EAGER localCheckpoint: the frame feeds
    the kernel input and both expansion sides within one action, and
    a lazy checkpoint lets those branch stages race to materialize
    the same RDD, each re-running the groupBy lineage (measured on
    the minhash groups frame, dedup/operators.py)."""
    return (
        embeddings.groupBy("embedding")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.collect_list("vec_id").alias("ids"),
        )
        .localCheckpoint(eager=True)
    )


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    groups: DataFrame,
    *,
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    val_col: str,
) -> DataFrame:
    """Expand representative-level pairs to member-level id pairs.
    Each unordered member pair appears exactly once: a vector belongs
    to one group, an unordered rep pair appears once, and
    least/greatest restores id order.  The rep-pair frame is
    output-bounded; AQE broadcasts it at its actual runtime size.
    Projections ride selectExpr (round 11, guide §4 — parser-built
    construction)."""
    members = groups.selectExpr(
        "vec_id AS _rep", "explode(ids) AS _id"
    )
    return (
        members.selectExpr(f"_rep AS {sql_ident(a_col)}", "_id AS _ida")
        .join(rep_pairs, a_col)
        .join(
            members.selectExpr(f"_rep AS {sql_ident(b_col)}", "_id AS _idb"),
            b_col,
        )
        .selectExpr(
            f"least(_ida, _idb) AS {sql_ident(a_col)}",
            f"greatest(_ida, _idb) AS {sql_ident(b_col)}",
            val_col,
        )
    )


def _within_group_pairs(
    groups: DataFrame,
    self_val_sql: str,
    threshold: float,
    val_name: str,
) -> DataFrame:
    """All id pairs inside each copy group, valued by ``self_val_sql``
    (a Spark-SQL expression string) — the group vector paired with
    itself, computed with the SAME expression sequence the pair kernel
    applies (so a zero-norm vector yields NaN here exactly as it does
    there, and is dropped by the same ``>= threshold`` comparison).
    SQL-text form (round 11): one parser round-trip per projection."""
    m = groups.filter("size(ids) > 1").selectExpr(
        f"{self_val_sql} AS {val_name}", "explode(ids) AS _ida", "ids"
    )
    return (
        m.selectExpr(val_name, "_ida", "explode(ids) AS _idb")
        .filter("_ida < _idb")
        .filter(f"{val_name} >= {sql_double(threshold)}")
        .selectExpr("_ida AS vec_a", "_idb AS vec_b", val_name)
    )


def _block_explode_sql(n_blocks: int) -> str:
    """``explode(array_distinct(array(...)))`` over the unordered
    block-pair keys of a row's block ``b`` — the replication step of
    the block-decomposed pair kernels, as ONE parser expression
    instead of ``n_blocks`` struct/least/greatest builder calls
    (round 11, guide §4).  Field names/values match the F.struct form
    exactly (p, q)."""
    structs = ", ".join(
        f"named_struct('p', least(b, {o}), 'q', greatest(b, {o}))"
        for o in range(int(n_blocks))
    )
    return f"explode(array_distinct(array({structs}))) AS pk"


def cosine_pairs_threshold_blocked(
    embeddings: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """Block-matrix form of :func:`cosine_pairs_threshold`: same exact
    result, numpy kernel instead of per-pair interpreted folds.

    Vectors are hashed into ``n_blocks`` blocks; every unordered block
    pair (p ≤ q) becomes one group holding both blocks' vectors (each
    vector is replicated n_blocks times — at 64-dim float32 that is
    KBs per row, and Arrow ships it once per group).  A grouped
    applyInPandas computes the block's cosine matrix with a
    dimension-sequential accumulation loop — the SAME IEEE addition
    order as the SQL fold (see hyperplane_signature_udf), so results
    are bit-identical to the expression form and the shared DuckDB
    oracle.  Wall-clock is numpy matrix math; the expression form pays
    ~1µs per array-element lambda instead.

    Scale: work is O(n²/B²) per group over B² groups — B tunes group
    memory ((2n/B)·dim doubles); the all-pairs total is inherent to the
    exact operator (LSH/IVF are the subquadratic paths).
    """
    import numpy as np
    import pandas as pd

    dim_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = key
        ids = pdf["vec_id"].to_numpy()
        blk = pdf["b"].to_numpy()
        X = np.stack(pdf["embedding"].to_numpy())  # (n, dim) float32
        n, dim = X.shape
        dot = np.zeros((n, n))
        nrm = np.zeros(n)
        for j in range(dim):  # sequential dim order = SQL fold order
            xj = X[:, j].astype("float64")
            dot += np.outer(xj, xj)
            nrm += xj * xj
        cos = dot / np.sqrt(np.outer(nrm, nrm))
        want = ids[:, None] < ids[None, :]
        if p != q:  # intra-block pairs belong to the diagonal group only
            want &= blk[:, None] != blk[None, :]
        ia, ib = np.where(want)
        cosv = np.round(cos[ia, ib], 6)
        keep = cosv >= threshold
        return pd.DataFrame(
            {
                "vec_a": ids[ia][keep],
                "vec_b": ids[ib][keep],
                "cosine": cosv[keep],
            }
        )

    tagged = embeddings.selectExpr(
        "vec_id",
        "embedding",
        f"pmod(xxhash64(vec_id), {int(n_blocks)}) AS b",
    )
    # replicate each vector into every unordered block pair it joins
    exploded = tagged.selectExpr(
        "vec_id", "embedding", "b", _block_explode_sql(n_blocks)
    )
    return exploded.groupBy("pk.p", "pk.q").applyInPandas(
        score_block, dim_schema
    )

def cosine_pairs_threshold_cells(
    embeddings: DataFrame,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    n_blocks: int = 4,
    cache_key: str | None = None,
    dedup_vectors: bool = True,
) -> DataFrame:
    """Sub-quadratic near-dup pairs: k-means cells → exact cosine only
    WITHIN each cell (the SemDeDup recipe — cluster first, compare
    within cluster; also exactly an IVF index probed cell-by-cell).

    The deterministic quantized Lloyd (similarity/kmeans.py) assigns
    every vector a cell with integer-exact arithmetic, so the DuckDB
    oracle rebuilds identical cells from an unrolled CTE; the per-group
    numpy kernel accumulates dimension-sequentially like the SQL fold,
    so verified cosines are bit-identical too.

    Cost shape: Lloyd is O(iters) broadcast+argmin passes (the corpus
    never shuffles), then ONE shuffle and O(n²/k) pair work per cell —
    at 100 TB pick k ~ n/10⁴ so cells fit an executor.  Within each
    cell the work is further block-decomposed (same recipe as
    cosine_pairs_threshold_blocked) into B(B+1)/2 groups keyed
    (cell, p, q): a skewed cell — duplicate-heavy corpora produce them
    even with robust init — spreads across B² tasks with bounded
    per-task memory instead of landing on one executor.  Pair values
    depend only on the two vectors (per-dim accumulation), so the
    decomposition is invisible to the oracle.  Cross-cell pairs are
    unscored by design (recall < 1, like published SemDeDup);
    `cosine_pairs_threshold` is the exact recall baseline."""
    import numpy as np
    import pandas as pd

    from .kmeans import kmeans_assignments

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _, p, q = key
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cosine": []}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cosine": "float64"})
        ids = pdf["vec_id"].to_numpy()
        blk = pdf["b"].to_numpy()
        X = np.stack(pdf["embedding"].to_numpy())
        n, dim = X.shape
        dot = np.zeros((n, n))
        nrm = np.zeros(n)
        for j in range(dim):  # sequential dim order = SQL fold order
            xj = X[:, j].astype("float64")
            dot += np.outer(xj, xj)
            nrm += xj * xj
        cos = dot / np.sqrt(np.outer(nrm, nrm))
        want = ids[:, None] < ids[None, :]
        if p != q:  # intra-block pairs belong to the diagonal group only
            want &= blk[:, None] != blk[None, :]
        ia, ib = np.where(want)
        cosv = np.round(cos[ia, ib], 6)
        keep = cosv >= threshold
        return pd.DataFrame(
            {"vec_a": ids[ia][keep], "vec_b": ids[ib][keep], "cosine": cosv[keep]}
        )

    cells = kmeans_assignments(
        embeddings, k, iters, cache_key=cache_key
    ).select("vec_id", "cluster")
    # duplication-proofing (default): the kernel scores one
    # representative per DISTINCT embedding array; member id pairs
    # expand afterwards.  Training stays on the FULL corpus (identical
    # centroids either way is NOT guaranteed under dedup, so dedup
    # must never touch the fit), and a rep's cell is every member's
    # cell (identical vector → identical argmin).  Within-group pairs
    # get the self-cosine computed by the same dim-sequential fold the
    # kernel runs — nrm/sqrt(nrm·nrm) — so a zero vector yields NaN
    # and drops exactly as it does in the kernel.
    groups = _vector_groups(embeddings) if dedup_vectors else None
    src = (
        groups.select("vec_id", "embedding") if dedup_vectors
        else embeddings
    )
    tagged = src.join(cells, "vec_id").selectExpr(
        "cluster",
        "vec_id",
        "embedding",
        f"pmod(xxhash64(vec_id), {int(n_blocks)}) AS b",
    )
    exploded = tagged.selectExpr(
        "cluster", "vec_id", "embedding", "b",
        _block_explode_sql(n_blocks),
    )
    scored = exploded.groupBy("cluster", "pk.p", "pk.q").applyInPandas(
        score_block, out_schema
    )
    if not dedup_vectors:
        return scored
    cross = _expand_rep_pairs(scored, groups, val_col="cosine")
    nrm = (
        f"aggregate({spark_sql_as_double_array('embedding')}, 0.0D, "
        "(acc, x) -> acc + x * x)"
    )
    # nrm > 0 guard: a zero vector NaN-drops inside the kernel; here
    # (ANSI mode) the 0/0 would throw instead, so gate the division —
    # null is filtered by the same >= threshold comparison
    self_cos = (
        f"CASE WHEN {nrm} > 0 "
        f"THEN round({nrm} / sqrt({nrm} * {nrm}), 6) END"
    )
    within = _within_group_pairs(groups, self_cos, threshold, "cosine")
    return cross.unionByName(within)


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization per vector: q_i = floor(x_i · 127 /
    max|x| + 0.5) — the 4× storage-compression path for ANN indexes at
    100 TB (float32→int8; dot products then run on integers).

    floor(x+0.5) instead of round(): round-half rules differ across
    engines, floor is identical everywhere, so the quantized vectors
    (and everything derived) stay oracle-checkable.  Output: (vec_id,
    qv array<long>, qn = exact integer self-dot)."""
    return embeddings.selectExpr(
        "vec_id", f"{spark_sql_as_double_array('embedding')} AS demb"
    ).selectExpr(
        "vec_id",
        "transform(demb, x -> cast(floor(x * (127.0D / "
        "array_max(transform(demb, y -> abs(y)))) + 0.5D) AS bigint)) AS qv",
    ).selectExpr("*", "aggregate(qv, 0L, (acc, x) -> acc + x * x) AS qn")


def quantized_cosine_pairs(
    embeddings: DataFrame, threshold: float
) -> DataFrame:
    """All pairs with int8-quantized cosine ≥ threshold.  The integer
    dot products and norms are exact (|q|≤127, 64 dims ⇒ sums < 2^21,
    products < 2^41 — exact in long AND double), so the only float ops
    are one sqrt and one division per pair: bit-deterministic without
    any fold-order care, unlike the float path."""
    prepped = quantize_embeddings(embeddings)
    a = prepped.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qv").alias("qa"),
        F.col("qn").alias("na"),
    )
    b = prepped.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qv").alias("qb"),
        F.col("qn").alias("nb"),
    )
    qdot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "qcosine",
            F.round(
                qdot
                / F.sqrt((F.col("na") * F.col("nb")).cast("double")),
                6,
            ),
        )
        .filter(F.col("qcosine") >= threshold)
        .select("vec_a", "vec_b", "qcosine")
    )


def quantized_cosine_pairs_blocked(
    embeddings: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """Block-matrix form of :func:`quantized_cosine_pairs`: same exact
    result, one int64 GEMM per block pair instead of per-pair
    interpreted zip_with/aggregate folds — the quantized mirror of
    :func:`cosine_pairs_threshold_blocked` (measured there: ~1 µs per
    array-element lambda in the expression form vs numpy matrix math).

    Quantization runs INSIDE the kernel (the
    :func:`quantized_cosine_pairs_cells` move): vectorized
    ``floor(x · (127/max|x|) + 0.5)`` is the identical IEEE-double op
    sequence as :func:`quantize_embeddings`'s Catalyst expression, so
    the same integers come out — and integer dots/norms are EXACT
    (|q| ≤ 127, 64 dims ⇒ dots < 2²¹, norm products < 2⁴¹), so unlike
    the float twin no dimension-order accumulation discipline is
    needed at all: a straight ``Q @ Q.T`` is bit-equal to the SQL
    fold.  The only float ops are one sqrt and one division per pair,
    same as the expression form and the shared DuckDB oracle.
    (All-zero vectors are undefined in both forms, identically.)

    Scale: O(n²/B²) per group over B² groups, B tunes group memory —
    the all-pairs total is inherent to the exact recall baseline;
    cells/LSH/IVF are the subquadratic product paths."""
    import numpy as np
    import pandas as pd

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("qcosine", T.DoubleType()),
        ]
    )

    def score_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        p, q = key
        ids = pdf["vec_id"].to_numpy()
        blk = pdf["b"].to_numpy()
        X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        scale = 127.0 / np.abs(X).max(axis=1)
        Q = np.floor(X * scale[:, None] + 0.5).astype("int64")
        dot = Q @ Q.T  # exact in int64 (< 2^21 per entry)
        qn = np.einsum("ij,ij->i", Q, Q)
        cos = dot / np.sqrt(np.outer(qn, qn).astype("float64"))
        want = ids[:, None] < ids[None, :]
        if p != q:  # intra-block pairs belong to the diagonal group only
            want &= blk[:, None] != blk[None, :]
        ia, ib = np.where(want)
        cosv = np.round(cos[ia, ib], 6)
        keep = cosv >= threshold
        return pd.DataFrame(
            {
                "vec_a": ids[ia][keep],
                "vec_b": ids[ib][keep],
                "qcosine": cosv[keep],
            }
        )

    b = F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks))
    tagged = embeddings.select("vec_id", "embedding", b.alias("b"))
    pairs_keys = F.array(
        *[
            F.struct(
                F.least(F.col("b"), F.lit(o)).alias("p"),
                F.greatest(F.col("b"), F.lit(o)).alias("q"),
            )
            for o in range(n_blocks)
        ]
    )
    exploded = tagged.select(
        "vec_id", "embedding", "b",
        F.explode(F.array_distinct(pairs_keys)).alias("pk"),
    )
    return exploded.groupBy("pk.p", "pk.q").applyInPandas(
        score_block, out_schema
    )


def quantized_cosine_pairs_cells(
    embeddings: DataFrame,
    threshold: float,
    k: int = 8,
    iters: int = 2,
    n_blocks: int = 4,
    cache_key: str | None = None,
    dedup_vectors: bool = True,
) -> DataFrame:
    """Sub-quadratic int8-quantized near-dup pairs — the PRODUCT path
    for compressed-embedding dedup at 100 TB, composing
    :func:`quantize_embeddings` (4× storage) with the same
    deterministic-k-means cell decomposition as
    :func:`cosine_pairs_threshold_cells` (the SemDeDup recipe).
    :func:`quantized_cosine_pairs` stays registered as the all-pairs
    recall baseline exactly like ``sim_cosine_pairs`` does for the
    float family.

    Cells are trained on the RAW embeddings (identical cells to the
    float kernel, so one Lloyd pass serves both families); scoring
    inside a cell runs on the int8 vectors: an int64 matmul is exact
    (|q| ≤ 127, 64 dims ⇒ dots < 2²¹, norm products < 2⁴¹ — exact in
    long AND double), so the only float ops are one sqrt and one
    division per pair, bit-identical to the expression form with no
    fold-order discipline.  Quantization itself happens INSIDE the
    Arrow batch kernel (vectorized numpy ``floor(x·(127/max|x|)+0.5)``
    — the identical IEEE-double op sequence as
    :func:`quantize_embeddings`'s Catalyst expression, so the same
    integers), not as a row-at-a-time higher-order-function pass over
    the whole table: the A/B measured the Catalyst transform/aggregate
    pass at ~2× the entire float-cells kernel.  Per-cell work is
    block-decomposed into
    B(B+1)/2 tasks keyed (cell, p, q) — a skewed duplicate-heavy cell
    spreads across tasks with bounded memory.  Cross-cell pairs are
    unscored by design (recall < 1); emitted pairs are verified with
    the exact quantized cosine, so precision vs the all-pairs twin is
    exact (pinned in tests/test_recall_gates.py)."""
    import numpy as np
    import pandas as pd

    from .kmeans import kmeans_assignments

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("qcosine", T.DoubleType()),
        ]
    )

    def score_block(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _, p, q = key
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "qcosine": []}
            ).astype(
                {"vec_a": "int64", "vec_b": "int64", "qcosine": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        blk = pdf["b"].to_numpy()
        V = np.stack(pdf["v"].to_numpy())  # float64 (n, dims)
        maxabs = np.abs(V).max(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            scale = 127.0 / maxabs  # same op order as the expression
            Q = np.floor(V * scale[:, None] + 0.5)
        Q = np.where(np.isnan(Q), 0.0, Q).astype("int64")
        qn = (Q * Q).sum(axis=1)
        dot = Q @ Q.T  # exact: every |entry| < 2^21
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot.astype("float64") / np.sqrt(
                np.outer(qn, qn).astype("float64")
            )
        want = ids[:, None] < ids[None, :]
        if p != q:  # intra-block pairs belong to the diagonal group only
            want &= blk[:, None] != blk[None, :]
        ia, ib = np.where(want)
        cosv = np.round(cos[ia, ib], 6)
        keep = cosv >= threshold
        return pd.DataFrame(
            {
                "vec_a": ids[ia][keep],
                "vec_b": ids[ib][keep],
                "qcosine": cosv[keep],
            }
        )

    cells = kmeans_assignments(
        embeddings, k, iters, cache_key=cache_key
    ).select("vec_id", "cluster")
    # duplication-proofing, same shape as the float kernel: score one
    # representative per distinct embedding array, expand afterwards.
    # Within-group value: identical int8 vectors give dot = qn and
    # sqrt(qn·qn) = qn EXACTLY (qn < 2²¹ so qn² < 2⁴² is exact in
    # double and the square root of a representable perfect square is
    # exact), hence qcosine exactly 1.0 whenever the vector is
    # nonzero; a zero vector quantizes to all-zero codes and NaN-drops
    # in the kernel, so it is excluded here too (null ⇒ filtered).
    groups = _vector_groups(embeddings) if dedup_vectors else None
    src = (
        groups.select("vec_id", "embedding") if dedup_vectors
        else embeddings
    )
    raw = src.selectExpr(
        "vec_id", f"{spark_sql_as_double_array('embedding')} AS v"
    )
    tagged = raw.join(cells, "vec_id").selectExpr(
        "cluster",
        "vec_id",
        "v",
        f"pmod(xxhash64(vec_id), {int(n_blocks)}) AS b",
    )
    exploded = tagged.selectExpr(
        "cluster", "vec_id", "v", "b", _block_explode_sql(n_blocks)
    )
    scored = exploded.groupBy("cluster", "pk.p", "pk.q").applyInPandas(
        score_block, out_schema
    )
    if not dedup_vectors:
        return scored
    cross = _expand_rep_pairs(scored, groups, val_col="qcosine")
    self_q = (
        "CASE WHEN array_max(transform("
        f"{spark_sql_as_double_array('embedding')}, x -> abs(x))) > 0 "
        "THEN 1.0D END"
    )
    within = _within_group_pairs(groups, self_q, threshold, "qcosine")
    return cross.unionByName(within)


def cosine_topk_matryoshka(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    coarse_dims: int = 8,
    n_candidates: int = 50,
) -> DataFrame:
    """Matryoshka-style two-stage ANN: rank ALL vectors by cosine over
    only the first ``coarse_dims`` dimensions (an 8× cheaper pass when
    embeddings are trained front-loaded, MRL-style), keep the top
    ``n_candidates`` per query, then score ONLY those candidates with
    the full-dimension exact cosine and return the top ``k``.

    The cascade is the point: the full-width fold — the expensive part
    of every similarity scan — runs on candidates only, and the
    coarse pass reads a prefix slice of the same stored vector (no
    second index, unlike IVF/LSH; composes WITH them at 100 TB — the
    coarse pass rides any candidate generator).  Both stages are
    deterministic fold arithmetic, so the whole cascade is
    oracle-checkable bit-for-bit."""

    def with_coarse(df: DataFrame, emb: str, coarse: str, norm: str):
        return df.selectExpr(
            "*", f"slice({emb}, 1, {coarse_dims}) AS {coarse}"
        ).selectExpr("*", f"{spark_sql_dot_fold(coarse, coarse)} AS {norm}")

    corpus = with_coarse(
        _with_norm(embeddings, "vec_id", "c_emb", "c_norm"),
        "c_emb", "c_coarse", "cc_norm",
    )
    q = with_coarse(
        _with_norm(
            embeddings.filter(F.col("vec_id").isin(query_ids)),
            "query_id", "q_emb", "q_norm",
        ),
        "q_emb", "q_coarse", "qc_norm",
    )
    j = F.broadcast(q).crossJoin(corpus).filter(
        F.col("query_id") != F.col("vec_id")
    )
    coarse = j.withColumn(
        "ccos",
        F.expr(
            f"{spark_sql_dot_fold('q_coarse', 'c_coarse')}"
            " / sqrt(qc_norm * cc_norm)"
        ),
    )
    wc = W.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("vec_id")
    )
    cand = coarse.withColumn("crn", F.row_number().over(wc)).filter(
        F.col("crn") <= n_candidates
    )
    exact = cand.withColumn(
        "cosine", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def mmr_select(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int,
    *,
    pool_size: int = 50,
) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein
    SIGIR'98) — the diversity-aware retrieval every training-data
    sampler and RAG context builder needs: from each query's
    ``pool_size`` most-relevant candidates, greedily pick ``k`` docs
    maximizing ``rel − max-sim-to-already-picked`` (λ=0.5; argmax of
    0.5·(rel−msim) ≡ argmax of the difference, so the λ scaling drops
    out), so the picked set covers the neighborhood instead of
    returning k near-copies of the same content.

    Determinism: rel and msim are 6-dp-rounded fold cosines and their
    difference is exact IEEE subtraction, ties break on vec_id —
    the greedy trajectory is bit-reproducible and oracle-checkable
    via a k-round unrolled CTE (the BPE/Lloyd recipe).

    Scale shape: one broadcast-query corpus scan builds the pool
    (swap in any ANN candidate generator — IVF cells, LSH buckets —
    unchanged, as with contrastive mining); each greedy round then
    works on the pool only: |pool|×r pair cosines per query, one
    |Q|-row collect (the kmeans-argmax driver pattern).  k and pool
    are context-budget-sized constants, never corpus-sized.

    Returns (query_id, vec_id, rel, rnk) with rnk = pick order.
    """
    from pyspark.sql import Row

    spark = embeddings.sparkSession
    corpus = _with_norm(embeddings, "vec_id", "c_emb", "c_norm")
    q = _with_norm(
        embeddings.filter(F.col("vec_id").isin(query_ids)),
        "query_id", "q_emb", "q_norm",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    pool = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "rel", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
        )
        .withColumn("prn", F.row_number().over(w))
        .filter(F.col("prn") <= pool_size)
        .select("query_id", "vec_id", "c_emb", "c_norm", "rel")
        .localCheckpoint(eager=True)  # feeds every greedy round
    )
    picks: list[Row] = [
        Row(query_id=r["query_id"], vec_id=r["vec_id"],
            rel=r["rel"], rnk=1)
        for r in pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    ]
    for r in range(2, k + 1):
        sel_ids = [(p.query_id, p.vec_id) for p in picks]
        sel_df = values_frame(
            spark, sel_ids, "query_id long, vec_id long"
        )
        sel_emb = pool.join(sel_df, ["query_id", "vec_id"]).select(
            "query_id",
            F.col("c_emb").alias("s_emb"),
            F.col("c_norm").alias("s_norm"),
        )
        cand = pool.join(sel_df, ["query_id", "vec_id"], "left_anti")
        msim = (
            cand.join(F.broadcast(sel_emb), "query_id")
            .withColumn(
                "sim", _pair_cosine("c_emb", "s_emb", "c_norm", "s_norm")
            )
            .groupBy("query_id", "vec_id", "rel")
            .agg(F.max("sim").alias("msim"))
        )
        w_m = W.partitionBy("query_id").orderBy(
            (F.col("rel") - F.col("msim")).desc(), F.col("vec_id")
        )
        picks.extend(
            Row(query_id=row["query_id"], vec_id=row["vec_id"],
                rel=row["rel"], rnk=r)
            for row in msim.withColumn("rn", F.row_number().over(w_m))
            .filter(F.col("rn") == 1)
            .collect()
        )
    return values_frame(
        spark,
        [(p.query_id, p.vec_id, p.rel, p.rnk) for p in picks],
        "query_id long, vec_id long, rel double, rnk long",
    ).orderBy("query_id", "rnk")


def contrastive_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    dup_threshold: float,
    k_hard: int,
    k_easy: int,
) -> DataFrame:
    """Negative mining for contrastive / embedding training: for each
    query vector, a stratified negative set —

    - ``hard``: the ``k_hard`` highest-cosine candidates BELOW
      ``dup_threshold`` (anything at or above it is a near-duplicate /
      positive and must not be labeled a negative — the classic
      false-negative poisoning mode in contrastive batches);
    - ``easy``: ``k_easy`` candidates hash-sampled (md5 of
      ``query_id:vec_id`` — deterministic, append-stable, the same
      addressing rule as the corpus split family) from the remaining
      non-positive pool, disjoint from the hard set.

    Scale shape: identical to the brute-force ANN pass — the query set
    broadcasts, the corpus is scanned once, and both strata come from
    two window ranks over the |Q|·n scored frame partitioned by
    query_id.  At 100 TB the scored frame is the thing to bound: swap
    the cross join for any candidate generator (IVF cells, LSH buckets,
    matryoshka coarse pass) and the stratification is unchanged — it
    only assumes a (query_id, vec_id, cosine) frame."""
    corpus = _with_norm(embeddings, "vec_id", "c_emb", "c_norm")
    q = _with_norm(
        embeddings.filter(F.col("vec_id").isin(query_ids)),
        "query_id", "q_emb", "q_norm",
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn(
            "cosine", _pair_cosine("q_emb", "c_emb", "q_norm", "c_norm")
        )
        .select("query_id", "vec_id", "cosine")
    )
    nonpos = scored.filter(F.col("cosine") < dup_threshold)
    w_hard = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    ranked = nonpos.withColumn("r_hard", F.row_number().over(w_hard))
    hard = ranked.filter(F.col("r_hard") <= k_hard).select(
        "query_id",
        "vec_id",
        "cosine",
        F.lit("hard").alias("stratum"),
        F.col("r_hard").cast("long").alias("rnk"),
    )
    w_easy = W.partitionBy("query_id").orderBy(
        F.md5(
            F.concat_ws(
                ":",
                F.col("query_id").cast("string"),
                F.col("vec_id").cast("string"),
            )
        ),
        F.col("vec_id"),
    )
    easy = (
        ranked.filter(F.col("r_hard") > k_hard)
        .withColumn("r_rand", F.row_number().over(w_easy))
        .filter(F.col("r_rand") <= k_easy)
        .select(
            "query_id",
            "vec_id",
            "cosine",
            F.lit("easy").alias("stratum"),
            F.col("r_rand").cast("long").alias("rnk"),
        )
    )
    return hard.unionAll(easy).orderBy("query_id", "stratum", "rnk")
