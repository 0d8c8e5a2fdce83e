"""Dedup operator implementations over a documents DataFrame.

Each returns a DataFrame; the registry entries in queries/dedup.py bind
them to DuckDB oracles.  Scale notes per operator — these are the
components a 100 TB training-data pipeline runs daily, so every one is
shuffle-budgeted:

- exact:     1 shuffle (hash groupBy on digest).  O(n).
- fingerprint dedup: 1 scan + 1 shuffle on a 64-bit int — cheapest
  near-exact variant (whitespace-robust).
- minhash-LSH: shingle+sign per row (no shuffle) → group by shingle
  array (1 exchange; byte-identical copies collapse) → explode band
  keys of the distinct sets (×N_BANDS rows) → self-join on band bucket
  → verify once per set pair → expand to id pairs (output-bound).
  Never all-pairs.  Duplication-proof applies to the BATCH operator
  (minhash_lsh_pairs), where set-level banding removes a candidate
  term quadratic in copy-group size that is NOT part of the output;
  the incremental operator (minhash_lsh_pairs_incremental) bands rows,
  which is already output-bound for ticks — see its docstring.
- simhash:   explode tokens (1 shuffle to per-doc bit votes) → 60-bit
  int per doc → near-dup pairs via pigeonhole banding (4×15-bit bands
  at hamming ≤ 3 — never all-pairs).
- n-gram jaccard (brute): shared-shingle join — quadratic in docs per
  shingle bucket; the exact baseline for recall measurement, not the
  scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..exprs import sql_double, sql_ident
from ..functions.text import spark_sql_token_hash_wide, spark_sql_tokens
from .hashing import (
    spark_sql_band_keys,
    spark_sql_minhash_signature,
    spark_sql_shingle_hashes,
)

NGRAM = 3

_DEFAULT_SIG_STORAGE = StorageLevel.MEMORY_AND_DISK


def spark_sql_word_shingles_from_tokens(toks: str, n: int = NGRAM) -> str:
    """Distinct word n-gram shingle array from a TOKEN ARRAY expression
    (empty if < n tokens).

    Built from n shifted ``slice``s of the token array folded with
    ``zip_with`` string concat — the textbook form
    (``transform(sequence(...), i -> concat(element_at(toks, i),
    ...))``) re-evaluates its argument on every ``element_at`` call
    (no common-subexpression elimination inside interpreted
    higher-order functions) — measured ~5× slower on sf0.1 documents.
    Output strings are identical.

    Pass a column REFERENCE to a previously projected token array, not
    an inline ``spark_sql_tokens(text)`` expression: this builder
    references ``toks`` n+2 times, and an inline argument re-runs the
    split+filter tokenizer at each reference (measured 21% of the
    sf0.1 shingle kernel); a reference to an already-projected column
    is free, and Catalyst's CollapseProject keeps the separate
    projection because the alias is non-cheap and multiply-referenced
    (:func:`shingle_sets` is the canonical shape)."""
    ng = f"greatest(size({toks}) - {n - 1}, 0)"
    grams = f"slice({toks}, 1, {ng})"
    for k in range(1, n):
        grams = (
            f"zip_with({grams}, slice({toks}, {1 + k}, {ng}), "
            "(a, b) -> concat_ws(' ', a, b))"
        )
    return (
        f"CASE WHEN size({toks}) >= {n} THEN array_distinct({grams}) "
        "ELSE cast(array() AS array<string>) END"
    )


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: md5 digest → canonical (min) doc_id +
    copy count."""
    return (
        docs.select("doc_id", F.md5("text").alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """(doc_id, shingles) via an explicit token projection: the
    tokenizer runs once per row instead of once per shingle-builder
    reference (n+2 ×) — see spark_sql_word_shingles_from_tokens."""
    return docs.selectExpr(
        "doc_id", f"{spark_sql_tokens('text')} AS _toks"
    ).selectExpr(
        "doc_id",
        f"{spark_sql_word_shingles_from_tokens('_toks', n)} AS shingles",
    )


def jaccard_pairs_brute(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shared-shingle join.
    Pairs share ≥1 shingle ⇒ the candidate join never enumerates
    disjoint pairs, but hot shingles still fan out — the LSH variant is
    the scale path; this is the exact baseline."""
    from ..catalog import spread_scan

    sh = shingle_sets(spread_scan(docs))  # heavy per-row shingle
    # kernel on a possibly single-split scan (guide §2.5; measured
    # 2.77 → 0.93 s at sf0.1)
    sizes = sh.select(
        "doc_id", F.size("shingles").alias("n_sh"), "shingles"
    )
    ex = sh.select(
        "doc_id", F.explode("shingles").alias("s")
    )
    a = ex.select(F.col("doc_id").alias("doc_a"), "s")
    b = ex.select(F.col("doc_id").alias("doc_b"), "s")
    shared = (
        a.join(b, ["s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")
    )
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _banded_signatures(
    docs: DataFrame,
    storage_level: "StorageLevel | None" = _DEFAULT_SIG_STORAGE,
) -> DataFrame:
    """(doc_id, shingles, bands) — the MinHash-LSH index rows,
    persisted: in the incremental operator the frame feeds 4 plan
    branches (both sides of the band join, both sides of
    verification); without persisting, Spark would recompute
    shingling + 16 minhash perms 4×.  (The batch operator passes
    ``None``: it groups by shingle set first and localCheckpoints the
    grouped frame instead — one materialization either way.)

    ``storage_level`` defaults to MEMORY_AND_DISK — signatures larger
    than executor storage memory SPILL instead of evicting (a plain
    ``.cache()`` silently recomputes evicted partitions 4×, the OOM-or-
    recompute trap at 100 TB).  Pass ``StorageLevel.DISK_ONLY`` to keep
    storage memory free for the band join, or ``None`` to skip
    persisting (single-pass consumers, e.g. the index WRITE path in
    dedup/index.py — the TxTable parquet is the materialization).
    The persist intentionally outlives the call (the result is lazy);
    LRU eviction bounds the cost in long-lived sessions, and the
    persisted-index lifecycle (dedup/index.py) is the store-once
    answer where recompute matters.  Shared by the batch and
    incremental pair operators so their candidate/verify semantics can
    never drift apart.

    STAGED projections (round 11, measured on the sf0.1 plan):
    interpreted Projects have no common-subexpression elimination, so
    the single-expression form paid twice —
    (a) ``filter(size(shingles) > 0)`` was pushed below every project
        to the scan with the WHOLE shingle expression inlined into the
        row-at-a-time Filter (a full extra shingle pass on the
        narrowest stage); the equivalent pre-shingle form
        ``size(tokens) >= NGRAM`` (< n tokens ⇔ empty shingle array,
        by construction of spark_sql_word_shingles_from_tokens) inlines
        only the tokenizer;
    (b) the band keys over the minhash signature re-embedded the entire
        16-permutation minhash fold into EACH of the 16 element_at
        extractions — 16× the minhash work per row.
    Materializing tokens → shingles → signature in separate Projects
    keeps each computed once: CollapseProject does not inline a
    non-cheap alias that is referenced more than once.  Output is
    expression-for-expression identical.

    ``spread_scan``: the shingle+minhash kernel is the heaviest
    per-row map-side work in the engine, and the bench fixtures scan
    as ONE task — without the spread it runs on 1 of N cores (guide
    §2.5, one cheap text exchange; a no-op whenever the input already
    has ≥ cores partitions, i.e. at any real scale)."""
    from ..catalog import spread_scan

    tk = (
        spread_scan(docs)
        .selectExpr("doc_id", f"{spark_sql_tokens('text')} AS _toks")
        .filter(f"size(_toks) >= {NGRAM}")
    )
    sh = tk.selectExpr(
        "doc_id",
        f"{spark_sql_word_shingles_from_tokens('_toks')} AS shingles",
    )
    mh = sh.selectExpr(
        "doc_id",
        "shingles",
        f"{spark_sql_minhash_signature(spark_sql_shingle_hashes('shingles'))}"
        " AS _sig",
    )
    sig = mh.selectExpr(
        "doc_id", "shingles", f"{spark_sql_band_keys('_sig')} AS bands"
    )
    return sig if storage_level is None else sig.persist(storage_level)


def _verify_jaccard(
    cand: DataFrame, sig: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verification of (doc_a, doc_b) candidates against
    the signature frame's shingle sets — the shared second stage of
    every LSH pair operator."""
    sa = sig.selectExpr("doc_id AS doc_a", "shingles AS sh_a")
    sb = sig.selectExpr("doc_id AS doc_b", "shingles AS sh_b")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .selectExpr("*", "size(array_intersect(sh_a, sh_b)) AS shared")
        .selectExpr(
            "*",
            "round(shared * 1.0D / "
            "(size(sh_a) + size(sh_b) - shared), 6) AS jaccard",
        )
        .filter(f"jaccard >= {sql_double(threshold)}")
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """MinHash + LSH near-dup pairs, exact-verified.

    shingle → 16 md5-derived minhashes → 8 band keys → self-join on
    band bucket → distinct candidates → exact Jaccard filter.  Output is
    *deterministic* (candidates are a function of content, verification
    is exact) — so the DuckDB oracle replicates it bit-for-bit.

    Like the Hamming kernel (banded_hamming_pairs), the band join runs
    at the SHINGLE-SET level, not the row level: a crawl corpus is
    duplication-heavy by construction, and every byte-identical copy of
    a document has the identical shingle array — banding rows puts a
    g-sized copy group into every band bucket g times and the candidate
    distinct shuffles O(Σg²) rows.  Both LSH banding AND Jaccard
    verification are pure functions of the shingle array, so documents
    are first grouped by it (one exchange; the group key is the exact
    array — no hash collisions can merge distinct sets, and re-ordered
    near-copies merely land in separate groups, which only costs
    efficiency, never correctness).  Band join + verify then see one
    representative per distinct array; id pairs expand afterwards:
    within-group pairs share identical shingle sets (Jaccard exactly
    1.0), cross-group pairs inherit their set pair's verified Jaccard,
    each unordered id pair exactly once (docs belong to one group;
    set_a < set_b fixes orientation).  Output volume is information —
    every true pair must be emitted — but nothing larger than the
    output crosses a shuffle.
    """
    sig = _banded_signatures(docs, storage_level=None)
    # one exchange by the shingle array, as a HASH aggregate (a window
    # would sort-compare the arrays — measured ~2× the cost); map-side
    # partial aggregation collapses co-located copies before the
    # shuffle, and collect_list carries the members so no second
    # array-keyed join is needed.  bands are a pure function of
    # shingles, so first() is exact.  EAGER localCheckpoint: the frame
    # feeds SIX scan branches of one union action (band join ×2,
    # verification ×2, both expansion sides), and with a lazy
    # checkpoint those branches race to materialize the same
    # un-checkpointed RDD — each concurrently-scheduled stage re-runs
    # the shingle+minhash+groupBy lineage (block-level dedup only
    # helps once a block is fully persisted).  Measured at sf0.1:
    # best-of-3 2.8-3.3 s lazy (scheduling-dependent, bimodal down to
    # 0.6 s when stages happen to serialize) vs a stable 0.38-0.48 s
    # eager.  Eager computes the grouped frame exactly once, inside
    # the caller's timed region.
    groups = (
        sig.groupBy("shingles")
        .agg(
            F.min("doc_id").alias("set_id"),
            F.first("bands").alias("bands"),
            F.collect_list("doc_id").alias("ids"),
        )
        .localCheckpoint(eager=True)
    )
    reps = groups.select("set_id", "shingles", "bands")
    members = groups.selectExpr("set_id", "explode(ids) AS doc_id")
    banded = reps.selectExpr("set_id", "explode(bands) AS band")
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .filter("x.set_id < y.set_id")
        .selectExpr("x.set_id AS doc_a", "y.set_id AS doc_b")
        .distinct()
    )
    vset = _verify_jaccard(
        cand,
        reps.selectExpr("set_id AS doc_id", "shingles"),
        threshold,
    ).selectExpr("doc_a AS set_a", "doc_b AS set_b", "jaccard")
    # cross-group expansion: the verified set-pair frame is band-
    # bucket-bounded and usually tiny — AQE broadcasts it at runtime
    # from its actual size (no hint: a forced broadcast could OOM the
    # driver at adversarial scales)
    cross = (
        members.selectExpr("set_id AS set_a", "doc_id AS id_x")
        .join(vset, "set_a")
        .join(
            members.selectExpr("set_id AS set_b", "doc_id AS id_y"),
            "set_b",
        )
        .selectExpr(
            "least(id_x, id_y) AS doc_a",
            "greatest(id_x, id_y) AS doc_b",
            "jaccard",
        )
    )
    if threshold > 1.0:  # identical sets cannot pass; cross is empty too
        return cross
    within = (
        members.selectExpr("set_id", "doc_id AS doc_a")
        .join(
            members.selectExpr("set_id", "doc_id AS doc_b"),
            "set_id",
        )
        .filter("doc_a < doc_b")
        .selectExpr("doc_a", "doc_b", "round(1.0D, 6) AS jaccard")
    )
    return cross.unionByName(within)


def minhash_lsh_pairs_incremental(
    corpus: DataFrame, new_docs: DataFrame, threshold: float
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs touching the NEW batch
    only — the daily-crawl shape.  A day's ingest must dedup against
    the accumulated corpus without recomparing corpus×corpus: band keys
    are content hashes, so yesterday's bands never change, and the only
    new candidates are (new × all) band collisions.

    Cost: O(|new| · bands) fan-out joined against the band index —
    at 100 TB the corpus band table is a stored index (write it with
    pipeline/export.py's content-addressed layout) and the daily join
    touches ~|new|/bucket_density of it; the full self-join never runs
    again.  Output ≡ the pairs of `minhash_lsh_pairs(corpus ∪ new)`
    minus the corpus-internal ones (tested), deterministic ⇒
    oracle-checkable.  Signature build and Jaccard verification are the
    SHARED helpers of the batch operator — the tested equivalence
    cannot drift because there is one implementation.

    Duplication scope (ADVICE r7): this path bands ROWS, not distinct
    shingle sets, and that is deliberate.  The batch self-join's Σg²
    blowup comes from candidate volume quadratic in copy-group size
    *before* the output filter; here every candidate already touches
    the new batch, so candidates = (new × twin) pairs = exactly the
    pairs the operator must emit, within the constant N_BANDS factor
    the pre-distinct carries.  Measured r7 (SCALING.md "Tick-side
    check"): a 500-doc 10×-duplicated tick against a 50×-duplicated
    250k-doc stored corpus runs 7.7 s steady, output-exact.  What
    set-level banding would still buy here is one Jaccard verify per
    SET pair instead of per id pair — worthwhile if tick outputs grow
    pathological, not at measured shapes."""
    sig = _banded_signatures(
        corpus.select("doc_id", "text").unionByName(
            new_docs.select("doc_id", "text")
        )
    )
    cand = candidates_touching(sig, new_docs.select("doc_id"))
    return _verify_jaccard(cand, sig, threshold)


def candidates_touching(sig: DataFrame, new_ids: DataFrame) -> DataFrame:
    """Band-collision candidate pairs TOUCHING ``new_ids`` only: explode
    the signature frame's band keys, keep the new batch's bands
    (left-semi on doc_id), equi-join them against ALL bands.  Shared by
    the stateless incremental operator above and the persisted-index
    path (dedup/index.py) — one implementation, one semantics."""
    bands = sig.selectExpr("doc_id", "explode(bands) AS band")
    new_bands = bands.join(new_ids, "doc_id", "left_semi")
    return (
        new_bands.alias("x")
        .join(bands.alias("y"), "band")
        .filter("x.doc_id != y.doc_id")
        .selectExpr(
            "least(x.doc_id, y.doc_id) AS doc_a",
            "greatest(x.doc_id, y.doc_id) AS doc_b",
        )
        .distinct()
    )


SIMHASH_BITS = 60  # Manku-style wide fingerprint; < 63 keeps every
# (1 << b) positive in BIGINT on both engines


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash: explode tokens, vote per bit of the
    60-bit md5-derived token hash (duplicates weigh), assemble the
    signature int.  One shuffle (groupBy doc_id).

    60 bits instead of the classic 64 (sign-bit safety) — the width is
    what makes banding work: near-dup detection bands the signature
    into (max_hamming+1) chunks, and bucket count per band is
    2^(bits/bands).  A narrow signature (32 bits, hamming 8 ⇒ 3-4-bit
    bands ⇒ ≤16 buckets) degenerates the band join toward all-pairs at
    corpus scale; 60 bits with hamming 3 gives 4×15-bit bands = 32k
    buckets — the Manku/Google near-dup configuration."""
    from ..catalog import spread_scan

    ex = spread_scan(docs).selectExpr(
        "doc_id", f"explode({spark_sql_tokens('text')}) AS tok"
    ).selectExpr(
        "*", f"{spark_sql_token_hash_wide('tok')} AS h"
    )
    # per-bit vote aggregations and the signature assembly as expr
    # strings (round 11): the node-built form paid ~15 py4j
    # round-trips per bit x 60 bits at construction
    votes = ex.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS v{b}"
            )
            for b in range(bits)
        ]
    )
    sim = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(bits)
    )
    return votes.selectExpr(
        "doc_id", f"cast(0 AS bigint) + {sim} AS simhash"
    )


def simhash_band_explode_sql(
    sig_expr: str, max_hamming: int, bits: int = SIMHASH_BITS
) -> str:
    """Split a ``bits``-wide signature into ``max_hamming + 1``
    contiguous bands, each tagged as a (band_idx, band_val) struct, and
    explode them.  Pigeonhole: a pair within Hamming distance
    ``max_hamming`` differs in ≤ max_hamming bits, so at least one of
    the max_hamming+1 bands is bit-identical — an equi-join on
    (band index, band value) finds every qualifying pair with zero
    false negatives."""
    n_bands = max_hamming + 1
    base, extra = divmod(bits, n_bands)
    parts, offset = [], 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        parts.append(
            f"named_struct('band_idx', {i}, "
            f"'band_val', shiftright({sig_expr}, {offset}) & {mask})"
        )
        offset += width
    return f"explode(array({', '.join(parts)})) AS band"


def banded_hamming_pairs(
    sig: DataFrame,
    max_hamming: int,
    *,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of a bit-signature
    frame (``id_col``, ``sig_col``), via pigeonhole banding — NOT
    all-pairs.  Shared kernel of SimHash text near-dup AND perceptual
    image near-dup (multimodal/ops.py).

    The ``bits``-wide signature splits into (max_hamming+1) contiguous
    bands; candidates equi-join on band equality (shuffle on band value
    only), then exact Hamming verifies candidates.  Recall is exact
    (pigeonhole guarantees a matching band for every true pair); output
    is identical to the brute-force scan, so a DuckDB oracle replicates
    it.  Returns (id_a, id_b, hamming).

    The band join runs over DISTINCT signature VALUES, not rows: a
    crawl corpus is duplication-heavy by construction — every exact
    copy of an item shares one hash, so banding rows puts g copies of
    a g-sized group into every bucket and the candidate distinct
    shuffles O(Σg²) rows (measured 100M+ at the 100× fixture).
    Deduplicating hashes first makes the band join + Hamming verify
    O(distinct values) — corpus duplication never enters it — and id
    pairs expand afterwards from two hash-keyed joins (the tiny
    verified hash-pair set broadcasts): within-group pairs (identical
    hash, Hamming 0) and cross-group pairs (one row per id pair, no
    distinct needed since an unordered hash pair appears exactly
    once).  Output volume is information — every true pair must be
    emitted — but nothing LARGER than the output crosses a shuffle.

    The signature frame feeds several branches; without
    materialization Spark recomputes its lineage per branch — for the
    perceptual-hash caller that is a full media decode pass each.
    EAGER localCheckpoint (round 11): the branches belong to ONE
    union action, and a lazy checkpoint lets the concurrently
    scheduled branch stages race to materialize the same RDD — each
    re-running the signature lineage (the minhash groups frame
    measured 2.8 s → 0.4 s at sf0.1 from this same fix).  2 small
    columns per row, blocks released by the ContextCleaner once the
    frame is unreferenced."""
    sig = sig.selectExpr(
        f"{sql_ident(id_col)} AS _id", f"{sql_ident(sig_col)} AS _sig"
    ).localCheckpoint(eager=True)
    hashes = sig.selectExpr("_sig AS h").distinct()
    banded = hashes.selectExpr(
        "h", simhash_band_explode_sql("h", max_hamming, bits)
    ).selectExpr("h", "band.band_idx", "band.band_val")
    a = banded.selectExpr("h AS ha", "band_idx", "band_val")
    b = banded.selectExpr("h AS hb", "band_idx", "band_val")
    hash_pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter("ha < hb")
        .select("ha", "hb")
        .distinct()  # a hash pair may agree on several bands
        .selectExpr(
            "ha", "hb", "CAST(bit_count(ha ^ hb) AS int) AS hamming"
        )
        .filter(f"hamming <= {int(max_hamming)}")
    )
    # cross-group: each unordered hash pair contributes |ga|·|gb| id
    # pairs, each exactly once (ha < hb fixes the pair's orientation;
    # least/greatest restores id order).  The verified hash-pair set
    # is band-bucket-bounded and usually tiny — AQE converts these
    # joins to broadcasts at runtime from its ACTUAL size (no hint:
    # at adversarial scales a forced broadcast could OOM the driver).
    cross = (
        sig.selectExpr("_id AS id_x", "_sig AS ha")
        .join(hash_pairs, "ha")
        .join(sig.selectExpr("_id AS id_y", "_sig AS hb"), "hb")
        .selectExpr(
            "least(id_x, id_y) AS id_a",
            "greatest(id_x, id_y) AS id_b",
            "hamming",
        )
    )
    # within-group: identical hashes, Hamming 0
    x = sig.selectExpr("_sig", "_id AS id_a")
    y = sig.selectExpr("_sig", "_id AS id_b")
    within = (
        x.join(y, "_sig")
        .filter("id_a < id_b")
        .selectExpr("id_a", "id_b", "CAST(0 AS int) AS hamming")
    )
    return cross.unionByName(within)


def banded_hamming_pairs_touching(
    sig: DataFrame,
    new_ids: DataFrame,
    max_hamming: int,
    *,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Asymmetric variant of :func:`banded_hamming_pairs` for the
    daily-crawl tick: pairs within ``max_hamming`` where at least one
    side is in ``new_ids`` (single column named ``id_col``).

    Only DISTINCT HASHES present in the new batch fan out against the
    stored distinct-hash set (the hash-level shape of
    :func:`banded_hamming_pairs`, kept asymmetric): stored hashes are
    never banded against EACH OTHER — the stored×stored join fan-out
    and the duplication blowup both vanish — and id pairs expand
    afterwards with a newness filter (a qualifying hash group can hold
    both new and stored ids, so newness is decided per id pair, not
    per hash).  Per-tick cost, precisely: the new side is
    O(|new distinct hashes| · bands); the stored side still explodes
    bands+1 16-byte rows per stored DISTINCT hash into the equi-join —
    signature-sized index-scan work that grows with corpus vocabulary
    (exactly like the MinHash index tick scanning its stored band
    table), while decode/hashing work stays O(new) and nothing
    quadratic in either corpus size or duplication exists anywhere.
    Exact recall by pigeonhole: every qualifying pair has a new side
    whose hash IS in the new-hash set.  Returns (id_a, id_b,
    hamming)."""
    flagged = sig.selectExpr(
        f"{sql_ident(id_col)} AS _id", f"{sql_ident(sig_col)} AS _sig"
    ).join(
        new_ids.selectExpr(f"{sql_ident(id_col)} AS _id", "true AS _new"),
        "_id",
        "left",
    ).selectExpr(
        "_id", "_sig", "coalesce(_new, false) AS _new"
    ).localCheckpoint(eager=True)  # feeds 5 branches of one action —
    # eager avoids the lazy-checkpoint materialization race (see
    # banded_hamming_pairs)

    def _bands(h_frame):
        return h_frame.selectExpr(
            "h", simhash_band_explode_sql("h", max_hamming, bits)
        ).selectExpr("h", "band.band_idx", "band.band_val")

    new_hashes = flagged.filter("_new").selectExpr("_sig AS h").distinct()
    all_hashes = flagged.selectExpr("_sig AS h").distinct()
    hash_pairs = (
        _bands(new_hashes)
        .withColumnRenamed("h", "hx")
        .join(
            _bands(all_hashes).withColumnRenamed("h", "hy"),
            ["band_idx", "band_val"],
        )
        .filter("hx != hy")
        .selectExpr("least(hx, hy) AS ha", "greatest(hx, hy) AS hb")
        .distinct()  # band multi-hits + both-hashes-new double counting
        .selectExpr(
            "ha", "hb", "CAST(bit_count(ha ^ hb) AS int) AS hamming"
        )
        .filter(f"hamming <= {int(max_hamming)}")
    )
    # cross-group expansion; an unordered hash pair appears once, so
    # no id-level distinct — only the per-pair newness filter
    cross = (
        flagged.selectExpr("_id AS id_x", "_sig AS ha", "_new AS nx")
        .join(hash_pairs, "ha")
        .join(
            flagged.selectExpr("_id AS id_y", "_sig AS hb", "_new AS ny"),
            "hb",
        )
        .filter("nx OR ny")
        .selectExpr(
            "least(id_x, id_y) AS id_a",
            "greatest(id_x, id_y) AS id_b",
            "hamming",
        )
    )
    # within-group: identical hash, at least one new id (Hamming 0)
    x = flagged.selectExpr("_sig", "_id AS id_a", "_new")
    y = flagged.selectExpr("_sig", "_id AS id_b")
    within = (
        x.filter("_new")
        .join(y, "_sig")
        .filter("id_a != id_b")
        .selectExpr(
            "least(id_a, id_b) AS id_a", "greatest(id_a, id_b) AS id_b"
        )
        .distinct()  # (new, new) same-hash pairs arrive twice
        .selectExpr("id_a", "id_b", "CAST(0 AS int) AS hamming")
    )
    return cross.unionByName(within)


def simhash_pairs(docs: DataFrame, max_hamming: int) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance: 60-bit signatures →
    the shared pigeonhole band join (:func:`banded_hamming_pairs`)."""
    sig = simhash_signatures(docs)
    return banded_hamming_pairs(
        sig, max_hamming, id_col="doc_id", sig_col="simhash"
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )
