"""Guards for the Spark-SQL text kernels (selectExpr/expr strings):
each hashing/folding kernel matches a few lines of plain Python on the
fixtures, the remaining parser forms stay value-identical to the
node-built Column forms they replaced, the from_json literal-array
carrier both folds to a constant and carries exact values, and no
kernel is built two ways.

The oracle diff already hash-checks every registered query end to
end; these tests localize a future drift to the specific kernel that
caused it.
"""

from __future__ import annotations

import hashlib
import math
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from etl_tpch_spark.exprs import json_array_lit, json_array_sql


def test_json_array_lit_exact_values(spark):
    """Ints, doubles (shortest-repr round-trip) and strings survive
    the from_json carrier bit-exactly."""
    ints = [0, 1, -1, (1 << 63) - 1, -(1 << 63), 1_000_000_007]
    dbls = [0.1, -3.25, 1e-17, 123456789.123456789, 2.5, 0.7213]
    strs = ["a b", "it's", 'quo"te', "back\\slash", "ünicode"]
    row = spark.range(1).select(
        json_array_lit(ints, "long").alias("i"),
        json_array_lit(dbls, "double").alias("d"),
        json_array_lit(strs, "string").alias("s"),
    ).first()
    assert list(row["i"]) == ints
    assert list(row["d"]) == dbls
    assert list(row["s"]) == strs


def test_json_array_lit_constant_folds(spark):
    """The optimized plan must carry a folded Literal — from_json may
    never survive to per-row evaluation."""
    df = spark.range(3).select(
        F.element_at(
            json_array_lit(list(range(100)), "long"),
            (F.col("id") + 1).cast("int"),
        ).alias("v")
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in opt
    assert [r["v"] for r in df.collect()] == [0, 1, 2]


def test_json_array_lit_matches_f_lit(spark):
    """Same values as the F.lit(list) construction it replaced."""
    vals = [x * 0.1 for x in range(-50, 50)]
    row = spark.range(1).select(
        json_array_lit(vals, "double").alias("a"),
        F.lit(vals).cast("array<double>").alias("b"),
    ).first()
    assert list(row["a"]) == list(row["b"])


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from etl_tpch_spark.catalog import Tables

    return Tables(spark, sf_dir).documents.select("doc_id", "text")


def _md5_hash32(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def test_minhash_pipeline_matches_python_reference(spark, docs):
    """tokens → shingles → shingle hashes → minhash signature → band
    keys, as the MinHash-LSH operators build them
    (_banded_signatures), against plain Python: md5[:8] token hashes,
    affine permutations folded with an element-wise min, and
    ``"band,a,b"`` keys."""
    from etl_tpch_spark.dedup.hashing import (
        MINHASH_PERMS,
        N_BANDS,
        ROWS_PER_BAND,
    )
    from etl_tpch_spark.dedup.operators import NGRAM, _banded_signatures
    from etl_tpch_spark.functions.text import HASH_MOD

    def shingles(text):
        toks = [x for x in text.split(" ") if x != ""]
        grams = [
            " ".join(toks[i : i + NGRAM])
            for i in range(len(toks) - NGRAM + 1)
        ]
        return list(dict.fromkeys(grams))  # distinct, first-seen order

    def bands(sh):
        hs = [_md5_hash32(g) for g in sh]
        sig = [
            min([HASH_MOD] + [(a * h + b) % HASH_MOD for h in hs])
            for a, b in MINHASH_PERMS
        ]
        return [
            ",".join(
                [str(band)]
                + [
                    str(sig[band * ROWS_PER_BAND + r])
                    for r in range(ROWS_PER_BAND)
                ]
            )
            for band in range(N_BANDS)
        ]

    want = {}
    for r in docs.collect():
        sh = shingles(r["text"])
        if sh:  # < NGRAM tokens: no shingles, no signature row
            want[r["doc_id"]] = (sh, bands(sh))
    got = {
        r["doc_id"]: (list(r["shingles"]), list(r["bands"]))
        for r in _banded_signatures(docs, storage_level=None).collect()
    }
    assert len(want) > 0
    assert got == want


def test_simhash_band_explode_matches_python_reference(spark):
    """simhash_band_explode_sql emits one (band_idx, band_val) row per
    band: max_hamming + 1 contiguous bands of the signature, the first
    ``bits % n_bands`` one bit wider, each ``(h >> offset) & mask``."""
    from etl_tpch_spark.dedup.operators import (
        SIMHASH_BITS,
        simhash_band_explode_sql,
    )

    sigs = spark.range(200).selectExpr(
        "xxhash64(id) & 1152921504606846975 AS h"  # 60-bit positive
    )
    hs = [r["h"] for r in sigs.collect()]
    for max_hamming in (1, 3):
        n_bands = max_hamming + 1
        base, extra = divmod(SIMHASH_BITS, n_bands)
        want = []
        for h in hs:
            offset = 0
            for i in range(n_bands):
                width = base + (1 if i < extra else 0)
                want.append((h, i, (h >> offset) & ((1 << width) - 1)))
                offset += width
        got = sigs.selectExpr(
            "h", simhash_band_explode_sql("h", max_hamming, SIMHASH_BITS)
        ).selectExpr("h", "band.band_idx", "band.band_val")
        assert sorted(map(tuple, got.collect())) == sorted(want)


def test_block_explode_sql_twin(spark):
    """_block_explode_sql must replicate the F.struct/least/greatest
    block-pair-key explode of the cells/blocked pair kernels."""
    from etl_tpch_spark.similarity.ann import _block_explode_sql

    n_blocks = 4
    base = spark.range(100).selectExpr(
        "id AS vec_id", f"pmod(xxhash64(id), {n_blocks}) AS b"
    )
    pairs_keys = F.array(
        *[
            F.struct(
                F.least(F.col("b"), F.lit(o)).alias("p"),
                F.greatest(F.col("b"), F.lit(o)).alias("q"),
            )
            for o in range(n_blocks)
        ]
    )
    old = base.select(
        "vec_id", F.explode(F.array_distinct(pairs_keys)).alias("pk")
    ).select("vec_id", "pk.p", "pk.q")
    new = base.selectExpr(
        "vec_id", _block_explode_sql(n_blocks)
    ).selectExpr("vec_id", "pk.p", "pk.q")
    assert sorted(map(tuple, old.collect())) == sorted(
        map(tuple, new.collect())
    )


def test_media_meta_sql_twin(spark, sf_dir):
    """_meta_from_content_sql must parse the binary header to the same
    struct the node-built little-endian form produced, across all
    three media kinds."""
    from etl_tpch_spark.multimodal.media import (
        image_media_from_documents,
        media_from_documents,
        video_media_from_documents,
    )

    def _le(offset: int, nbytes: int):
        b = [
            F.conv(F.hex(F.substring("content", offset + i, 1)), 16, 10)
            .cast("int") * (256 ** i)
            for i in range(nbytes)
        ]
        out = b[0]
        for x in b[1:]:
            out = out + x
        return out

    old_meta = F.struct(
        _le(6, 2).alias("height"),
        _le(8, 2).alias("width"),
        _le(10, 1).alias("channels"),
        _le(11, 4).alias("sample_rate"),
        _le(15, 2).alias("n_frames"),
        F.lit("rawm").alias("format"),
    ).alias("meta")
    for builder in (
        image_media_from_documents,
        media_from_documents,
        video_media_from_documents,
    ):
        media = builder(spark, sf_dir)
        redone = media.select("media_id", "content").select(
            "media_id", old_meta
        )
        a = {r["media_id"]: r["meta"] for r in media.select("media_id", "meta").collect()}
        b = {r["media_id"]: r["meta"] for r in redone.collect()}
        assert a == b


def test_dot_fold_and_quantize_match_python_reference(spark, sf_dir):
    """spark_sql_dot_fold / SPARK_SQL_QUANTIZE on the embeddings
    fixture against plain Python: a sequential left fold of double
    products starting at 0.0 (order-sensitive, so equality is bitwise,
    not approximate), and floor((x + 1) * 1e6 + 0.5) per element."""
    from etl_tpch_spark.catalog import Tables
    from etl_tpch_spark.dedup.hashing import (
        spark_sql_as_double_array,
        spark_sql_dot_fold,
    )
    from etl_tpch_spark.similarity.kmeans import SPARK_SQL_QUANTIZE

    def fold(xs):
        acc = 0.0
        for x in xs:
            acc += x * x
        return acc

    emb = Tables(spark, sf_dir).embeddings
    d = spark_sql_as_double_array("embedding")
    rows = emb.selectExpr(
        "vec_id",
        "embedding",
        f"{spark_sql_dot_fold(d, d)} AS n",
        f"{SPARK_SQL_QUANTIZE} AS qv",
    ).collect()
    assert len(rows) > 0
    for r in rows:
        xs = list(r["embedding"])
        assert r["n"] == fold(xs)
        assert list(r["qv"]) == [
            math.floor((x + 1.0) * 1_000_000 + 0.5) for x in xs
        ]


def test_one_spark_form_per_kernel():
    """A kernel is built one way: no engine module defines both ``X``
    and its Spark-SQL text form ``spark_sql_X``, and the kernel
    modules do not import ``Column``."""
    import etl_tpch_spark

    root = pathlib.Path(etl_tpch_spark.__file__).parent
    both = []
    for p in sorted(root.rglob("*.py")):
        defs = set(re.findall(r"^def (\w+)\(", p.read_text(), re.M))
        both += [
            f"{p.relative_to(root)}:{name}"
            for name in sorted(defs)
            if f"spark_sql_{name}" in defs
        ]
    assert both == []
    for rel in ("functions/text.py", "dedup/hashing.py"):
        src = (root / rel).read_text()
        assert not re.search(r"^\s*(from|import) .*\bColumn\b", src, re.M), rel
