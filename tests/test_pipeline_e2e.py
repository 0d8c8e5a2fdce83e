"""End-to-end micro-batch pipeline test (SURVEY.md §5 item 4).

Reproduces one full reference cycle (workflow.py:12-31) in a tmpdir:
generate (incrementalize sf0.001) → staging JSON → ingest → processed
parquet → compact → reduce → gold parquet; asserts revenue totals against
an independently-computed pandas expectation, then re-runs stages to
prove idempotence / append semantics.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import pandas as pd
import pytest

from etl_tpch_spark.pipeline import (
    compact_all,
    incrementalize,
    ingest_all,
    list_staged_files,
    query_reduce,
    unshipped_orders_live,
)

from .conftest import TEST_SF_DIR

NOW = datetime(2026, 1, 1, 12, 0, 0)


@pytest.fixture(scope="module")
def zones(tmp_path_factory):
    root = tmp_path_factory.mktemp("pipeline")
    return {
        "staging": str(root / "staging"),
        "processed": str(root / "processed"),
        "results": str(root / "results"),
    }


@pytest.fixture(scope="module")
def staged(spark, zones):
    written = incrementalize(
        spark, TEST_SF_DIR, zones["staging"], now=NOW, key_fn="hash"
    )
    return written


def test_generate_layout_and_write_once(spark, zones, staged):
    # 5 static + 2 dynamic staging dirs, ISO-stamped names
    assert len(staged) == 7
    assert list_staged_files(zones["staging"], "orders"), "orders staged"
    # second cycle: static tables skipped, dynamics re-emitted
    again = incrementalize(
        spark,
        TEST_SF_DIR,
        zones["staging"],
        now=NOW + timedelta(minutes=15),
        key_fn="hash",
    )
    assert len(again) == 2
    assert len(list_staged_files(zones["staging"], "orders")) == 2


def test_generate_rekey_consistency(spark, zones, staged):
    """uuid rekey must keep orders⋈lineitem joinable (data.py:74-93)."""
    o = spark.read.json(list_staged_files(zones["staging"], "orders")[0])
    l = spark.read.json(list_staged_files(zones["staging"], "lineitem")[0])
    n_line = l.count()
    assert o.select("o_orderkey").distinct().count() == o.count()
    # every lineitem joins back to exactly one order
    joined = l.join(
        o.select("o_orderkey"), l.l_orderkey == o.o_orderkey
    ).count()
    assert joined == n_line
    # keys are 32-hex strings
    row = o.select("o_orderkey").first()
    assert len(row.o_orderkey) == 32


def test_ingest_append_and_consume(spark, zones, staged):
    counts = ingest_all(
        spark, zones["staging"], zones["processed"], delete_after=True
    )
    # both cycles of orders/lineitem ingested in one shot
    assert counts["orders"] == 2 and counts["lineitem"] == 2
    assert counts["customer"] == 1
    # consume-and-delete: staging drained → re-ingest is a no-op
    assert ingest_all(
        spark, zones["staging"], zones["processed"], delete_after=True
    ) == {}
    orders = spark.read.parquet(os.path.join(zones["processed"], "orders"))
    base = pd.read_parquet(os.path.join(TEST_SF_DIR, "orders.parquet"))
    assert orders.count() == 2 * len(base)  # two appended cycles
    assert dict(orders.dtypes)["o_orderkey"] == "string"
    assert dict(orders.dtypes)["o_order_time"] == "timestamp"


def test_compact_preserves_rows(spark, zones, staged):
    pre = spark.read.parquet(
        os.path.join(zones["processed"], "lineitem")
    ).count()
    n_files = compact_all(spark, zones["processed"])
    assert n_files["lineitem"] == 1  # tiny table → one target file
    post_dir = os.path.join(zones["processed"], "lineitem")
    parts = [f for f in os.listdir(post_dir) if f.endswith(".parquet")]
    assert len(parts) == 1
    assert spark.read.parquet(post_dir).count() == pre


def test_reduce_matches_pandas(spark, zones, staged):
    """Gold outputs match an independent pandas computation of the same
    query over the processed tables (reference reduce.py:43-78): for
    every segment, one parquet file holding exactly the per-segment
    reference rows in its row order, whether ``k`` cuts every segment
    or exceeds them all."""
    cutoff = NOW  # orders stamped ≤ NOW, ship times ≥ NOW-15m..+3d
    for k, cuts in ((3, True), (100_000, False)):
        paths = query_reduce(
            spark,
            zones["processed"],
            os.path.join(zones["results"], f"k{k}"),
            cutoff=cutoff,
            k=k,
        )
        assert set(paths) == {
            "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
        }
        sizes = []
        for seg, path in paths.items():
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            assert len(parts) == 1, (seg, parts)
            got = pd.read_parquet(path)
            exp = _expected_top(zones["processed"], seg, cutoff, k)
            sizes.append(len(exp))
            pd.testing.assert_frame_equal(
                got, exp, check_exact=False, rtol=1e-9
            )
        # k cuts every segment, or exceeds them all
        assert (min(sizes) == k) if cuts else (max(sizes) < k)


def _expected_top(proc: str, seg: str, cutoff, k: int) -> pd.DataFrame:
    """The per-segment reference computation (reduce.py:43-78) in
    pandas: top-``k`` unshipped orders of ``seg`` by revenue desc,
    order key asc, with the gold output's four columns."""
    po = pd.read_parquet(os.path.join(proc, "orders"))
    pl = pd.read_parquet(os.path.join(proc, "lineitem"))
    pc = pd.read_parquet(os.path.join(proc, "customer"))
    cust = pc[pc.c_mktsegment == seg][["c_custkey"]]
    orders = po[po.o_order_time < cutoff]
    line = pl[pl.l_ship_time > cutoff]
    jn = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    jn = jn.merge(line, left_on="o_orderkey", right_on="l_orderkey")
    jn["revenue"] = jn.l_extendedprice * (1 - jn.l_discount)
    return (
        jn.groupby(["l_orderkey", "o_order_time", "o_orderpriority"])[
            "revenue"
        ]
        .sum()
        .reset_index()
        .sort_values(["revenue", "l_orderkey"], ascending=[False, True])
        .head(k)[["l_orderkey", "revenue", "o_order_time", "o_orderpriority"]]
        .reset_index(drop=True)
    )


def test_reduce_segment_without_customers(spark, zones, staged, tmp_path):
    """A segment with no customers still gets one empty parquet with the
    four-column schema, so ``results_ready`` holds."""
    from etl_tpch_spark.pipeline.workflow import results_ready

    proc = str(tmp_path / "processed")
    for t in ("orders", "lineitem", "customer"):
        df = spark.read.parquet(os.path.join(zones["processed"], t))
        if t == "customer":
            df = df.filter(df.c_mktsegment != "MACHINERY")
        df.write.parquet(os.path.join(proc, t))
    results = str(tmp_path / "results")
    paths = query_reduce(spark, proc, results, cutoff=NOW, k=5)
    path = paths["MACHINERY"]
    parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(parts) == 1
    got = pd.read_parquet(path)
    assert len(got) == 0
    assert list(got.columns) == [
        "l_orderkey", "revenue", "o_order_time", "o_orderpriority",
    ]
    assert all(
        len(pd.read_parquet(p)) == 5 for s, p in paths.items()
        if s != "MACHINERY"
    )
    assert results_ready(results)


def test_reduce_breaks_revenue_ties_by_order_key(spark, tmp_path):
    """Equal revenues rank by order key ascending, across the segment's
    customers (the ``revenue desc, l_orderkey`` order of the
    per-segment query)."""
    proc = str(tmp_path / "processed")
    before, after = NOW - timedelta(hours=1), NOW + timedelta(hours=1)
    spark.createDataFrame(
        [(1, "BUILDING"), (2, "BUILDING")],
        "c_custkey LONG, c_mktsegment STRING",
    ).write.parquet(os.path.join(proc, "customer"))
    spark.createDataFrame(
        [(k, c, before, "1-URGENT") for k, c in
         (("b", 1), ("a", 2), ("c", 1), ("d", 2))],
        "o_orderkey STRING, o_custkey LONG, o_order_time TIMESTAMP, "
        "o_orderpriority STRING",
    ).write.parquet(os.path.join(proc, "orders"))
    spark.createDataFrame(
        [(k, p, 0.0, after) for k, p in
         (("b", 100.0), ("a", 100.0), ("c", 100.0), ("d", 200.0))],
        "l_orderkey STRING, l_extendedprice DOUBLE, l_discount DOUBLE, "
        "l_ship_time TIMESTAMP",
    ).write.parquet(os.path.join(proc, "lineitem"))
    paths = query_reduce(
        spark, proc, str(tmp_path / "results"), cutoff=NOW, k=3
    )
    got = pd.read_parquet(paths["BUILDING"])
    assert got.l_orderkey.tolist() == ["d", "a", "b"]


def test_reduce_accepts_testdata_naming(spark):
    """Column-map tolerance: the same reduce runs on testdata-named
    tables (o_orderdate/l_shipdate, int keys — SURVEY.md §7 risk c)."""
    o = spark.read.parquet(os.path.join(TEST_SF_DIR, "orders.parquet"))
    l = spark.read.parquet(os.path.join(TEST_SF_DIR, "lineitem.parquet"))
    c = spark.read.parquet(os.path.join(TEST_SF_DIR, "customer.parquet"))
    out = unshipped_orders_live(
        o, l, c, segment="BUILDING", cutoff="1998-01-01", k=5
    )
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert out.columns == [
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority",
    ]


def test_run_cycle_full_tick(spark, tmp_path_factory):
    """workflow.run_cycle: two ticks with streaming ingest — second tick
    ingests only its own new batch (checkpoint), reduce sees both."""
    from etl_tpch_spark.pipeline.workflow import run_cycle

    root = str(tmp_path_factory.mktemp("cycle"))
    r1 = run_cycle(
        spark, TEST_SF_DIR, root, now=NOW, compact=True, reduce=True, k=5
    )
    assert set(r1) == {"generate", "ingest", "compact", "reduce"}
    assert len(r1["generate"]) == 7 and len(r1["reduce"]) == 5
    # every table was stream-ingested → sink-managed (_spark_metadata)
    # → compaction must skip all of them to keep exactly-once intact
    assert all(v == 0 for v in r1["compact"].values())

    orders_dir = os.path.join(root, "processed", "orders")
    n1 = spark.read.parquet(orders_dir).count()
    r2 = run_cycle(
        spark, TEST_SF_DIR, root, now=NOW + timedelta(minutes=15),
        quality_gate=True,
    )
    assert len(r2["generate"]) == 2  # static tables skipped
    assert spark.read.parquet(orders_dir).count() == 2 * n1
    # post-ingest expectations ran and the feed is clean
    assert all(passed for _, passed in r2["quality"].values())
    assert "unique:o_orderkey" in r2["quality"]


@pytest.mark.slow
def test_serve_loop_cadences(spark, tmp_path_factory):
    """workflow.serve_loop (reference workflow.py:12-39 deployment
    cadences): ≥3 ticks advance the clock 15 min apart; compact fires on
    tick multiples only, reduce on its own multiples, and the health
    check (results_ready ≙ reference dashboard.py:24-32) flips true
    once the first reduce lands."""
    from etl_tpch_spark.pipeline.workflow import serve_loop

    root = str(tmp_path_factory.mktemp("serve"))
    clock = iter(NOW + timedelta(minutes=15 * i) for i in range(10))
    outs = serve_loop(
        spark, TEST_SF_DIR, root,
        ticks=4, compact_every=2, reduce_every=3,
        now_fn=lambda: next(clock), k=5,
    )
    assert [o["tick"] for o in outs] == [0, 1, 2, 3]
    assert [("compact" in o) for o in outs] == [True, False, True, False]
    assert [("reduce" in o) for o in outs] == [True, False, False, True]
    # all five segment results exist from tick 0's reduce onward
    assert all(o["ready"] for o in outs)
    # every tick generated + ingested (the 15-min cadence stages)
    assert all("generate" in o and "ingest" in o for o in outs)


@pytest.mark.slow  # r9 tier rebalance (VERDICT r8 #5): ~8 s lifecycle e2e
def test_dashboard_html_export(spark, tmp_path_factory):
    """render_dashboard_html (the reference's web dashboard as a
    static gold-zone artifact): one self-contained page with every
    segment's formatted top orders — the same hash-checked
    format_for_display values the terminal form prints."""
    import re

    from etl_tpch_spark.pipeline.serving import (
        format_for_display,
        render_dashboard_html,
    )
    from etl_tpch_spark.pipeline.workflow import run_cycle

    root = str(tmp_path_factory.mktemp("dash"))
    run_cycle(spark, TEST_SF_DIR, root, now=NOW, reduce=True, k=5)
    results = os.path.join(root, "results")
    out = render_dashboard_html(
        spark, results, os.path.join(root, "dash.html"), limit=5
    )
    page = open(out).read()
    # all five segment sections + anchors are present
    for seg in ("automobile", "building", "furniture",
                "household", "machinery"):
        assert f'id="{seg}"' in page, seg
        assert f'href="#{seg}"' in page
    # the rows are the display transform's values, verbatim
    seg_path = os.path.join(results, "building.snappy.parquet")
    want = format_for_display(spark.read.parquet(seg_path)).limit(5)
    for r in want.collect():
        assert str(r["order_id"]) in page
        assert r["revenue_display"] in page
        assert r["order_date"] in page
    # self-contained: no external resources requested
    assert not re.search(r'src=|link rel|https?://', page)
