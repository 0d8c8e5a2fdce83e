"""Versioned transaction-log table (pipeline/txlog.py): atomic commits,
time travel, exactly-once append replay, optimistic-concurrency races,
OPTIMIZE/VACUUM — the Delta behaviors the reference relies on
(preprocess.py:41-76), on plain parquet."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from etl_tpch_spark.catalog import load_table
from etl_tpch_spark.pipeline.txlog import TxTable


@pytest.fixture()
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


def test_append_and_snapshot_isolation(spark, orders, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    b1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b2 = orders.filter(F.col("o_orderkey") % 2 == 1)
    v1 = t.append(b1)
    n1 = t.read(spark).count()
    v2 = t.append(b2)
    assert (v1, v2) == (1, 2)
    assert t.read(spark).count() == orders.count()
    # time travel: version 1 still shows exactly the first batch
    assert t.read(spark, version=1).count() == n1 == b1.count()


def test_append_replay_is_noop(spark, orders, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(orders, batch_id="epoch-0")
    n = t.read(spark).count()
    t.append(orders, batch_id="epoch-0")  # foreachBatch retry
    assert t.latest_version() == 1
    assert t.read(spark).count() == n


def test_overwrite_keeps_history(spark, orders, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(orders)
    top = orders.orderBy(F.col("o_totalprice").desc()).limit(10)
    t.overwrite(top)
    assert t.read(spark).count() == 10
    assert t.read(spark, version=1).count() == orders.count()


def test_interleaved_writers_compose(spark, orders, tmp_path):
    """Two handles on the same table appending in turn: versions
    allocate in order and every append's rows survive."""
    t = TxTable(str(tmp_path / "t"))
    t.append(orders.limit(5))
    rival = TxTable(t.path)
    rival.append(orders.limit(3))  # rival wins version 2
    v = t.append(orders.limit(7))
    assert v == 3
    # current snapshot = 5 + 3 + 7 rows (appends compose, none lost)
    assert t.read(spark).count() == 15


def test_commit_retry_loop_recovers_from_lost_races(spark, orders, tmp_path):
    """A rival claiming our target version mid-commit: the retry loop
    must re-read the log and REBUILD the entry against the rival's
    state — the rival's rows survive (no lost update)."""
    t = TxTable(str(tmp_path / "t"))
    t.append(orders.limit(2))
    rival = TxTable(t.path)
    orig = t._try_commit_at
    losses = {"left": 2}

    def racing(v, entry):
        if losses["left"] > 0:
            losses["left"] -= 1
            rival.append(orders.limit(1))  # rival claims v first
            return False  # and we lose the race this attempt
        return orig(v, entry)

    t._try_commit_at = racing
    v = t.append(orders.limit(7))
    assert v == t.latest_version() == 4  # 1 ours, 2+3 rivals, 4 retried
    # 2 + 1 + 1 + 7: every writer's rows present, none double-counted
    assert t.read(spark).count() == 11


def test_compact_swaps_manifest_history_survives(spark, orders, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(orders.filter(F.col("o_orderkey") % 3 == i))
    n = t.read(spark).count()
    files_before = len(t.snapshot_files())
    v = t.compact(spark, target_files=1)
    assert len(t.snapshot_files()) == 1 < files_before
    assert t.read(spark).count() == n
    # pre-compaction version still readable from the old files
    assert t.read(spark, version=v - 1).count() == n


def test_compact_carries_concurrent_appends(spark, orders, tmp_path):
    """An append landing between compaction's read and its commit must
    survive in the compacted manifest (OPTIMIZE reconciles, never drops
    rivals' files)."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(orders.filter(F.col("o_orderkey") % 3 == i))
    n = t.read(spark).count()
    rival = TxTable(t.path)
    orig = t._try_commit_at
    raced = {"done": False}

    def racing(v, entry):
        if not raced["done"]:
            raced["done"] = True
            rival.append(orders.limit(5))  # lands mid-compaction
            return False
        return orig(v, entry)

    t._try_commit_at = racing
    t.compact(spark, target_files=1)
    assert t.read(spark).count() == n + 5  # rival's rows survived


def test_compact_aborts_on_concurrent_overwrite(spark, orders, tmp_path):
    """A rival OVERWRITE landing mid-compaction redefines the table;
    committing the compacted manifest would resurrect the overwritten
    rows — the compaction must abort and leave the overwrite's state."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(orders.filter(F.col("o_orderkey") % 3 == i))
    rival = TxTable(t.path)
    orig = t._try_commit_at
    raced = {"done": False}

    def racing(v, entry):
        if not raced["done"]:
            raced["done"] = True
            rival.overwrite(orders.limit(4))  # lands mid-compaction
            return False
        return orig(v, entry)

    t._try_commit_at = racing
    t.compact(spark, target_files=1)
    assert t.read(spark).count() == 4  # overwrite won; nothing revived


def test_exactly_once_survives_vacuum(spark, orders, tmp_path):
    """vacuum truncates the log, but its own commit carries the dropped
    batch_ids forward — a full stream replay afterwards still no-ops."""
    t = TxTable(str(tmp_path / "t"))
    thirds = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    for i, b in enumerate(thirds):
        t.append(b, batch_id=f"e{i}")
    n = t.read(spark).count()
    t.vacuum(keep_versions=1)
    for i, b in enumerate(thirds):  # worst case: full replay
        t.append(b, batch_id=f"e{i}")
    assert t.read(spark).count() == n


def test_vacuum_age_guard_spares_fresh_files(spark, orders, tmp_path):
    """min_age_s protects an in-flight writer's just-renamed (not yet
    committed) part files from deletion."""
    t = TxTable(str(tmp_path / "t"))
    t.append(orders.limit(5))
    inflight = t._write_data(orders.limit(3))  # commit not landed yet
    removed = t.vacuum(keep_versions=1, min_age_s=3600)
    assert not set(removed) & set(inflight)
    # the in-flight writer's commit can still land intact
    t._commit_with_retry(
        lambda bv, bf: {"op": "append", "files": bf + inflight}
    )
    assert t.read(spark).count() == 8


def test_vacuum_removes_unreferenced_files_only(spark, orders, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.append(orders)
    t.overwrite(orders.limit(10))
    t.compact(spark, target_files=1)
    all_parquet = {
        f for f in os.listdir(t.path) if f.endswith(".parquet")
    }
    removed = t.vacuum(keep_versions=1)
    assert set(removed) < all_parquet
    assert t.read(spark).count() == 10  # current snapshot intact
    assert t.versions() == [t.latest_version()]
    with pytest.raises(ValueError):
        t.read(spark, version=1)  # history gone after vacuum


def test_crashed_writer_leaves_no_torn_table(spark, orders, tmp_path):
    """Data files written but never committed (writer died pre-commit)
    are invisible to readers."""
    t = TxTable(str(tmp_path / "t"))
    t.append(orders.limit(5))
    t._write_data(orders.limit(100))  # orphan files, no commit
    assert t.read(spark).count() == 5


def test_txtable_as_streaming_foreachbatch_sink(
    spark, sf_dir, tmp_path_factory
):
    """End-to-end exactly-once: a file stream drained through
    foreachBatch appending into a TxTable — every micro-batch is one
    atomic commit keyed by epoch id, and re-running the drain from a
    FRESH checkpoint (worst-case full replay) appends nothing."""
    root = tmp_path_factory.mktemp("txstream")
    src_dir = str(root / "src")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    orders.repartition(3).write.parquet(src_dir)

    table = TxTable(str(root / "table"))

    def drain(ckpt: str) -> None:
        q = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.foreachBatch(
                lambda df, epoch: table.append(df, batch_id=f"e{epoch}")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(str(root / "ckpt1"))
    n = table.read(spark).count()
    assert n == orders.count()
    v = table.latest_version()
    assert v >= 2  # multiple micro-batches → multiple commits

    # replay the whole stream with a fresh checkpoint: identical epoch
    # ids → every append is a recorded batch_id → no-op
    drain(str(root / "ckpt2"))
    assert table.latest_version() == v
    assert table.read(spark).count() == n


def test_schema_enforcement_on_append(spark, orders, tmp_path):
    """Delta-style enforcement: a divergent-schema append is rejected
    before writing anything (snapshot reads use explicit file lists, so
    a divergent file would silently corrupt later reads); overwrite is
    the explicit evolution path."""
    t = TxTable(str(tmp_path / "t"))
    t.append(orders)
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(orders.withColumn("extra", F.lit(1)))
    assert t.latest_version() == 1  # nothing committed, no orphans
    t.overwrite(orders.withColumn("extra", F.lit(1)))  # explicit evolve
    assert "extra" in t.read(spark).columns
    t.append(orders.withColumn("extra", F.lit(2)))  # new schema accepted
    assert t.read(spark).count() == 2 * orders.count()


def test_threaded_append_storm(spark, orders, tmp_path):
    """4 threads × 3 appends racing on one table: the pinned-version
    commit protocol must serialize them losslessly — 12 commits, every
    row present exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxTable(str(tmp_path / "t"))
    batch = orders.limit(10)

    def worker(k: int) -> None:
        handle = TxTable(t.path)
        for j in range(3):
            handle.append(batch, batch_id=f"w{k}-{j}")

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(worker, range(4)))

    assert t.latest_version() == 12
    assert t.read(spark).count() == 12 * 10
    assert len(t.applied_batch_ids()) == 12


def test_txlog_batch_ingest_exactly_once(spark, tmp_path_factory):
    """The third ingest mode: staged JSON batches → one TxTable commit
    each, keyed by batch dir name — rerun ingests nothing, a new batch
    ingests alone, staging stays intact (no consume-and-delete)."""
    import os

    from datetime import datetime

    from etl_tpch_spark.pipeline.generate import incrementalize
    from etl_tpch_spark.pipeline.ingest import (
        ingest_table_txlog,
        list_staged_files,
    )

    root = tmp_path_factory.mktemp("txingest")
    staging, processed = str(root / "staging"), str(root / "processed")
    NOW = datetime(2026, 2, 1, 9, 0, 0)
    incrementalize(spark, "/root/testdata/sf0.001", staging, now=NOW)

    n1 = ingest_table_txlog(spark, staging, processed, "orders")
    assert n1 >= 1
    table = TxTable(os.path.join(processed, "orders"))
    rows = table.read(spark).count()
    assert rows > 0
    # rerun: nothing new, same rows, staging untouched
    assert ingest_table_txlog(spark, staging, processed, "orders") == 0
    assert table.read(spark).count() == rows
    assert list_staged_files(staging, "orders")
    # second generated batch ingests alone
    incrementalize(
        spark, "/root/testdata/sf0.001", staging,
        now=datetime(2026, 2, 1, 9, 15, 0),
    )
    assert ingest_table_txlog(spark, staging, processed, "orders") == 1
    assert table.read(spark).count() == 2 * rows


def test_compact_cluster_by_gives_disjoint_file_ranges(spark, orders, tmp_path):
    """OPTIMIZE ZORDER parity: a clustered compaction leaves each file
    owning a disjoint o_orderkey range (a later selective filter prunes
    to one file), with all rows intact."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(orders.filter(F.col("o_orderkey") % 3 == i))
    n = t.read(spark).count()
    t.compact(spark, target_files=4, cluster_by=("o_orderkey",))
    files = t.snapshot_files()
    assert len(files) == 4
    assert t.read(spark).count() == n
    ranges = []
    for f in files:
        lo, hi = (
            spark.read.parquet(os.path.join(t.path, f))
            .agg(F.min("o_orderkey"), F.max("o_orderkey"))
            .first()
        )
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint, ordered key ranges


def test_compact_read_phase_pinned_no_duplication(spark, orders, tmp_path):
    """ADVICE r2: a rival append landing BETWEEN compaction's manifest
    read and its data read must not be double-counted.  Unpinned reads
    would bake the rival's rows into the compacted files AND carry its
    file via appended_since; pinning one snapshot version for the whole
    read phase keeps the rival's rows exactly once."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(orders.filter(F.col("o_orderkey") % 3 == i))
    n = t.read(spark).count()
    rival = TxTable(t.path)
    orig_read = t.read
    raced = {"done": False}

    def racing_read(s, version=None):
        if not raced["done"]:
            raced["done"] = True
            rival.append(orders.limit(5))  # lands mid-read-phase
        return orig_read(s, version=version)

    t.read = racing_read
    t.compact(spark, target_files=1)
    assert t.read(spark).count() == n + 5  # exactly once, not n + 10


def test_compact_aborts_gracefully_on_vacuumed_log(spark, orders, tmp_path):
    """ADVICE r2: a concurrent vacuum truncating log entries inside
    compact's conflict-check range must abort the compaction, not raise
    FileNotFoundError."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(orders.filter(F.col("o_orderkey") % 3 == i))
    rival = TxTable(t.path)
    orig = t._try_commit_at
    raced = {"done": False}

    def racing(v, entry):
        if not raced["done"]:
            raced["done"] = True
            rival.append(orders.limit(5))
            rival.vacuum(keep_versions=1)  # truncates the check range
            return False
        return orig(v, entry)

    t._try_commit_at = racing
    t.compact(spark, target_files=1)  # must not raise
    assert t.read(spark).count() == rival.read(spark).count()


def test_append_schema_recheck_after_rival_overwrite(spark, orders, tmp_path):
    """ADVICE r2: a rival overwrite() changing the table schema between
    append's pre-write check and its winning commit must make the append
    fail schema enforcement, not land a divergent-schema file."""
    t = TxTable(str(tmp_path / "t"))
    t.append(orders.limit(5))
    rival = TxTable(t.path)
    orig = t._try_commit_at
    raced = {"done": False}

    def racing(v, entry):
        if not raced["done"]:
            raced["done"] = True
            rival.overwrite(orders.limit(3).select("o_orderkey"))
            return False
        return orig(v, entry)

    t._try_commit_at = racing
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(orders.limit(2))
    assert t.read(spark).columns == ["o_orderkey"]  # rival's schema stands


def test_snapshot_rows_from_manifest_alone(spark, orders, tmp_path):
    """snapshot_rows answers from the commit log's per-file stats —
    no data file opened, no job — and tracks appends, time travel,
    and the empty table (None, mirroring latest_version)."""
    t = TxTable(str(tmp_path / "t"))
    assert t.snapshot_rows() is None
    n1 = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    t.append(orders.filter(F.col("o_orderkey") % 2 == 0))
    assert t.snapshot_rows() == n1
    t.append(orders.filter(F.col("o_orderkey") % 2 == 1))
    assert t.snapshot_rows() == orders.count()
    assert t.snapshot_rows(version=1) == n1


# ------------------------------------------- canonical (dedup_keys) mark

_KEYS = ("term", "doc_id")


def _postings(spark, rows):
    return spark.createDataFrame(rows, "term STRING, doc_id LONG, tf LONG")


def _mark(t: TxTable, v: int | None = None):
    return t.commit_entry(t.latest_version() if v is None else v).get(
        "canonical"
    )


def _dup_table(spark, path) -> TxTable:
    """Two batches holding the same (term, doc_id) rows — the
    re-bundled replay mode a dedup compact exists for."""
    t = TxTable(str(path))
    rows = [("a", 1, 2), ("b", 1, 1), ("a", 2, 5)]
    t.append(_postings(spark, rows))
    t.append(_postings(spark, rows))
    return t


def test_canonical_mark_only_from_clean_dedup_rewrite(spark, tmp_path):
    t = _dup_table(spark, tmp_path / "t")
    assert _mark(t) is None
    # a plain rewrite keeps the duplicates and earns no mark
    t.compact(spark, 1)
    assert _mark(t) is None
    assert t.read(spark).count() == 6
    # a dedup rewrite with no rival lands the mark over deduped rows
    v = t.compact(spark, 1, dedup_keys=_KEYS)
    assert _mark(t, v) == list(_KEYS)
    assert sorted(map(tuple, t.read(spark).collect())) == [
        ("a", 1, 2), ("a", 2, 5), ("b", 1, 1),
    ]
    # a rival append carried into the rewrite's manifest voids it
    t.append(_postings(spark, [("a", 1, 2)]))
    rival = TxTable(t.path)
    orig = t._try_commit_at
    raced = {"done": False}

    def racing(v, entry):
        if not raced["done"]:
            raced["done"] = True
            rival.append(_postings(spark, [("c", 3, 1)]))
            return False
        return orig(v, entry)

    t._try_commit_at = racing
    v = t.compact(spark, 1, dedup_keys=_KEYS)
    assert t.commit_entry(v)["op"] == "compact"
    assert _mark(t, v) is None
    assert ("c", 3, 1) in map(tuple, t.read(spark).collect())


@pytest.mark.parametrize("op", ["append", "overwrite"])
def test_later_write_voids_canonical_mark(spark, tmp_path, op):
    t = _dup_table(spark, tmp_path / "t")
    v = t.compact(spark, 1, dedup_keys=_KEYS)
    getattr(t, op)(_postings(spark, [("a", 1, 2)]))
    # the head is no longer the canonical compact; the old version
    # keeps its mark for time travel
    assert _mark(t) is None
    assert _mark(t, v) == list(_KEYS)
    # and the next dedup compact rewrites instead of short-circuiting
    head = t.latest_version()
    v2 = t.compact(spark, 1, dedup_keys=_KEYS)
    assert v2 == head + 1 and _mark(t, v2) == list(_KEYS)


def test_restore_of_canonical_version_drops_mark(spark, tmp_path):
    """restore() carries files, stats and the schema flag, not the
    canonical mark: readers of the restored head take the dedup path
    (value-identical on those files), and the next dedup compact
    re-earns the mark with a rewrite."""
    t = _dup_table(spark, tmp_path / "t")
    v = t.compact(spark, 1, dedup_keys=_KEYS)
    t.append(_postings(spark, [("a", 1, 2)]))
    r = t.restore(v)
    entry = t.commit_entry(r)
    assert entry["op"] == "restore"
    assert entry["files"] == t.commit_entry(v)["files"]
    assert "canonical" not in entry
    v2 = t.compact(spark, 1, dedup_keys=_KEYS)
    assert v2 == r + 1 and _mark(t, v2) == list(_KEYS)


def test_canonical_skip_returns_the_dedup_rows(spark, tmp_path, monkeypatch):
    """SearchIndex.probe() and _dl() over a canonical snapshot skip
    their max-dedup aggregate; the rows must equal the aggregate's."""
    from etl_tpch_spark.pipeline import search_index as si

    docs = spark.createDataFrame(
        [(i, f"the w{i % 3} body w{i % 5}") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    idx = si.SearchIndex(str(tmp_path / "inv"))
    idx.ingest(docs, batch_id="bundling-a")
    idx.ingest(docs, batch_id="bundling-b")  # same docs, new id
    idx.optimize(spark)
    assert _mark(idx.postings) == ["term", "doc_id"]
    assert _mark(idx.doclens) == ["doc_id"]
    terms = ["the", "w1", "w4", "absent"]

    def rows():
        return (
            sorted(map(tuple, idx.probe(spark, terms).collect())),
            sorted(map(tuple, idx._dl(spark).collect())),
        )

    skipped = rows()
    monkeypatch.setattr(si, "_canonical", lambda t, v, keys: False)
    deduped = rows()
    assert skipped == deduped
    assert len(skipped[1]) == 20


def test_compact_dedup_refuses_several_value_columns(spark, tmp_path):
    """A per-column max over two value columns can assemble a row that
    never existed, so the dedup rewrite refuses before writing."""
    t = TxTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame(
            [(1, 1, 9), (1, 9, 1)], "k LONG, a LONG, b LONG"
        )
    )
    v = t.latest_version()
    with pytest.raises(ValueError, match="non-key columns"):
        t.compact(spark, 1, dedup_keys=("k",))
    assert t.latest_version() == v
