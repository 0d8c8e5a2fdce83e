"""The session memo (etl_tpch_spark/memo.py): hits skip the build,
superseded stamps and stopped applications are dropped and their
frames unpersisted, params coexist, a failed build stores nothing,
concurrent misses build once, and no other engine module keys on the
application id itself."""

from __future__ import annotations

import pathlib
import sys
import threading
import time

import pytest

from etl_tpch_spark import memo as memo_mod
from etl_tpch_spark.memo import memo


def _entries(kind: str) -> list[tuple]:
    return [e for e in memo_mod.stats()["entries"] if e[0] == kind]


def _persisted(spark, n: int = 5):
    # a distinct n per frame: equal plans share one cache entry
    df = spark.range(n).persist()
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    return df


def _released(df) -> bool:
    lvl = df.storageLevel
    return not (lvl.useMemory or lvl.useDisk)


def test_hit_does_not_call_build(spark):
    memo_mod.clear("test.hit")
    calls = []

    def build():
        calls.append(1)
        return ["value"]

    first = memo(spark, "test.hit", "/id", "s1", build)
    hits = memo_mod.stats()["hits"]
    again = memo(spark, "test.hit", "/id", "s1", build)
    assert again is first
    assert calls == [1]
    assert memo_mod.stats()["hits"] == hits + 1
    assert _entries("test.hit") == [("test.hit", "/id", "s1", ())]


def test_superseded_stamp_is_evicted_and_unpersisted(spark):
    memo_mod.clear("test.evict")
    old = _persisted(spark)
    other = _persisted(spark, 6)
    # the frame sits second in a tuple, as in the probe-routing memo
    memo(spark, "test.evict", "/id", "s1", lambda: ([1, 2], old))
    memo(spark, "test.evict", "/other", "s1", lambda: other)
    memo(spark, "test.evict", "/id", "s2", lambda: "new")
    assert _released(old)
    assert sorted(_entries("test.evict")) == [
        ("test.evict", "/id", "s2", ()),
        ("test.evict", "/other", "s1", ()),
    ]
    # a different identity is not superseded by /id's new stamp
    assert not _released(other)
    memo_mod.clear("test.evict")
    assert _released(other)
    assert _entries("test.evict") == []


def test_same_stamp_different_params_coexist(spark):
    memo_mod.clear("test.params")
    a = memo(spark, "test.params", "/id", "s1", lambda: "a", params=(4, 1))
    b = memo(spark, "test.params", "/id", "s1", lambda: "b", params=(2, 1))
    assert (a, b) == ("a", "b")
    assert memo(
        spark, "test.params", "/id", "s1", lambda: "rebuilt", params=(4, 1)
    ) == "a"
    assert len(_entries("test.params")) == 2


def test_entries_of_another_application_are_dropped(spark):
    memo_mod.clear("test.app")
    stale = _persisted(spark, 7)
    # planted directly: building it through a stand-in session would
    # itself drop every entry of the live test application
    memo_mod._ENTRIES[("app-stopped", "test.app", "/id", "s1", ())] = stale
    assert _entries("test.app")
    # any miss in the live application drops the stopped one's entries
    memo(spark, "test.app.live", "/id", "s1", lambda: 1)
    assert _entries("test.app") == []
    assert _released(stale)
    memo_mod.clear("test.app.live")


def test_failed_build_stores_nothing(spark):
    memo_mod.clear("test.raise")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        memo(spark, "test.raise", "/id", "s1", boom)
    assert _entries("test.raise") == []
    assert memo(spark, "test.raise", "/id", "s1", lambda: 7) == 7


def test_concurrent_partsupp_builds_once(spark, sf_dir, monkeypatch):
    """Two threads missing the same derived partsupp build it once and
    share one persisted frame."""
    from etl_tpch_spark.catalog import Tables
    from etl_tpch_spark.queries import tpch_partsupp as ps

    memo_mod.clear("tpch.partsupp")
    calls = []
    build = ps._build_partsupp

    def slow_build(t):
        calls.append(1)
        time.sleep(0.5)  # both threads miss inside this window
        return build(t)

    monkeypatch.setattr(ps, "_build_partsupp", slow_build)
    out: list = []
    start = threading.Barrier(2)

    def run():
        start.wait()
        out.append(ps.derived_partsupp(Tables(spark, sf_dir)))

    threads = [threading.Thread(target=run) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
        assert not th.is_alive()
    assert len(calls) == 1
    assert len(out) == 2 and out[0] is out[1]
    memo_mod.clear("tpch.partsupp")


def test_threaded_misses_build_each_key_once(spark):
    """More threads than cores race misses on a few keys with a tiny
    switch interval: every key is built exactly once and every thread
    gets that one value."""
    memo_mod.clear("test.stress")
    builds: dict[tuple, int] = {}
    count_lock = threading.Lock()

    def build(key):
        def run():
            with count_lock:
                builds[key] = builds.get(key, 0) + 1
            time.sleep(0.01)
            return object()

        return run

    keys = [(f"/id{i % 3}", (i % 2,)) for i in range(6)]
    got: dict[tuple, set] = {k: set() for k in keys}
    start = threading.Barrier(16)

    def worker(n):
        start.wait()
        for j in range(30):
            ident, params = keys[(n + j) % len(keys)]
            v = memo(
                spark, "test.stress", ident, "s1",
                build((ident, params)), params=params,
            )
            got[(ident, params)].add(id(v))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(n,)) for n in range(16)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert builds == {k: 1 for k in keys}
    assert all(len(ids) == 1 for ids in got.values())
    memo_mod.clear("test.stress")


def test_only_memo_reads_the_application_id():
    """Keying on the application is the memo's job: an engine module
    that reads ``sparkContext.applicationId`` is growing its own
    cache."""
    root = pathlib.Path(memo_mod.__file__).parent
    readers = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "applicationId" in p.read_text()
    )
    assert readers == ["memo.py"]
