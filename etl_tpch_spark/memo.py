"""Session memo: the one store for derivations reused within a Spark
application (footer schemas, trained fits, persisted derived frames,
query routing rows, search plans).

An entry is keyed ``(applicationId, kind, identity, stamp, params)``:

- ``kind`` names the derivation (``"kmeans.fit"``);
- ``identity`` is what the derivation is OF — a realpath, a table path;
- ``stamp`` is the data version of that identity — a fixture's
  ``mtime-size`` (catalog.table_version) or the txlog version(s) read;
- ``params`` are the caller's arguments (``(k, iters)``, ``(terms,
  topk)``), so entries at one stamp with different params coexist.

Reuse is correct only when keyed on the data version that changed
(Krypton, VLDB 2023; the EDBT 2020 incremental top-k session paper),
so the rule lives here, once:

- a hit is one dict lookup and takes no lock;
- a miss takes a lock per ``(kind, identity, params)``: each entry is
  built once, while different keys still build concurrently;
- a miss drops every entry with the same ``(kind, identity)`` and a
  different stamp (superseded data), and every entry of another
  application (a stopped context), unpersisting each DataFrame in a
  dropped value, wherever it sits in a tuple;
- a ``build`` that raises stores nothing.

Cached values are derivations, never query results; the on-disk
stamped stores (catalog.artifact_store, queries.similarity's
``_reused_index``) stay with their callers.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Hashable
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")

_MISSING = object()
_ENTRIES: dict[tuple, object] = {}
# per-(kind, identity, params) build locks, kept for the process (one
# small lock per key ever missed); _GUARD serializes lock creation and
# every mutation of _ENTRIES (hits read it unlocked)
_LOCKS: dict[tuple, threading.RLock] = {}
_GUARD = threading.Lock()
# misses and build seconds are counted under _GUARD; hits without a
# lock (a hit takes none), so concurrent hits may undercount
_COUNTS = {"hits": 0, "misses": 0, "build_s": 0.0}


def memo(
    spark: SparkSession,
    kind: str,
    identity: Hashable,
    stamp: Hashable,
    build: Callable[[], T],
    params: tuple = (),
) -> T:
    """``build()``'s value for this key, built at most once per
    application (see the module docstring for the rule)."""
    app = spark.sparkContext.applicationId
    key = (app, kind, identity, stamp, params)
    value = _ENTRIES.get(key, _MISSING)
    if value is not _MISSING:
        _COUNTS["hits"] += 1
        return value  # type: ignore[return-value]
    with _GUARD:
        lock = _LOCKS.setdefault(
            (kind, identity, params), threading.RLock()
        )
    with lock:
        value = _ENTRIES.get(key, _MISSING)
        if value is not _MISSING:  # built while this thread waited
            _COUNTS["hits"] += 1
            return value  # type: ignore[return-value]
        _drop(
            lambda k: k[0] != app
            or (k[1] == kind and k[2] == identity and k[3] != stamp)
        )
        t0 = time.perf_counter()
        try:
            value = build()
        finally:
            with _GUARD:
                _COUNTS["misses"] += 1
                _COUNTS["build_s"] += time.perf_counter() - t0
        with _GUARD:
            _ENTRIES[key] = value
        return value


def clear(kind: str | None = None) -> None:
    """Drop (and unpersist) every entry, or every entry of ``kind``."""
    _drop(lambda k: kind is None or k[1] == kind)


def stats() -> dict:
    """Counters since process start plus the live keys:
    ``{"hits", "misses", "build_s", "entries": [(kind, identity,
    stamp, params), ...]}``."""
    with _GUARD:
        keys = list(_ENTRIES)
    return {**_COUNTS, "entries": [k[1:] for k in keys]}


def _drop(match: Callable[[tuple], bool]) -> None:
    with _GUARD:
        dropped = [_ENTRIES.pop(k) for k in list(_ENTRIES) if match(k)]
    for value in dropped:
        for item in value if isinstance(value, tuple) else (value,):
            if isinstance(item, DataFrame):
                try:
                    item.unpersist()
                except Py4JError:
                    pass  # its context is already stopped
