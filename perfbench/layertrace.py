"""Per-layer tracing from outside the engine.

Two sources, both read only in a traced run:

- **Layer spans.**  ``LayerTracer`` wraps every public function (and
  every public method of every public class) that a layer's modules
  define, and rebinds each reference to it in the loaded engine
  modules, so ``from .generate import incrementalize`` call sites are
  timed too.  A layer's time is the inclusive wall of its outermost
  calls: a call nested inside another call of the same layer is not
  counted twice.
- **Spark jobs.**  Job ids are sequential, so the jobs an operation ran
  are the ids issued between two reads of the scheduler's next id; their
  intervals and task counts come from the application status store
  after the listener bus drains.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import time
from collections import defaultdict

# layer -> engine modules (a trailing ".*" takes the whole package)
LAYERS: dict[str, tuple[str, ...]] = {
    "session": ("etl_tpch_spark.session",),
    "catalog": ("etl_tpch_spark.catalog",),
    "relational": ("etl_tpch_spark.operators.*",),
    "kernels": (
        "etl_tpch_spark.dedup.*",
        "etl_tpch_spark.similarity.*",
        "etl_tpch_spark.functions.*",
        "etl_tpch_spark.multimodal.*",
    ),
    "generate": ("etl_tpch_spark.pipeline.generate",),
    "ingest": (
        "etl_tpch_spark.pipeline.ingest",
        "etl_tpch_spark.streaming.ingest",
    ),
    "compact": ("etl_tpch_spark.pipeline.compact",),
    "reduce": ("etl_tpch_spark.pipeline.reduce",),
    "txlog": ("etl_tpch_spark.pipeline.txlog",),
    "search_index": ("etl_tpch_spark.pipeline.search_index",),
}

# TxTable methods that read the log head, and those that commit
HEAD_READS = ("latest_version", "versions", "commit_entry")
COMMITS = (
    "append", "overwrite", "merge", "delete", "restore", "compact", "vacuum",
)

# the engine's module-level session memos: (module, dict name)
MEMOS = (
    ("etl_tpch_spark.pipeline.txlog", "_SCHEMA_CACHE"),
    ("etl_tpch_spark.pipeline.search_index", "_PLAN_CACHE"),
    ("etl_tpch_spark.similarity.kmeans", "_FIT_CACHE"),
    ("etl_tpch_spark.similarity.pq", "_BOOK_CACHE"),
    ("etl_tpch_spark.similarity.pq", "_GEOM_CACHE"),
    ("etl_tpch_spark.similarity.index", "_PROBE_CACHE"),
    ("etl_tpch_spark.catalog", "_TABLE_SCHEMA_CACHE"),
    ("etl_tpch_spark.queries.tpch_partsupp", "_PS_CACHE"),
    ("etl_tpch_spark.queries.search", "_QTERM_CACHE"),
    ("etl_tpch_spark.queries.text", "_LM_CACHE"),
    ("etl_tpch_spark.queries.bpe", "_VOCAB_CACHE"),
    ("etl_tpch_spark.queries.graph", "_EDGE_CACHE"),
)


def memo_entries() -> int:
    """Total entries in the engine's module-level memo dicts (a dict a
    later version removes simply stops counting)."""
    n = 0
    for mod, name in MEMOS:
        d = getattr(sys.modules.get(mod), name, None)
        if isinstance(d, dict):
            n += len(d)
    return n


def _modules(patterns: tuple[str, ...]) -> list[str]:
    out = []
    for pat in patterns:
        if not pat.endswith(".*"):
            out.append(pat)
            continue
        pkg = importlib.import_module(pat[:-2])
        out.extend(
            m.name
            for m in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + ".")
        )
    return out


class LayerTracer:
    """Wraps the layers' public callables; ``enabled`` switches the
    recording on and off without rewrapping, so a run can interleave
    traced and untraced operations."""

    def __init__(self) -> None:
        self.enabled = False
        self.wall: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.counts: dict[str, int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)
        self._swaps: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        self.wall.clear()
        self.calls.clear()
        self.counts.clear()

    def _wrap(self, layer: str, fn, counter: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if counter:
                tracer.counts[counter] += 1
            outer = tracer._depth[layer] == 0
            tracer._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._depth[layer] -= 1
                if outer:
                    tracer.wall[layer] += time.perf_counter() - t0
                    tracer.calls[layer] += 1

        return traced

    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, patterns in LAYERS.items():
            for name in _modules(patterns):
                mod = importlib.import_module(name)
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(
                        obj, "__module__", None
                    ) != name:
                        continue
                    if inspect.isfunction(obj):
                        w = self._wrap(layer, obj)
                        originals[id(obj)] = w
                        self._swaps.append((mod, attr, obj))
                        setattr(mod, attr, w)
                    elif inspect.isclass(obj):
                        self._wrap_class(layer, obj)
        # rebind names other engine modules imported by value
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("etl_tpch_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    self._swaps.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def _wrap_class(self, layer: str, cls) -> None:
        for attr, obj in list(vars(cls).items()):
            if attr.startswith("_") or not inspect.isfunction(obj):
                continue
            counter = None
            if cls.__name__ == "TxTable":
                if attr in HEAD_READS:
                    counter = "txlog.head_reads"
                elif attr in COMMITS:
                    counter = "txlog.commits"
            self._swaps.append((cls, attr, obj))
            setattr(cls, attr, self._wrap(layer, obj, counter))

    def uninstall(self) -> None:
        for owner, attr, obj in reversed(self._swaps):
            setattr(owner, attr, obj)
        self._swaps.clear()


class SparkJobs:
    """Job intervals and task counts for the jobs one operation ran."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def jobs(self, lo: int, hi: int) -> list[tuple[float, float, int]]:
        """``(start_s, end_s, tasks)`` of jobs ``lo <= id < hi``."""
        if hi <= lo:
            return []
        self._sc.listenerBus().waitUntilEmpty()
        out = []
        for jid in range(lo, hi):
            try:
                j = self._store.job(jid)
            except Exception:  # not retained (evicted) or never submitted
                continue
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isEmpty() or end.isEmpty():
                continue
            out.append(
                (
                    sub.get().getTime() / 1000.0,
                    end.get().getTime() / 1000.0,
                    int(j.numCompletedTasks()),
                )
            )
        return out


def union_s(intervals) -> float:
    """Length of the union of ``(start, end, ...)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e, *_ in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_EXCHANGE = re.compile(r"\b(?:Shuffle|Broadcast)?Exchange\b")


def exchanges(df) -> int:
    """Exchanges in the plan that ran (the final adaptive plan when AQE
    re-planned, else the executed plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(plan))
