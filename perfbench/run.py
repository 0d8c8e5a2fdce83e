"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload headline_queries --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root.  It generates its inputs from
``--seed``, sets up the workload several times, times operations for
``--seconds`` seconds with one closed-loop client on one warm
``local[4]`` session, checks every output, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (README.md).  The line before it is a
diagnostics record (per-query medians, sample counts, the box-speed
probe).

Everything a run writes lives in ``.perfbench/run-<pid>/`` under the
repository root and is deleted at exit: TMPDIR, SPARK_LOCAL_DIRS, the
generated inputs, the lakes and Spark's warehouse directory.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("headline_queries", "medallion_ticks")
CORES = 4
SETUP_REPS = 3


def _isolate(run_dir: str) -> None:
    """Point every scratch location at ``run_dir`` before Spark or
    ``tempfile`` is first used, and make the engine importable from
    Python workers started in any directory."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(CORES),
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    time.tzset()
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)  # spark-warehouse/ and derby files land here


def _box_probe(spark) -> float:
    """The repo's fixed Spark shuffle-aggregate probe (no engine code):
    one wall in seconds, a diagnostic of box speed only."""
    t0 = time.perf_counter()
    (
        spark.range(0, 60_000_000)
        .selectExpr("id % 997 AS g", "id * 31 AS v")
        .groupBy("g")
        .agg({"v": "sum"})
        .orderBy("g")
        .collect()
    )
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _measure(args, run_dir: str) -> tuple[dict, dict]:
    from etl_tpch_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - PROCESS_T0
    try:
        return _workload(args, run_dir, spark, session_s)
    finally:
        _stop(spark)


def _workload(args, run_dir: str, spark, session_s: float):
    from etl_tpch_spark import registry

    from perfbench import layertrace, workloads

    jvm_pid = spark.sparkContext._gateway.proc.pid

    if args.workload == "medallion_ticks":
        wl = workloads.MedallionWorkload(spark, args.seed, run_dir)
    else:
        wl = workloads.QueryWorkload(
            spark, registry.load_all(), workloads.QUERIES, args.seed, run_dir
        )
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(rep)
        reps.append(time.perf_counter() - t0)
    setup_s = session_s + _median(reps)

    checks: list[bool] = []
    if isinstance(wl, workloads.QueryWorkload):
        checks.append(wl.check_oracle() == 0)

    tracer = jobs = None
    if args.trace:
        tracer = layertrace.LayerTracer()
        tracer.install()
        jobs = layertrace.SparkJobs(spark)

    def traced():
        return jobs if tracer and tracer.enabled else None

    probe_pre = _box_probe(spark)
    ops: list = []  # every timed operation
    passes: list[list] = []  # the operations of each whole pass
    deadline = time.perf_counter() + args.seconds
    if isinstance(wl, workloads.QueryWorkload):
        # a traced run alternates untraced and traced passes: the first
        # gives the baseline its tracing overhead is measured against
        need = workloads.MIN_QUERY_PASSES
        for k, order in enumerate(wl.passes()):
            if tracer:
                tracer.enabled = k % 2 == 1
            this = []
            for name in order:
                this.append(
                    _guarded(lambda: wl.run(name, traced()), name, "query")
                )
                if _done(deadline, passes, need):
                    break
            ops += this
            if len(this) == len(order):
                passes.append(this)
            if _done(deadline, passes, need):
                break
    else:
        this = []
        while not _done(deadline, passes, 1):
            kind = "maint" if wl.is_maint() else "ingest"
            if tracer:  # odd ingest ticks are the untraced baseline
                tracer.enabled = kind == "maint" or len(this) % 2 == 1
            this.append(_guarded(lambda: wl.run(traced()), kind, kind))
            if kind == "maint":
                ops += this
                passes.append(this)
                this = []
        checks.append(wl.processed_rows_ok())
    if tracer:
        tracer.enabled = False
        tracer.uninstall()

    probe_post = _box_probe(spark)
    failed = sum(not op.ok for op in ops) + sum(not c for c in checks)
    result = {
        "correct": failed == 0,
        "attempted": len(ops) + len(checks),
        "failed": failed,
    }
    main_kind = "ingest" if args.workload == "medallion_ticks" else "query"
    untraced = [
        sum(op.wall for op in p) for p in passes if not any(o.traced for o in p)
    ]
    if args.trace:
        metrics = _per_layer(wl, ops, main_kind, tracer)
        metrics["jvm.peak_rss_mb"] = (_vm_hwm_mb(jvm_pid), "MB")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (_median(untraced), "s"),
        }
    result["metrics"] = {
        k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
    }
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "session_s": session_s,
        "setup_reps_s": reps,
        "ops": len(ops),
        "passes": len(passes),
        "box_probe_s": {"before": probe_pre, "after": probe_post},
        "per_op_p50_s": _per_name(ops),
        "op_walls_s": [round(op.wall, 4) for op in ops],
    }
    return result, diag


def _done(deadline: float, passes, need: int) -> bool:
    """The window is over once time is up and ``need`` passes ran."""
    return time.perf_counter() > deadline and len(passes) >= need


def _guarded(fn, name: str, kind: str):
    """An operation that raises counts as failed, not as a crash."""
    from perfbench.workloads import Op

    t0 = time.perf_counter()
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - recorded, then counted
        print(f"# {name} failed: {exc!r}", file=sys.stderr)
        return Op(name, kind, time.perf_counter() - t0, False)


def _per_name(ops) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for op in ops:
        if not op.traced:
            by.setdefault(op.name, []).append(op.wall)
    return {k: _median(v) for k, v in sorted(by.items())}


PER_LAYER = (
    # (name, unit); times are means per traced operation
    ("queries.construct_s", "s"),
    ("queries.eager_jobs", "count"),
    ("queries.eager_job_s", "s"),
    ("catalyst.plan_s", "s"),
    ("spark.job_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("plan.exchanges", "count"),
    ("result.rows", "count"),
    ("memo.builds", "count"),
    ("memo.entries", "count"),
    ("txlog.head_reads", "count"),
    ("txlog.commits", "count"),
    ("txlog.s", "s"),
    ("session.s", "s"),
    ("catalog.s", "s"),
    ("relational.s", "s"),
    ("kernels.s", "s"),
    ("search_index.s", "s"),
    ("generate.s", "s"),
    ("ingest.s", "s"),
    ("ingest.rows", "count"),
    ("compact.s", "s"),
    ("reduce.s", "s"),
    ("lake.files", "count"),
    ("lake.bytes_per_input_byte", "ratio"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace.op_s", "s"),
    ("trace.accounted_share", "ratio"),
    ("trace.overhead_share", "ratio"),
)


def _per_layer(wl, ops, main_kind: str, tracer) -> dict:
    from perfbench import layertrace, workloads

    traced = [op for op in ops if op.traced]
    n = max(1, len(traced))
    n_maint = max(1, sum(op.kind == "maint" for op in traced))
    out = {name: 0.0 for name, _ in PER_LAYER}
    for op in traced:
        for k, v in op.split.items():
            out[k] += v / n
    for layer, wall in tracer.wall.items():
        per = n_maint if layer in ("compact", "reduce") else n
        out[f"{layer}.s"] = wall / per
    for k, v in tracer.counts.items():
        out[k] = v / n
    out["memo.entries"] = float(layertrace.memo_entries())
    if isinstance(wl, workloads.MedallionWorkload):
        out.update(wl.lake_shape())
    out["trace.op_s"] = sum(op.wall for op in traced) / n
    if isinstance(wl, workloads.QueryWorkload) and out["trace.op_s"]:
        parts = (
            "queries.construct_s", "catalyst.plan_s", "spark.job_s",
            "spark.driver_gap_s",
        )
        out["trace.accounted_share"] = (
            sum(out[p] for p in parts) / out["trace.op_s"]
        )
    on = [op.wall for op in traced if op.kind == main_kind]
    off = [op.wall for op in ops if op.kind == main_kind and not op.traced]
    if on and off:
        out["trace.overhead_share"] = _median(on) / _median(off) - 1.0
    units = dict(PER_LAYER)
    return {k: (v, units[k]) for k, v in out.items() if k in units}


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and with it the Python worker
    daemon) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    try:
        try:
            import etl_tpch_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: engine not importable: {exc}", file=sys.stderr)
            return 2
        result, diag = _measure(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only when no other run
        except OSError:
            pass
    print(json.dumps(diag))
    print(json.dumps(result, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
