"""The benchmark's workloads: what one set-up builds, what one timed
operation is, and how its output is checked.

Every workload runs on one warm ``local[4]`` session with one
closed-loop client: an operation starts only after the previous one
has finished.  The seed reaches the engine only as generated inputs:
the tables, the per-pass query order and the tick clock.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from perfbench import check, layertrace
from perfbench.inputs import write_tables

# scale of the generated inputs (lineitem rows = 6M x sf): the queries
# run at the oracle-check scale; the medallion source is smaller, so a
# run holds a whole cadence cycle
QUERY_SF = 0.01
MEDALLION_SF = 0.002

# The query list is owned here, so edits to the repo's other harnesses
# cannot move this benchmark.  Two relational queries (executor- and
# Catalyst-bound) and three corpus queries (driver-bound: construction,
# eager jobs during construction, persisted-index reads, session memos,
# pandas-UDF scoring).
QUERIES = (
    "flagship_unshipped_orders",
    "q21_waiting_orders",
    "dedup_minhash_lsh",
    "text_bm25_topk_indexed",
    "inference_batch_scores",
)

# whole passes a run times at least (more work per run, steadier medians)
MIN_QUERY_PASSES = 6

# medallion cadence: every MAINT_EVERY-th tick also compacts and
# reduces (the reference's compact/reduce flows run on multiples of
# its 15-minute ingest tick)
MAINT_EVERY = 6
TICK = timedelta(minutes=15)


@dataclass
class Op:
    """One timed operation: what ran, its wall, whether it passed its
    check; a traced one also carries its layer split."""

    name: str
    kind: str
    wall: float
    ok: bool
    traced: bool = False
    split: dict[str, float] = field(default_factory=dict)


class QueryWorkload:
    def __init__(self, spark, queries, names, seed: int, base: str):
        self.spark, self.names, self.seed, self.base = spark, names, seed, base
        self.fns = {n: queries[n].fn for n in names}
        self.oracle_sql = {n: queries[n].oracle for n in names}
        self.rng = random.Random(seed)
        self.sf_dir = None
        self.expected: dict[str, str] = {}
        self.oracle_rows: dict[str, tuple] = {}

    def setup(self, rep: int) -> None:
        """Fresh inputs under a new path (so every path-keyed memo and
        index store starts empty), then one untimed pass."""
        self.sf_dir = os.path.join(self.base, f"inputs-{rep}")
        write_tables(self.sf_dir, self.seed, QUERY_SF)
        for name in self.names:
            self.fns[name](self.spark, self.sf_dir).collect()

    def check_oracle(self) -> int:
        """Hash each query's DuckDB oracle once; returns how many
        queries have none."""
        con, run = check.oracle(self.sf_dir)
        missing = 0
        for name in self.names:
            sql = self.oracle_sql[name]
            if not sql:
                missing += 1
                continue
            res = run(sql)
            self.oracle_rows[name] = res
            self.expected[name] = check.digest(*res)
        con.close()
        return missing

    def passes(self):
        """Endless seeded passes: each a fresh shuffle of the list."""
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            yield order

    def run(self, name: str, jobs=None) -> Op:
        """Time one execution; ``jobs`` (a SparkJobs) traces it."""
        spark = self.spark
        traced = jobs is not None
        if traced:
            m0, j0 = layertrace.memo_entries(), jobs.next_id()
        t0 = time.perf_counter()
        df = self.fns[name](spark, self.sf_dir)
        t1 = time.perf_counter()
        if traced:
            j1 = jobs.next_id()
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        ok = self._verify(name, df.columns, rows)
        op = Op(name, "query", t3 - t0, ok, traced)
        if traced:
            j2 = jobs.next_id()
            eager, execd = jobs.jobs(j0, j1), jobs.jobs(j1, j2)
            job_s = layertrace.union_s(execd)
            op.split = {
                "queries.construct_s": t1 - t0,
                "queries.eager_jobs": len(eager),
                "queries.eager_job_s": layertrace.union_s(eager),
                "catalyst.plan_s": t2 - t1,
                "spark.job_s": job_s,
                "spark.driver_gap_s": max(0.0, t3 - t2 - job_s),
                "spark.jobs": len(eager) + len(execd),
                "spark.tasks": sum(j[2] for j in eager + execd),
                "plan.exchanges": layertrace.exchanges(df),
                "result.rows": len(rows),
                "memo.builds": max(0, layertrace.memo_entries() - m0),
            }
        return op

    def _verify(self, name: str, columns, rows) -> bool:
        if name not in self.expected:
            return False
        if check.digest(columns, rows) == self.expected[name]:
            return True
        return check.same_rows((columns, rows), self.oracle_rows[name])


class MedallionWorkload:
    """``run_cycle`` ticks over a generated source: every tick
    generates a micro-batch and ingests it with the streaming sink;
    every MAINT_EVERY-th tick also compacts and reduces."""

    def __init__(self, spark, seed: int, base: str):
        self.spark, self.seed, self.base = spark, seed, base
        # the tick clock starts at a seeded quarter hour of 2024
        rng = random.Random(seed)
        self.now = datetime(2024, 1, 1) + TICK * rng.randrange(35_000)
        self.tick = 0
        self.src = self.lake = None
        self.staged_rows = 0

    def setup(self, rep: int) -> None:
        """Fresh source and lake, bootstrapped by one ingest tick (it
        also stages the static tables)."""
        from etl_tpch_spark.pipeline.workflow import run_cycle

        src = os.path.join(self.base, f"inputs-{rep}")
        counts = write_tables(src, self.seed, MEDALLION_SF)
        self.batch_rows = counts["orders"] + counts["lineitem"]
        self.src = src
        self.lake = os.path.join(self.base, f"lake-{rep}")
        self.tick = 0
        run_cycle(self.spark, src, self.lake, now=self._clock())
        self.staged_rows = self.batch_rows

    def _clock(self) -> datetime:
        t = self.now + TICK * self.tick
        self.tick += 1
        return t

    def is_maint(self) -> bool:
        return self.tick % MAINT_EVERY == 0

    def run(self, jobs=None) -> Op:
        """Time one tick; ``jobs`` (a SparkJobs) traces it."""
        from etl_tpch_spark.pipeline.workflow import results_ready, run_cycle

        maint = self.is_maint()
        now = self._clock()  # advance first: a failed tick still counts
        traced = jobs is not None
        if traced:
            j0 = jobs.next_id()
        t0 = time.perf_counter()
        run_cycle(
            self.spark, self.src, self.lake, now=now,
            compact=maint, reduce=maint,
        )
        wall = time.perf_counter() - t0
        self.staged_rows += self.batch_rows
        ok = True
        if maint:
            ok = results_ready(os.path.join(self.lake, "results"))
        kind = "maint" if maint else "ingest"
        op = Op(kind, kind, wall, ok, traced)
        if traced:
            ran = jobs.jobs(j0, jobs.next_id())
            op.split = {
                "ingest.rows": self.batch_rows,
                "spark.jobs": len(ran),
                "spark.tasks": sum(j[2] for j in ran),
                "spark.job_s": layertrace.union_s(ran),
            }
        return op

    def processed_rows_ok(self) -> bool:
        """Rows in the processed zone equal the rows staged."""
        n = 0
        for t in ("orders", "lineitem"):
            n += self.spark.read.parquet(
                os.path.join(self.lake, "processed", t)
            ).count()
        return n == self.staged_rows

    def lake_shape(self) -> dict[str, float]:
        """Files and bytes of the processed zone per staged input byte."""
        def walk(path):
            files, size = 0, 0
            for d, _, names in os.walk(path):
                for n in names:
                    if n.endswith((".parquet", ".json")) or n.startswith(
                        "part-"
                    ):
                        files += 1
                        size += os.path.getsize(os.path.join(d, n))
            return files, size

        files, lake_bytes = walk(os.path.join(self.lake, "processed"))
        _, staged = walk(os.path.join(self.lake, "staging"))
        return {
            "lake.files": files,
            "lake.bytes_per_input_byte": lake_bytes / max(1, staged),
        }
