"""The measurement: set-up (session, seeded input, oracle-checked
warm-up), timed passes in a closed loop with one client, and the
metrics computed from them. Every time that feeds an end-to-end
metric is a steady time (``stealclock``): wall time with the CPU time
the hypervisor stole from this machine taken out.

Imported by ``run.py`` after it has pointed every temp and Spark
directory into the run's work dir.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections.abc import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

from neo4j_dynagraph_spark import get_spark
from neo4j_dynagraph_spark.queries import REGISTRY
from perfbench.checks import digest, oracle_problems
from perfbench.stealclock import Interval, cpu_ticks
from perfbench.tracing import Tracer
from tools.gen_scale import gen_events

#: Ops per workload, all registry queries; README.md says why each
#: workload was chosen.
WORKLOADS: dict[str, list[str]] = {
    "temporal_queries": [
        "q1_time_range",
        "q2_frame_actors",
        "q3_heavy_edges",
        "q4_actor_frame_counts",
        "q5_active_actors",
        "q6_active_days",
        "q7_neighbors",
        "q8_neighbors_on_day",
        "q9_common_neighbors",
        "q10_degree",
        "q11_triangles_hour",
        "q11_count_hour",
        "q11_anchored",
        "ingest_spells",
    ],
    "graph_fixpoints": [
        "q_wl_colors",
        "q_betweenness",
    ],
}

#: Input size as a share of tools/gen_scale's sf1 events table: 20,000
#: events over 300 users, 2024-01-01..30. Per-call overhead dominates
#: every op at this size, and a run fits the benchmark's time budget.
SCALE = 0.02

#: One timed pass's steady seconds on a 4-core box: a run times as many
#: whole passes as fit in ``--seconds`` (at least one). At the
#: benchmark's 15 s that is one pass of each workload.
PASS_SECONDS = {"temporal_queries": 15.0, "graph_fixpoints": 9.0}

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_sum_s": "s",
    "op_geomean_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "plan.plan_s": "s",
    "exec.exec_s": "s",
    "collect.collect_s": "s",
    "collect.rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "hub.checkpoint_calls": "count",
    "hub.local_checkpoint_calls": "count",
    "ingest.presence_calls": "count",
    "ingest.pair_calls": "count",
    "env.loadavg_1m": "load",
    "env.steal_ticks": "count",
    "tracing.overhead_frac": "ratio",
}

#: per-run values; every other per-layer metric is a sum over op types
RUN_LEVEL = ("session.start_s", "env.loadavg_1m", "env.steal_ticks", "tracing.overhead_frac")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def n_passes(workload: str, seconds: float) -> int:
    """Timed passes per run: a whole number fixed by ``--seconds``, so
    every run with one setting times the same set of ops."""
    return max(1, int(seconds // PASS_SECONDS[workload]))


def make_input(data_dir: str, seed: int) -> None:
    """Write the seeded events table; the program reads only this dir."""
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(
        gen_events(np.random.default_rng(seed), SCALE),
        os.path.join(data_dir, "events.parquet"),
    )


def measure(
    ops: list[str],
    passes: int,
    sample: Callable[[str], tuple[float, object]],
    expected: dict[str, tuple[int, int] | None],
) -> tuple[dict[str, list[float]], int, int]:
    """Closed loop, one client: each op starts when the previous one
    ends; pass ``p`` starts at op ``p`` (rotated order, as bench.py).

    ``sample(name)`` returns (seconds, collected result). With the timer
    stopped, the result's digest is compared with the set-up value; an
    exception or a mismatch counts as a failed op and its time is not
    used. Returns (seconds per op, attempted, failed)."""
    latencies: dict[str, list[float]] = {n: [] for n in ops}
    attempted = failed = 0
    for p in range(passes):
        shift = p % len(ops)
        for name in ops[shift:] + ops[:shift]:
            attempted += 1
            try:
                seconds, pdf = sample(name)
            except Exception:  # noqa: BLE001 — a failing op is a measured outcome
                log(f"{name} raised:\n{traceback.format_exc()}")
                failed += 1
                continue
            got = digest(pdf)
            if expected.get(name) is None or got != expected[name]:
                log(f"{name}: result {got} != set-up {expected.get(name)}")
                failed += 1
                continue
            latencies[name].append(seconds)
    return latencies, attempted, failed


def end_to_end(latencies: dict[str, list[float]], setup_s: float) -> dict[str, float]:
    """ops_per_s counts completed ops over the time the loop spent in
    ops; the latency metrics combine each op type's median."""
    medians = [statistics.median(v) for v in latencies.values() if v]
    busy = sum(sum(v) for v in latencies.values())
    return {
        "setup_s": setup_s,
        "ops_per_s": sum(len(v) for v in latencies.values()) / busy if busy else 0.0,
        "op_p50_sum_s": sum(medians),
        "op_geomean_s": statistics.geometric_mean(medians) if medians else 0.0,
    }


class Bench:
    """One run: a fresh Spark session over a freshly generated input.

    Construction is the set-up: input, session, and a warm-up pass in
    which every op is checked against its DuckDB oracle."""

    def __init__(self, workload: str, seed: int, work_dir: str, start: Interval) -> None:
        self.ops = WORKLOADS[workload]
        #: (raw wall, steady) seconds of every untraced sample, for the log
        self.walls: list[tuple[float, float]] = []
        self.data_dir = os.path.join(work_dir, "data")
        make_input(self.data_dir, seed)
        session = Interval()
        self.spark = get_spark(f"perfbench-{workload}")
        self.session_start_s = session.stop()[1]
        self.spark.sparkContext.setLogLevel("ERROR")
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{self.data_dir}/events.parquet'"
        )
        self.expected = self._warm_up()
        self.setup_wall_s, self.setup_s = start.stop()

    def _warm_up(self) -> dict[str, tuple[int, int] | None]:
        """Untimed pass: every op once, checked against its oracle; the
        digest of each checked result is the value later samples must
        reproduce (None: the op failed its set-up check)."""
        expected: dict[str, tuple[int, int] | None] = {}
        for name in self.ops:
            try:
                seconds, pdf = self.sample(name)
                problems = oracle_problems(self.spark, self.con, self.data_dir, name, pdf)
            except Exception:  # noqa: BLE001
                problems = [traceback.format_exc()]
            if problems:
                log(f"set-up check FAILED {name}: {'; '.join(problems)}")
                expected[name] = None
            else:
                expected[name] = digest(pdf)
                log(f"set-up ok {name}: rows={len(pdf)} [{seconds:.2f}s]")
        return expected

    def sample(self, name: str) -> tuple[float, object]:
        """One untraced op: construct the frame and collect it. Returns
        its steady seconds (stealclock) and the collected result."""
        interval = Interval()
        pdf = REGISTRY[name].fn(self.spark, self.data_dir).toPandas()
        wall, steady = interval.stop()
        self.walls.append((wall, steady))
        return steady, pdf

    def close(self) -> None:
        self.con.close()


class TracedSampler:
    """One traced op: construct, plan and collect timed apart, job
    counts per phase, wrapper metrics, and a noop-sink execution of a
    freshly constructed frame.

    Each traced sample is paired with an untraced twin of the same op,
    run first on every other sample, so the tracing overhead is measured
    on equally warm ops."""

    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.tracer = Tracer(bench.spark)
        self.layers: dict[str, list[dict[str, float]]] = {n: [] for n in bench.ops}
        self.untraced: dict[str, list[float]] = {n: [] for n in bench.ops}
        self.n = 0

    def __call__(self, name: str) -> tuple[float, object]:
        self.n += 1
        if self.n % 2:
            self._untraced(name)
            return self._traced(name)
        out = self._traced(name)
        self._untraced(name)
        return out

    def _untraced(self, name: str) -> None:
        self.tracer.paused = True
        try:
            seconds, pdf = self.bench.sample(name)
        finally:
            self.tracer.paused = False
        if digest(pdf) != self.bench.expected[name]:
            raise ValueError(f"{name}: untraced twin result differs from set-up")
        self.untraced[name].append(seconds)

    def _traced(self, name: str) -> tuple[float, object]:
        spark, data_dir = self.bench.spark, self.bench.data_dir
        tr, sc, fn = self.tracer, spark.sparkContext, REGISTRY[name].fn
        group = f"perfbench-{self.n}"
        tr.start_sample()
        sc.setJobGroup(f"{group}-construct", name)
        interval = Interval()
        t0 = time.perf_counter()
        df = fn(spark, data_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}-collect", name)
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        pdf = df.toPandas()
        t3 = time.perf_counter()
        steady = interval.stop()[1]
        layer = dict(tr.sample)
        jobs = tr.job_counts([f"{group}-construct", f"{group}-collect"])
        layer.update({f"spark.{k}": v for k, v in jobs.items()})
        layer["queries.construct_jobs"] = tr.job_counts([f"{group}-construct"])["jobs"]
        layer["queries.construct_s"] = t1 - t0
        layer["plan.plan_s"] = t2 - t1
        layer["collect.collect_s"] = t3 - t2
        layer["collect.rows"] = len(pdf)
        # execute alone: a noop sink on a freshly constructed frame, with
        # the wrappers paused so the rebuild is not counted twice
        tr.paused = True
        try:
            sc.setJobGroup(f"{group}-exec", name)
            fresh = fn(spark, data_dir)
            t4 = time.perf_counter()
            fresh.write.format("noop").mode("overwrite").save()
            layer["exec.exec_s"] = time.perf_counter() - t4
        finally:
            tr.paused = False
        self.layers[name].append(layer)
        return steady, pdf

    def per_layer(self, run_level: dict[str, float]) -> dict[str, float]:
        """Workload value of each per-layer metric: the sum over op
        types of each type's median, as op_p50_sum_s sums latencies."""
        out = {}
        for metric in PER_LAYER:
            if metric in RUN_LEVEL:
                out[metric] = run_level[metric]
                continue
            out[metric] = sum(
                statistics.median(s.get(metric, 0) for s in samples)
                for samples in self.layers.values()
                if samples
            )
        return out


def run(workload: str, seed: int, seconds: float, trace: bool, work_dir: str, start: Interval) -> dict:
    """One benchmark run; returns the result object the CLI prints."""
    bench = Bench(workload, seed, work_dir, start)
    try:
        passes = n_passes(workload, seconds)
        if not trace:
            mark = len(bench.walls)
            latencies, attempted, failed = measure(
                bench.ops, passes, bench.sample, bench.expected
            )
            timed = bench.walls[mark:]
            log(f"timed ops: wall {sum(w for w, _ in timed):.2f} s, "
                f"steady {sum(s for _, s in timed):.2f} s; set-up: wall "
                f"{bench.setup_wall_s:.2f} s, steady {bench.setup_s:.2f} s")
            log("op medians: " + str(
                {n: round(statistics.median(v), 4) for n, v in latencies.items() if v}
            ))
            metrics, units = end_to_end(latencies, bench.setup_s), END_TO_END
        else:
            traced = TracedSampler(bench)
            traced.tracer.install()
            steal0 = cpu_ticks()[1]
            try:
                latencies, attempted, failed = measure(
                    bench.ops, passes, traced, bench.expected
                )
            finally:
                traced.tracer.uninstall()
            log(f"per-op layers: {traced.layers}")
            plain = end_to_end(traced.untraced, 0.0)["op_p50_sum_s"]
            metrics = traced.per_layer({
                "session.start_s": bench.session_start_s,
                "env.loadavg_1m": os.getloadavg()[0],
                "env.steal_ticks": cpu_ticks()[1] - steal0,
                "tracing.overhead_frac": end_to_end(latencies, 0.0)["op_p50_sum_s"] / plain - 1.0
                if plain else 0.0,
            })
            units = PER_LAYER
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        bench.close()
