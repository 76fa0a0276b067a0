"""Layered benchmark of spear_spark: one workload, one seed, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 18 --trace 0

It starts a session on ``local[<cores>]`` with the engine's own
configuration, checks every workload query once against its DuckDB
oracle (that pass is also the untimed warm-up), lets the JIT settle
with untimed passes, then runs timed passes in a seeded order for
``--seconds`` seconds, one query after the other from a single client,
with ``bench.py``'s method: noop sink, a blocking drop of persisted RDDs
after every query, medians.  Times are reported net of CPU steal, the
time the hypervisor gave the machine's CPUs to other tenants, which the
program cannot control; raw wall times are printed beside them.  With
``--trace 1`` it
then checks the trace rollup on a tiny query, runs one more pass under
per-query job groups and an attached event log, and reports per-layer
metrics instead of the end-to-end ones.  Human-readable lines come
first; the last line of standard output is the JSON result.  README.md
describes the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
SELFTEST_DIR = os.path.join(HERE, "data", "sf0.001")
SELFTEST_QUERY = "q01_pricing_summary"

WORKLOADS = {
    # spear_spark.relational only: never operators, staging or Python
    # workers, so a change there must show no change here.
    "relational": [
        "q01_pricing_summary",
        "q03_shipping_priority",
        "q05_self_join_pairs",
        "q14_window_aggregates",
        "q64_important_stock",
        "q70_qualify",
    ],
    # LLM-pipeline operators, where fixed cost and driver round-trips
    # dominate: p29 fires jobs and stages RDDs while the query is built,
    # p12 crosses the Python worker boundary.  Each runs in about a
    # second, so a run holds enough samples for its medians.
    "curation": [
        "p01_dedup_exact",
        "p12_multimodal_decode",
        "p29_lsh_verified_dedup",
    ],
}

#: Seconds of untimed passes between the oracle pass and the timed passes.
#: The Spark driver JVM's JIT keeps warming for about 30 s of passes (p21
#: fell from 4.0 to 2.3 s, fastest over the first 10 s), so a window
#: opened right after one warm-up pass measures the slope, not the workload.
#: Steal slows the compiler threads too: after 8 s, p29's first timed
#: samples still ran 30% slow in runs that steal had slowed.
SETTLE_SECONDS = 12
#: Rows hashed by the drift guard's calibration job, and its repetitions
#: at the start and at the end of a run.
CALIB_ROWS = 1_000_000
CALIB_REPS = 3
#: Self-test slack, in seconds, for comparing the event log's job times
#: (JVM clock, whole milliseconds) with the benchmark's phase timers.
ROLLUP_SLACK_S = 0.01
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "jvm_peak_rss_mb": "MB",
}

PER_LAYER = {
    "context.session_start_s": "s",
    "relational.construct_s": "s",
    "relational.construct_jobs": "count",
    "relational.construct_task_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.construct_task_s": "s",
    "operators.staged_rdds": "count",
    "operators.staged_mb": "MB",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.core_busy_frac": "frac",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "pyworker.run_s": "s",
    "pyworker.boot_s": "s",
    "pyworker.mb_sent": "MB",
    "pyworker.mb_received": "MB",
    "box.calib_s": "s",
    "box.steal_frac": "frac",
    "trace.overhead_frac": "frac",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Layered benchmark of spear_spark.")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run without the program the benchmark measures."""
    needed = ("spear_spark/__init__.py", "__spark_entry__.py", "tests/oracle_harness.py")
    missing = [n for n in needed if not os.path.isfile(os.path.join(ROOT, n))]
    if missing:
        raise SystemExit(f"perfbench: not a spear_spark checkout, missing {missing}")


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Box:
    """Drift guard: CPU steal from /proc/stat over the run, and a fixed
    pure-CPU Spark job (md5 over ``range``) timed before and after the
    measured passes."""

    def __init__(self) -> None:
        self._stat0 = self.cpu_times()
        self.calib: list[float] = []

    @staticmethod
    def cpu_times() -> list[int]:
        with open("/proc/stat", encoding="ascii") as f:
            # user nice system idle iowait irq softirq steal
            return [int(x) for x in f.readline().split()[1:9]]

    @staticmethod
    def stolen_share(before: list[int], after: list[int]) -> float:
        """Share of the time this machine's CPUs wanted to run, between two
        ``cpu_times`` readings, that the hypervisor gave to other tenants:
        steal over busy + steal.  Idle CPUs accrue no steal, so idle time
        is left out."""
        d = [b - a for a, b in zip(before, after)]
        busy = d[0] + d[1] + d[2] + d[5] + d[6]
        return d[7] / max(1, busy + d[7])

    def steal_frac(self) -> float:
        delta = [b - a for a, b in zip(self._stat0, self.cpu_times())]
        return delta[7] / max(1, sum(delta))

    def calibrate(self, spark) -> None:
        from pyspark.sql import functions as F

        # One untimed repetition first, so JIT warm-up does not read as
        # drift.  A new DataFrame each time: collecting the same one again
        # reuses its shuffle output and skips the hashing.
        for rep in range(CALIB_REPS + 1):
            t0 = time.perf_counter()
            spark.range(0, CALIB_ROWS, 1, cores()).select(
                F.max(F.md5(F.col("id").cast("string")))
            ).collect()
            if rep:
                self.calib.append(time.perf_counter() - t0)


class Session:
    """The SparkSession under test; everything it writes stays in ``work``."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self.start_s = 0.0

    def start(self) -> None:
        """Launch the JVM and start the session, timed."""
        from spear_spark.context import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores()}]",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_MEMORY,
                # A fixed heap and young generation, so that peak RSS
                # does not depend on when G1 decides to grow the heap.
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn512m",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # The UDF operators pickle functions by module, so Python
                # workers must import spear_spark whatever their cwd.
                "spark.executorEnv.PYTHONPATH": ROOT,
            },
        )
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

    @property
    def jsc(self):
        return self.spark.sparkContext._jsc.sc()

    def drop_persisted(self) -> tuple[int, float]:
        """bench.py's blocking drop of persisted RDDs; returns how many
        were persisted and the MB they held, counted before the drop."""
        stored = sum(i.memSize() + i.diskSize() for i in self.jsc.getRDDStorageInfo())
        rdds = self.jsc.getPersistentRDDs()
        count = rdds.size()
        it = rdds.valuesIterator()
        while it.hasNext():
            it.next().unpersist(True)
        return count, stored / 1e6

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError(f"no VmHWM in /proc/{pid}/status")

    def close(self) -> None:
        """Stop the context, then the JVM, and wait until it has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its input
            proc.wait(timeout=60)


class _Collected:
    """A query result collected once, shaped like the DataFrame that
    ``oracle_harness.compare`` reads."""

    def __init__(self, df) -> None:
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) of
    the query's own QueryExecution; planning is forced here, so the
    traced pass pays optimization and planning once more than the sink."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = kv._2().durationMs() / 1000
    return phases


class Runner:
    """Runs one workload's queries and counts attempts and failures."""

    def __init__(self, session: Session, workload: str, seed: int) -> None:
        import __spark_entry__

        self.session = session
        self.workload = workload
        self.names = WORKLOADS[workload]
        self.catalog = __spark_entry__.queries()
        self.oracle = __spark_entry__.oracle_sql()
        self.rng = random.Random(seed)
        self.attempted = 0
        self.problems: list[str] = []

    @property
    def failed(self) -> int:
        return len(self.problems)

    def order(self) -> list[str]:
        names = list(self.names)
        self.rng.shuffle(names)
        return names

    def oracle_pass(self) -> dict[str, float]:
        """Check each query against its DuckDB oracle.  Returns the Spark
        time (construct + collect) per query of this first pass, the
        warm-up."""
        from oracle_harness import compare, duck_connection

        con = duck_connection(DATA_DIR)
        spark_s = {}
        try:
            for name in self.order():
                self.attempted += 1
                try:
                    t0 = time.perf_counter()
                    result = _Collected(self.catalog[name](self.session.spark, DATA_DIR))
                    spark_s[name] = time.perf_counter() - t0
                    mismatch = compare(result, con, self.oracle[name])
                except Exception as e:  # noqa: BLE001 - counted as a failure
                    mismatch = [f"{type(e).__name__}: {e}"]
                self.session.drop_persisted()
                if mismatch:
                    self.problems.append(f"{name}: {'; '.join(mismatch)[:500]}")
        finally:
            con.close()
        return spark_s

    def run_query(self, name: str, data_dir: str, group: str | None = None):
        """Build one query, then run it into the noop sink.  Returns the
        DataFrame and the ``perf_counter`` windows of its two phases,
        ``((start, end), (start, end))`` for construct and sink, or None
        when it raised.  With a ``group``, its jobs are tagged
        ``<group>/construct`` and ``<group>/sink``; the tags are set
        outside the timers."""
        sc = self.session.spark.sparkContext
        self.attempted += 1
        try:
            if group:
                sc.setJobGroup(f"{group}/construct", name)
            t0 = time.perf_counter()
            df = self.catalog[name](self.session.spark, data_dir)
            construct = (t0, time.perf_counter())
            if group:
                sc.setJobGroup(f"{group}/sink", name)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            sink = (t0, time.perf_counter())
        except Exception as e:  # noqa: BLE001 - counted as a failure
            self.problems.append(f"{name}: {type(e).__name__}: {e}"[:500])
            return None
        finally:
            if group:
                sc._jsc.clearJobGroup()
        return df, (construct, sink)

    def timed_passes(
        self, seconds: float
    ) -> tuple[dict[str, list[float]], dict[str, list[float]], int]:
        """Whole passes until ``seconds`` have gone.  The first pass always
        runs to its end; a later one that the deadline cuts is dropped, so
        every query has one sample per pass.  Returns each query's times
        net of steal (wall x (1 - stolen share) over the query), its raw
        wall times, and the number of whole passes."""
        net: dict[str, list[float]] = {n: [] for n in self.names}
        wall: dict[str, list[float]] = {n: [] for n in self.names}
        passes = 0
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            this = []
            for name in self.order():
                if passes and time.perf_counter() >= deadline:
                    break
                stat0 = Box.cpu_times()
                ran = self.run_query(name, DATA_DIR)
                stat1 = Box.cpu_times()
                self.session.drop_persisted()
                if ran is not None:
                    w = sum(end - start for start, end in ran[1])
                    this.append((name, w, w * (1 - Box.stolen_share(stat0, stat1))))
            else:
                passes += 1
                for name, w, n in this:
                    wall[name].append(w)
                    net[name].append(n)
        return net, wall, passes

    def self_test(self, log_dir: str) -> None:
        """Check the rollup on one tiny query: the event log must see
        exactly the jobs the status tracker sees in each phase, and on
        the JVM's clock each phase's jobs must run inside that phase's
        timer, so no job is charged to the wrong phase."""
        from eventlog import EventLog, job_spans, rollup

        group = f"perfbench/selftest/{SELFTEST_QUERY}"
        with EventLog(self.session.spark, log_dir, "self-test") as log:
            ran = self.run_query(SELFTEST_QUERY, SELFTEST_DIR, group)
        # Turns the perf_counter marks into seconds since the epoch.
        epoch = time.time() - time.perf_counter()
        self.session.drop_persisted()
        if ran is None:
            return
        groups, spans = rollup(log.path), job_spans(log.path)
        tracker = self.session.spark.sparkContext.statusTracker()
        for phase, (start, end) in zip(("construct", "sink"), ran[1]):
            g = f"{group}/{phase}"
            logged = groups.get(g, {}).get("jobs", 0)
            tracked = len(tracker.getJobIdsForGroup(g))
            if logged != tracked or (phase == "sink" and tracked == 0):
                self.problems.append(
                    f"self-test: {phase} jobs: event log {logged}, status tracker {tracked}"
                )
            if g in spans:
                first, last = spans[g]
                lo, hi = epoch + start - ROLLUP_SLACK_S, epoch + end + ROLLUP_SLACK_S
                if not lo <= first <= last <= hi:
                    self.problems.append(
                        f"self-test: {phase} jobs ran {first - epoch - start:+.4f} s to"
                        f" {last - epoch - start:+.4f} s from the timer's start, outside"
                        f" its {end - start:.4f} s"
                    )

    def traced_pass(self, log_dir: str) -> tuple[list[dict], dict, float]:
        """One pass under per-query job groups and an event log.  Returns
        the per-query records, the event-log rollup and the pass wall."""
        from eventlog import EventLog, rollup

        per_query = []
        t0 = time.perf_counter()
        with EventLog(self.session.spark, log_dir, "traced-pass") as log:
            for name in self.order():
                group = f"perfbench/{self.workload}/{name}"
                q = {
                    "name": name,
                    "group": group,
                    "layer": layer_of(self.catalog[name]),
                    "construct_s": 0.0, "sink_s": 0.0,
                    "staged_rdds": 0, "staged_mb": 0.0, "phases": {},
                }
                ran = self.run_query(name, DATA_DIR, group)
                if ran is not None:
                    df, windows = ran
                    q["construct_s"], q["sink_s"] = (end - start for start, end in windows)
                    q["phases"] = catalyst_phases(df)
                q["staged_rdds"], q["staged_mb"] = self.session.drop_persisted()
                per_query.append(q)
        return per_query, rollup(log.path), time.perf_counter() - t0


def layer_of(fn) -> str:
    """The module layer a catalog query is built from."""
    return "operators" if fn.__module__.startswith("spear_spark.operators") else "relational"


def layer_metrics(per_query: list[dict], groups: dict) -> dict[str, float]:
    """Per-layer metrics of one traced pass (context, box and trace are
    added by the caller)."""
    from eventlog import ROLLUP_KEYS

    def total(suffix: str, queries: list[dict]) -> dict[str, float]:
        out = dict.fromkeys(ROLLUP_KEYS, 0)
        for q in queries:
            for k, v in groups.get(f"{q['group']}/{suffix}", {}).items():
                out[k] += v
        return out

    m: dict[str, float] = {}
    for layer in ("relational", "operators"):
        mine = [q for q in per_query if q["layer"] == layer]
        built = total("construct", mine)
        m[f"{layer}.construct_s"] = sum(q["construct_s"] for q in mine)
        m[f"{layer}.construct_jobs"] = built["jobs"]
        m[f"{layer}.construct_task_s"] = built["run_ms"] / 1e3
    m["operators.staged_rdds"] = sum(q["staged_rdds"] for q in per_query)
    m["operators.staged_mb"] = sum(q["staged_mb"] for q in per_query)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(q["phases"].get(phase, 0.0) for q in per_query)

    sink = total("sink", per_query)
    sink_s = sum(q["sink_s"] for q in per_query)
    m["exec.sink_s"] = sink_s
    for k in ("jobs", "stages", "stages_skipped", "tasks", "failed_tasks"):
        m[f"exec.{k}"] = sink[k]
    m["exec.core_busy_frac"] = sink["run_ms"] / 1e3 / max(1e-9, sink_s * cores())
    m["exec.task_run_s"] = sink["run_ms"] / 1e3
    m["exec.task_cpu_s"] = sink["cpu_ns"] / 1e9
    m["exec.shuffle_read_mb"] = sink["shuffle_read_bytes"] / 1e6
    m["exec.shuffle_write_mb"] = sink["shuffle_write_bytes"] / 1e6
    m["exec.spill_mb"] = sink["spill_bytes"] / 1e6
    m["exec.gc_s"] = sink["gc_ms"] / 1e3

    # The Python boundary is crossed while building a query too.
    both = total("construct", per_query)
    for k, v in sink.items():
        both[k] += v
    m["pyworker.run_s"] = both["py_run_ms"] / 1e3
    m["pyworker.boot_s"] = both["py_boot_ms"] / 1e3
    m["pyworker.mb_sent"] = both["py_sent_bytes"] / 1e6
    m["pyworker.mb_received"] = both["py_received_bytes"] / 1e6
    return m


def percentile(values: list[float], pct: int) -> float:
    """Inclusive-interpolation percentile, as the end-to-end metrics use."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def measure(args: argparse.Namespace, session: Session, box: Box) -> tuple[dict, list[str]]:
    stat0 = Box.cpu_times()
    session.start()
    t0 = time.perf_counter()
    runner = Runner(session, args.workload, args.seed)
    catalog_s = time.perf_counter() - t0
    cold = runner.oracle_pass()
    setup_wall = session.start_s + catalog_s + sum(cold.values())
    setup_steal = Box.stolen_share(stat0, Box.cpu_times())
    settle = runner.timed_passes(SETTLE_SECONDS)[0]

    # The drift guard brackets the measured passes, with the JVM warm.
    box.calibrate(session.spark)
    samples, walls, passes = runner.timed_passes(args.seconds)
    medians = [statistics.median(v) for v in samples.values() if v]
    if not medians:
        raise SystemExit("perfbench: no query completed\n" + "\n".join(runner.problems))
    # Percentiles over every query execution of the whole timed passes.
    pooled = [x for v in samples.values() for x in v]
    pooled_wall = [x for v in walls.values() for x in v]
    values = {
        "setup_s": setup_wall * (1 - setup_steal),
        "pass_s": sum(medians),
        "query_p50_s": percentile(pooled, 50),
        "query_p90_s": percentile(pooled, 90),
    }
    wall_pass = sum(statistics.median(v) for v in walls.values() if v)
    if args.trace:
        log_dir = os.path.join(session.work, "eventlog")
        runner.self_test(log_dir)
        per_query, groups, traced_wall = runner.traced_pass(log_dir)
        values.update(layer_metrics(per_query, groups))
        traced = [
            f"traced {q['name']}: construct {q['construct_s']:.3f} s"
            f" ({groups.get(q['group'] + '/construct', {}).get('jobs', 0)} jobs),"
            f" sink {q['sink_s']:.3f} s"
            f" ({groups.get(q['group'] + '/sink', {}).get('jobs', 0)} jobs),"
            f" staged {q['staged_rdds']} RDDs"
            for q in per_query
        ]
        values["trace.overhead_frac"] = traced_wall / wall_pass - 1
    values["context.session_start_s"] = session.start_s

    calib_start = statistics.median(box.calib)
    box.calibrate(session.spark)
    calib_end = statistics.median(box.calib[CALIB_REPS:])
    values["box.calib_s"] = statistics.median(box.calib)
    values["box.steal_frac"] = box.steal_frac()
    values["jvm_peak_rss_mb"] = session.jvm_peak_rss_mb()

    units = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    lines = [f"{k} = {values[k]:.6g} {u}" for k, u in {**END_TO_END, **PER_LAYER}.items()
             if k in values]
    lines += [
        f"failed_frac = {runner.failed / runner.attempted:.6g} frac"
        f" ({runner.failed} of {runner.attempted} queries)",
        f"query samples = {sum(map(len, samples.values()))} over {passes} passes"
        f" of {len(runner.names)} queries",
        "query samples net of steal (s): " + "; ".join(
            f"{n} {[round(x, 3) for x in v]}" for n, v in samples.items()
        ),
        f"wall time, steal included: setup {setup_wall:.4f} s (stolen share"
        f" {setup_steal:.3f}), pass {wall_pass:.4f} s,"
        f" query p50 {percentile(pooled_wall, 50):.4f} s,"
        f" p90 {percentile(pooled_wall, 90):.4f} s",
        f"box.calib_s start {calib_start:.4f} s, end {calib_end:.4f} s",
        f"setup: session start {session.start_s:.3f} s,"
        f" catalog {catalog_s:.3f} s, oracle pass {sum(cold.values()):.3f} s"
        f" ({', '.join(f'{n} {t:.3f}' for n, t in cold.items())}),"
        f" then {sum(map(len, settle.values()))} untimed queries in whole passes to settle",
    ]
    if args.trace:
        lines += traced
    lines += [f"FAILED {p}" for p in runner.problems]
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    check_checkout()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Keep Spark's and Python's scratch files inside the checkout.
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"])
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    session = Session(work)
    try:
        result, lines = measure(args, session, Box())
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
