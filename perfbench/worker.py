"""One benchmark run, in its own process (started by run.py).

Timeline, all in one SparkSession at ``local[<cores>]``:

1. set-up: interpreter and pyspark import, session start, the package's
   ``configure``, ``registry.all_specs()`` (imports every operator
   module), and removal of the staged ``.scratch`` dirs of this input,
   so the cold pass pays staging again;
2. cold pass: the job list once, in the first seeded order, then
   ``WARMUP_PASSES`` untimed warm-up passes;
3. timed passes: the job list again and again, each pass in a new
   seeded order, until ``--seconds`` have passed;
4. output check: every job once more, collected and compared with its
   DuckDB oracle, outside timing.

A single client submits jobs one at a time (closed loop): each job is
``QuerySpec.fn(spark, data_dir)`` followed by a ``noop`` write.  Nothing
is retried or replaced.  Every job and pass records its wall time and
the CPU time of the process tree (this process, the Spark JVM, Python
workers), the JVM's JIT compiler threads counted apart.  The end-to-end
metrics are CPU seconds, which time stolen from a shared host's vCPUs
does not inflate.  With ``--trace 1`` the run also records the per-layer
counters: it wraps ``catalog.load_table`` and
``staging.fingerprinted_dir`` before the operators import them, walks
``.scratch`` around each job, samples the process tree's RSS and writes
a Spark event log tagged ``setJobGroup("<key>#<pass>")``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_DATA = os.path.join(ROOT, ".bench_data")
SCRATCH = os.path.join(ROOT, ".scratch")  # where the package stages and sinks
# Pass ids: 0 is the cold pass, 1..WARMUP_PASSES untimed warm-up passes.
# The JIT keeps compiling the driver's planning code for many passes
# after the cold pass: CPU per pass falls by half over the first two warm
# passes, then by about 5% a pass for the next few.
WARMUP_PASSES = 3
FIRST_TIMED = 1 + WARMUP_PASSES

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """Half the machine's memory, at most the 16g bench.py asks for."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(16, total_kb // (2 << 20)))}g"


def session_confs(trace: bool, log_dir: str) -> dict[str, str]:
    n = str(cores())
    confs = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "hbasemapreduce_spark-perfbench",
        "spark.sql.shuffle.partitions": n,
        "spark.sql.codegen.cache.maxEntries": "5000",
        "spark.driver.memory": driver_memory(),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # Python workers import the package from the checkout
        "spark.executorEnv.PYTHONPATH": ROOT,
        # keep every file Spark writes inside the checkout
        "spark.local.dir": os.path.join(BENCH_DATA, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(BENCH_DATA, "warehouse"),
        # a fixed set of JIT compiler threads, so CpuClock sees all their time
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(BENCH_DATA, 'tmp')}"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return confs


def reset_staging(data_dir: str, source_ident) -> list[str]:
    """Remove the ``.scratch`` entries staged from this input: those
    named after the input dir or after one of its files' identities."""
    if not os.path.isdir(SCRATCH):
        return []
    tags = {os.path.basename(data_dir.rstrip("/"))}
    tags.update(
        source_ident(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    removed = []
    for name in sorted(os.listdir(SCRATCH)):
        if any(t in name for t in tags):
            shutil.rmtree(os.path.join(SCRATCH, name), ignore_errors=True)
            removed.append(name)
    return removed


def scratch_files() -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(SCRATCH):
        for fn in files:
            p = os.path.join(root, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _proc_tree(pid: int) -> dict[int, int]:
    """``pid`` and all its descendants (JVM, Python workers), each with
    its CPU ticks: user + system time of the process and of the
    children it has reaped."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ppid, cpu = int(fields[1]), sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
        ticks[int(entry)] = cpu
    out, stack = {}, [pid]
    while stack:
        p = stack.pop()
        out[p] = ticks.get(p, 0)
        stack.extend(children.get(p, ()))
    return out


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid``'s process tree.  Time the host
    steals from the VM's vCPUs is accounted as steal, not to the tree."""
    return sum(_proc_tree(pid).values()) / CLOCK_TICKS


class CpuClock:
    """CPU seconds of ``root``'s process tree, with the time of the JVM's
    JIT compiler threads counted apart.  Those threads compile in the
    background, so their time lands on whichever job happens to run; the
    warm metrics leave it out.  Built once the session is up."""

    def __init__(self, root: int):
        self.root = root
        self.jit_stats = []
        for pid in _proc_tree(root):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() != "java":
                        continue
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        if "CompilerThre" in f.read():
                            self.jit_stats.append(f"/proc/{pid}/task/{tid}/stat")
                except OSError:
                    pass
        if not self.jit_stats:
            raise RuntimeError("no JIT compiler threads found in the Spark JVM")

    def read(self) -> tuple[float, float]:
        """(CPU seconds outside the JIT compiler threads, inside them)."""
        jit = 0
        for path in self.jit_stats:
            with open(path) as f:
                jit += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        jit_s = jit / CLOCK_TICKS
        return tree_cpu_s(self.root) - jit_s, jit_s


def tree_rss_bytes(pid: int) -> int:
    """RSS of ``pid`` and all its descendants."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for p in _proc_tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class Tracer:
    """Per-layer probes, installed from outside the package."""

    def __init__(self):
        self.load_calls = 0
        self.load_s = 0.0
        self.staging_reused = 0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample_rss, daemon=True)

    def install(self) -> None:
        """Wrap the catalog and staging entry points.  Must run before
        ``registry.all_specs()`` imports the operators, which bind these
        names at import time."""
        from hbasemapreduce_spark import catalog
        from hbasemapreduce_spark.functions import staging

        load_table, fingerprinted_dir = catalog.load_table, staging.fingerprinted_dir

        def timed_load_table(*a, **kw):
            t = time.perf_counter()
            try:
                return load_table(*a, **kw)
            finally:
                self.load_calls += 1
                self.load_s += time.perf_counter() - t

        def counted_fingerprinted_dir(*a, **kw):
            path = fingerprinted_dir(*a, **kw)
            self.staging_reused += os.path.isdir(path)
            return path

        catalog.load_table = timed_load_table
        staging.fingerprinted_dir = counted_fingerprinted_dir
        self._sampler.start()

    def _sample_rss(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.25):
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(me))

    def snapshot(self) -> tuple[int, float, int]:
        return self.load_calls, self.load_s, self.staging_reused

    def close(self) -> None:
        self._stop.set()
        self._sampler.join(timeout=5)


def run_pass(spark, specs, order, data_dir, pass_id, clock, tracer, out):
    """Run ``order`` once; append one record per job to ``out``.
    Returns the pass's wall, CPU and JIT-compiler CPU seconds."""
    t_pass, (cpu_pass, jit_pass) = time.perf_counter(), clock.read()
    for key in order:
        if tracer:
            before_files = scratch_files()
            before_top = set(os.listdir(SCRATCH)) if os.path.isdir(SCRATCH) else set()
            before_probe = tracer.snapshot()
        spark.sparkContext.setJobGroup(f"{key}#{pass_id}", key)
        rec = {"key": key, "pass": pass_id, "ok": True}
        cpu0, jit0 = clock.read()
        c0, c1 = time.perf_counter(), None
        try:
            df = specs[key].fn(spark, data_dir)
            c1, rec["t_built"] = time.perf_counter(), time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failing job is counted, not fatal
            print(f"JOB FAILED {key}#{pass_id}: {type(e).__name__}: {str(e)[:300]}", flush=True)
            rec["ok"] = False
        c2 = time.perf_counter()
        if c1 is None:  # fn itself raised
            c1, rec["t_built"] = c2, time.time()
        cpu1, jit1 = clock.read()
        rec.update(construct_s=c1 - c0, wall_s=c2 - c0, cpu_s=cpu1 - cpu0, jit_s=jit1 - jit0)
        if tracer:
            after_files = scratch_files()
            written = [p for p, v in after_files.items() if before_files.get(p) != v]
            after_top = set(os.listdir(SCRATCH)) if os.path.isdir(SCRATCH) else set()
            calls, load_s, reused = tracer.snapshot()
            rec.update(
                load_calls=calls - before_probe[0],
                load_s=load_s - before_probe[1],
                staging_reused=reused - before_probe[2],
                staging_created=len(after_top - before_top),
                sink_bytes=sum(after_files[p][0] for p in written),
                sink_files=len(written),
            )
        out.append(rec)
    cpu, jit = clock.read()
    return time.perf_counter() - t_pass, cpu - cpu_pass, jit - jit_pass


def storage_state(spark) -> tuple[int, float]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def expected_frame(spec, data_dir: str):
    """DuckDB oracle result on the benchmark input, cached per oracle text."""
    import duckdb
    import pandas as pd

    from hbasemapreduce_spark.catalog import TABLES

    digest = hashlib.sha1(f"{data_dir}\n{spec.oracle}".encode()).hexdigest()[:16]
    path = os.path.join(BENCH_DATA, "expected", f"{spec.name}-{digest}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        pdf = con.execute(spec.oracle).df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return pdf


def check_outputs(spark, specs, jobs, data_dir) -> list[str]:
    """Compare each job's output with its oracle; return the failures."""
    from tests.conftest import assert_frames_match

    failures = []
    for key in jobs:
        spark.sparkContext.setJobGroup(f"{key}#check", key)
        spec = specs[key]
        try:
            if spec.oracle is None:
                raise AssertionError(f"{key} has no oracle_sql to check against")
            df = spec.fn(spark, data_dir)
            assert_frames_match(df.toPandas(), expected_frame(spec, data_dir), key)
        except Exception as e:  # noqa: BLE001 - every mismatch is reported, then counted
            print(f"CHECK FAILED {key}: {type(e).__name__}: {str(e)[:500]}", flush=True)
            failures.append(key)
    return failures


def job_medians(records, key: str) -> list[float]:
    """Each job's median ``key`` over the timed passes."""
    by_job: dict[str, list[float]] = {}
    for r in records:
        if r["pass"] >= FIRST_TIMED:
            by_job.setdefault(r["key"], []).append(r[key])
    return [statistics.median(v) for v in by_job.values()]


def end_to_end(records, passes, cold, setup_cpu_s) -> dict:
    """CPU seconds of the process tree: all of it for set-up and the cold
    pass, without the JIT compiler threads for the warm passes and jobs.
    Job percentiles are taken over the jobs' own medians: pooled samples
    of a few jobs with distinct costs put the median in a gap between two
    jobs, where it jumps."""
    per_job = job_medians(records, "cpu_s")
    return {
        "pass_cpu_s": {"value": statistics.median(cpu for _, cpu, _ in passes), "unit": "s"},
        "job_cpu_s.p50": {"value": statistics.median(per_job), "unit": "s"},
        "job_cpu_s.p90": {
            "value": statistics.quantiles(per_job, n=10, method="inclusive")[8],
            "unit": "s",
        },
        "cold_pass_cpu_s": {"value": cold[1] + cold[2], "unit": "s"},
        "setup_s": {"value": setup_cpu_s, "unit": "s"},
    }


def per_layer(records, passes, storage, stats, tracer, n_cores) -> dict:
    """Per-pass layer counters over the timed passes.  Times and volumes
    are reported as the median over passes; counts, which can differ
    between identical passes, as their min and max."""
    rows: list[dict] = []
    for i, (wall, cpu, jit) in enumerate(passes, start=FIRST_TIMED):
        recs = [r for r in records if r["pass"] == i]
        g = [stats.get(f"{r['key']}#{i}", eventlog.GroupStats()) for r in recs]
        construct = sum(r["construct_s"] for r in recs)
        gap = sum(
            max(0.0, r["wall_s"] - eventlog.union_ms(s.job_spans) / 1e3) for r, s in zip(recs, g)
        )
        eager = sum(
            sum(1 for start, _ in s.job_spans if start < r["t_built"] * 1e3) for r, s in zip(recs, g)
        )
        run_ms = sum(s.run_ms for s in g)
        input_b = sum(s.input_bytes for s in g)
        sink_b = sum(r["sink_bytes"] for r in recs)
        row = {
            "trace.pass_s": wall,
            "trace.pass_cpu_s": cpu,
            "jvm.jit_cpu_s": jit,
            "catalog.load_calls": sum(r["load_calls"] for r in recs),
            "catalog.load_ms": 1e3 * sum(r["load_s"] for r in recs),
            "operators.construct_s": construct,
            "operators.construct_share": construct / wall,
            "operators.eager_jobs": eager,
            "driver.jobs": sum(len(s.job_spans) for s in g),
            "driver.stages": sum(s.stages for s in g),
            "driver.sql_executions": sum(s.sql_executions for s in g),
            "driver.gap_s": gap,
            "exec.tasks": sum(s.tasks for s in g),
            "exec.one_task_stages": sum(s.one_task_stages for s in g),
            "exec.run_ms": run_ms,
            "exec.cpu_ms": sum(s.cpu_ns for s in g) / 1e6,
            "exec.gc_ms": sum(s.gc_ms for s in g),
            "exec.slot_util": run_ms / (wall * 1e3 * n_cores),
            "exec.shuffle_read_mb": sum(s.shuffle_read_bytes for s in g) / 1e6,
            "exec.shuffle_write_mb": sum(s.shuffle_write_bytes for s in g) / 1e6,
            "exec.spill_mb": sum(s.spill_bytes for s in g) / 1e6,
            "exec.input_mb": input_b / 1e6,
            "exec.output_mb": sum(s.output_bytes for s in g) / 1e6,
            "python.total_ms": sum(s.py["py_total_ms"] for s in g),
            "python.boot_ms": sum(s.py["py_boot_ms"] for s in g),
            "python.init_ms": sum(s.py["py_init_ms"] for s in g),
            "python.sent_mb": sum(s.py["py_sent_bytes"] for s in g) / 1e6,
            "python.rows_received": sum(s.py["py_rows_received"] for s in g),
            "sink.written_mb": sink_b / 1e6,
            "sink.files_written": sum(r["sink_files"] for r in recs),
            "sink.write_amp": sink_b / input_b if input_b else 0.0,
            "staging.created": sum(r["staging_created"] for r in recs),
            "staging.reused": sum(r["staging_reused"] for r in recs),
            "storage.persisted_rdds": storage[i - FIRST_TIMED][0],
            "storage.persisted_mb": storage[i - FIRST_TIMED][1],
        }
        for k in eventlog.PLAN_KEYS:
            row[f"plan.{k}"] = sum(s.plan[k] for s in g)
        rows.append(row)

    out = {}
    for name in rows[0]:
        vals = [r[name] for r in rows]
        if name in LAYER_COUNTS:
            out[f"{name}.min"] = {"value": min(vals), "unit": "count"}
            out[f"{name}.max"] = {"value": max(vals), "unit": "count"}
        else:
            out[name] = {"value": statistics.median(vals), "unit": LAYER_UNITS[name.rsplit("_", 1)[-1]]}
    out["staging.created_cold"] = {
        "value": sum(r["staging_created"] for r in records if r["pass"] == 0),
        "unit": "count",
    }
    out["mem.peak_rss_mb"] = {"value": tracer.peak_rss / 1e6, "unit": "MB"}
    return out


LAYER_COUNTS = {
    "catalog.load_calls", "operators.eager_jobs", "driver.jobs", "driver.stages",
    "driver.sql_executions", "exec.tasks", "exec.one_task_stages",
    "python.rows_received", "sink.files_written", "staging.created", "staging.reused",
    "storage.persisted_rdds", *(f"plan.{k}" for k in eventlog.PLAN_KEYS),
}
def _fmt_passes(passes) -> str:
    return " ".join(f"{w:.3f}/{c:.2f}+{j:.2f}" for w, c, j in passes)


LAYER_UNITS = {"s": "s", "ms": "ms", "mb": "MB", "share": "ratio", "amp": "ratio", "util": "ratio"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    a = ap.parse_args()
    trace = bool(a.trace)
    jobs = WORKLOADS[a.workload]["jobs"]
    log_dir = os.path.join(BENCH_DATA, "eventlog", str(os.getpid()))

    from pyspark.sql import SparkSession

    confs = session_confs(trace, log_dir)
    if trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    builder = SparkSession.builder
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tracer = Tracer() if trace else None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        from hbasemapreduce_spark.catalog import configure
        from hbasemapreduce_spark.functions.staging import source_ident

        configure(spark)
        if tracer:
            tracer.install()
        from hbasemapreduce_spark.registry import all_specs

        specs = all_specs()
        removed = reset_staging(a.data, source_ident)
        setup_s = time.time() - a.spawn_time
        setup_cpu_s = tree_cpu_s(os.getpid())

        clock = CpuClock(os.getpid())
        rng = random.Random(a.seed)
        records: list[dict] = []
        cold = run_pass(spark, specs, rng.sample(jobs, len(jobs)), a.data, 0, clock, tracer, records)
        warm = [
            run_pass(spark, specs, rng.sample(jobs, len(jobs)), a.data, i, clock, tracer, records)
            for i in range(1, FIRST_TIMED)
        ]
        passes, storage = [], []
        t_timed = time.perf_counter()
        # start a pass only if it is expected to end inside the window
        while not passes or time.perf_counter() - t_timed + passes[-1][0] <= a.seconds:
            order = rng.sample(jobs, len(jobs))
            pass_id = FIRST_TIMED + len(passes)
            passes.append(run_pass(spark, specs, order, a.data, pass_id, clock, tracer, records))
            if tracer:
                storage.append(storage_state(spark))
        t_check = time.perf_counter()
        failures = check_outputs(spark, specs, jobs, a.data)
        check_s = time.perf_counter() - t_check
    finally:
        if tracer:
            tracer.close()
        spark.stop()

    timed = [r["wall_s"] for r in records if r["pass"] >= FIRST_TIMED]
    raised = sum(not r["ok"] for r in records)
    attempted = len(records) + len(jobs)
    failed = raised + len(failures)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}", flush=True)
    print("session confs: " + json.dumps(confs))
    print(f"staged dirs removed before set-up: {len(removed)}")
    print(f"set-up wall/CPU s: {setup_s:.3f}/{setup_cpu_s:.2f}")
    print(f"passes, wall/CPU+JIT s: cold {_fmt_passes([cold])}  warm-up {_fmt_passes(warm)}"
          f"  timed {_fmt_passes(passes)}  ({len(timed)} job samples)")
    print(f"output check {check_s:.3f} s  failed_frac {failed / attempted:.4f} "
          f"({failed}/{attempted}); check failures: {failures}")
    print("job                             cold wall/CPU s  median wall/CPU s (JIT apart)")
    for key in sorted(jobs):
        first = next(r for r in records if r["key"] == key and r["pass"] == 0)
        rest = [r for r in records if r["key"] == key and r["pass"] >= FIRST_TIMED]
        wall = statistics.median(r["wall_s"] for r in rest)
        cpu = statistics.median(r["cpu_s"] for r in rest)
        cold_cpu = first["cpu_s"] + first["jit_s"]
        print(f"  {key:30s} {first['wall_s']:7.3f} {cold_cpu:7.2f}  {wall:9.3f} {cpu:7.2f}")

    if trace:
        stats = eventlog.summarize(eventlog.read_events(log_dir))
        metrics = per_layer(records, passes, storage, stats, tracer, cores())
        shutil.rmtree(log_dir, ignore_errors=True)
    else:
        metrics = end_to_end(records, passes, cold, setup_cpu_s)
    for name, m in metrics.items():
        print(f"  {name:32s} {m['value']:.6g} {m['unit']}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
