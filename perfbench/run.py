"""betl_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload kimball_etl --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (``betl_spark/`` must be there).
Everything the run writes goes under ``.perfbench/`` in that directory:
the generated inputs and Spark scratch space (deleted at the end), and
the result and span files (kept, in ``.perfbench/results/``).

A run:

1. sets up five times: start the SparkSession and generate the seeded
   inputs (``datagen.py``). The first start launches the JVM; the others
   stop and restart the session in it. ``setup_s`` is the median.
2. computes every query's expected result with DuckDB (``oracle.py``).
3. runs passes over the workload's queries (``workloads.py``), one
   query at a time on ``local[4]``, each to the ``noop`` sink. In the
   first, cold, pass each output is then collected, outside the timed
   region, and checked against the oracle; a mismatch, a 0-row result
   or an exception fails. One unmeasured warm-up pass follows: the JIT
   is still compiling through the first pass after the cold one, which
   runs 10-20% slower than the rest. Measured warm passes then run
   until ``--seconds`` have gone by since the first of them began, at
   least three. After each query the run collects Python garbage and
   records the persisted RDDs and cached plans still registered;
   between passes it drops them and collects JVM garbage too, so every
   pass does the same work. Each pass also records the machine's busy
   and stolen CPU seconds, which show whether a slow pass ran on a
   contended host.
4. stops the session and the JVM and waits for every process it started.

With ``--trace 1`` the warm passes run untraced and traced
(``spans.py``) in the order U T T U U T ..., at least two of each, so a
steady drift in pass time does not show up as tracing overhead; the
traced ones also read job and stage metrics from Spark's status store,
and a sampler thread records the peak memory of the process tree
(untraced runs leave it off, so it takes no time from the driver). The
run reports the per-layer metrics (medians over traced passes) and the
tracing overhead.

The last line of standard output is the result: ``correct``,
``attempted`` and ``failed`` count query executions; ``metrics`` maps
each metric name to its value and unit. The line before it is the
run's provenance. ``compare.py`` compares two saved results.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 5
WARMUP = 1
MIN_WARM = 3
CPUS = "4"
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--base", default="sf0.01", choices=("sf0.01", "sf0.001"),
                   help="committed base dataset the inputs derive from")
    p.add_argument("--corrupt", action="store_true",
                   help="alter the first query's output before the check "
                        "(self-test: the run must then fail)")
    return p.parse_args(argv)


# -- process tree --------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class PeakRss:
    """Samples the summed RSS of this process and its descendants (the
    JVM and the Python workers) from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _rss(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- environment ---------------------------------------------------------
def source_digest(root: str) -> str:
    """Digest of the engine sources; stands in for the commit, which a
    checkout without git does not record."""
    h = hashlib.sha1()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(root, "betl_spark"))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def confine_tempdirs(work: str) -> None:
    """Put default temporary files inside ``work``: Python's tempfile,
    Spark and the JVM follow TMPDIR, SPARK_LOCAL_DIRS and ``spark_conf``.
    A directory the engine places explicitly is left where the engine
    puts it (its streaming helper keeps checkpoints on /dev/shm and
    removes them itself), so the benchmark measures the engine as
    shipped."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # PerfDisableSharedMem: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }


# -- Spark status store --------------------------------------------------
class SparkStats:
    """Job, stage and cache figures read from the driver's status store
    and status tracker over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc
        self.store = self.jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0
        self.no_status = gw.jvm.java.util.ArrayList()

    def next_job_id(self) -> int:
        return self.jsc.sc().dagScheduler().nextJobId()

    def persisted_rdds(self) -> int:
        return self.jsc.getPersistentRDDs().size()

    def cached_plans(self) -> int:
        return self.spark._jsparkSession.sharedState().cacheManager().cachedData().size()

    def collect(self, job0: int, job1: int, t0: float, t1: float) -> dict:
        """Totals over jobs [job0, job1), which ran inside wall-clock
        window [t0, t1] (epoch seconds)."""
        out = dict.fromkeys((
            "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "failed_tasks", "task_skew"), 0)
        out["jobs"] = job1 - job0
        intervals, stage_ids = [], set()
        for j in range(job0, job1):
            job = self.store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else t0
            end = done.get().getTime() / 1000 if done.isDefined() else t1
            intervals.append((max(start, t0), min(end, t1)))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, self.no_status, True, self.quantiles)
            for a in (attempts.apply(i) for i in range(attempts.size())):
                ran = a.numCompleteTasks() + a.numFailedTasks()
                if not ran:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += ran
                out["failed_tasks"] += a.numFailedTasks()
                out["executor_run_s"] += a.executorRunTime() / 1e3
                out["executor_cpu_s"] += a.executorCpuTime() / 1e9
                out["gc_s"] += a.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += a.shuffleReadBytes()
                out["shuffle_write_bytes"] += a.shuffleWriteBytes()
                out["spill_bytes"] += a.diskBytesSpilled()
                out["input_bytes"] += a.inputBytes()
                out["output_bytes"] += a.outputBytes()
                dist = a.taskMetricsDistributions()
                if ran > 1 and dist.isDefined():
                    q = dist.get().executorRunTime()
                    median, top = q.apply(0), q.apply(1)
                    if median > 0:
                        out["task_skew"] = max(out["task_skew"], top / median)
        out["job_s"] = _union_length(intervals)
        return out


def host_cpu() -> tuple[float, float]:
    """Busy and stolen CPU seconds of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _wait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- the run -------------------------------------------------------------
class Run:
    def __init__(self, args, root: str):
        self.args, self.root = args, root
        self.queries = WORKLOADS[args.workload]["queries"]
        self.work = os.path.join(root, ".perfbench", "work")
        self.results = os.path.join(root, ".perfbench", "results")
        self.data = os.path.join(self.work, "data")
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # set-up ---------------------------------------------------------------
    def setup(self) -> None:
        import datagen
        from betl_spark.session import build_spark

        base = os.path.join(HERE, "data", self.args.base)
        self.setup_s, self.session_s = [], []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = build_spark("betl_spark_perfbench", extra_conf=spark_conf(self.work))
            t1 = time.perf_counter()
            shutil.rmtree(self.data, ignore_errors=True)
            datagen.generate(base, self.data, self.args.seed)
            self.setup_s.append(time.perf_counter() - t0)
            self.session_s.append(t1 - t0)
        self.stats = SparkStats(self.spark)

    # one query -------------------------------------------------------------
    def run_query(self, name: str, tracer=None, stats=False, collect=False) -> dict:
        """Build the query and run it to the noop sink; that is the timed
        region. With ``collect`` the output is then collected, untimed,
        into ``rec["rows"]``."""
        from betl_spark.contract import QUERIES

        rec = {"query": name, "ok": True}
        job0 = self.stats.next_job_id() if stats else None
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            span = tracer and tracer.open("contract.build", "contract")
            try:
                df = QUERIES[name](self.spark, self.data)
            finally:
                if span:
                    tracer.close(span)
            t1 = time.perf_counter()
            job_b = self.stats.next_job_id() if stats else None
            span = tracer and tracer.open("contract.action", "contract")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                if span:
                    tracer.close(span)
            t2 = time.perf_counter()
            if collect:
                rec["rows"] = [tuple(r) for r in df.collect()]
                rec["cols"] = df.columns
        except Exception as e:  # a failing query is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            rec["traceback"] = traceback.format_exc()[-4000:]
            return rec
        rec.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
        if stats:
            job1 = self.stats.next_job_id()
            spark = self.stats.collect(job0, job1, w0, w0 + (t2 - t0))
            spark["build_jobs"], spark["action_jobs"] = job_b - job0, job1 - job_b
            rec["driver_only_s"] = rec["wall_s"] - spark.pop("job_s")
            rec["spark"] = spark
        return rec

    def hygiene(self, rec: dict) -> None:
        gc.collect()
        rec["persisted_rdds"] = self.stats.persisted_rdds()
        rec["cached_plans"] = self.stats.cached_plans()

    def reset(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.stats.jsc.getPersistentRDDs().values()):
            rdd.unpersist()
        gc.collect()
        self.spark._jvm.System.gc()

    # passes ----------------------------------------------------------------
    def run_pass(self, kind: str, tracer=None, oracle=None) -> dict:
        """One pass over the workload. With an ``oracle`` each output is
        collected and checked after its query's timed region."""
        from betl_spark.streaming import events

        traced = tracer is not None
        if traced:
            tracer.install()
            first_span = len(tracer.spans)
        recs = []
        start = time.perf_counter()
        cpu0 = host_cpu()
        try:
            for i, name in enumerate(self.queries):
                if traced:
                    tracer.query = name
                before = events.LAST_RECENT_PROGRESS
                rec = self.run_query(name, tracer, stats=traced, collect=oracle is not None)
                if traced and events.LAST_RECENT_PROGRESS is not before:
                    rec["stream"] = _stream_figures(events.LAST_RECENT_PROGRESS)
                if oracle is not None and rec["ok"]:
                    rows = rec.pop("rows")
                    if self.args.corrupt and i == 0 and rows:
                        rows[0] = ("corrupted",) + rows[0][1:]
                    why = oracle.check(name, rec.pop("cols"), rows)
                    if why is not None:
                        rec.update(ok=False, error=why)
                self.attempted += 1
                if not rec["ok"]:
                    self.failed += 1
                    self.errors.append(f"{name}: {rec['error']}")
                self.hygiene(rec)
                recs.append(rec)
        finally:
            if traced:
                tracer.uninstall()
                tracer.query = None
        p = {"kind": kind, "traced": traced, "queries": recs,
             "wall_s": sum(r.get("wall_s", 0.0) for r in recs),
             "persisted_rdds_left": recs[-1]["persisted_rdds"],
             "cached_plans_left": recs[-1]["cached_plans"]}
        cpu1 = host_cpu()
        p["cpu_s"], p["steal_s"] = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        if traced:
            p["spans"] = (first_span, len(tracer.spans))
        self.reset()
        p["elapsed_s"] = time.perf_counter() - start
        return p

    def passes(self, oracle, tracer) -> list[dict]:
        """The cold pass (outputs checked), ``WARMUP`` unmeasured passes,
        then warm passes until ``--seconds`` have gone by since the first
        began, at least ``MIN_WARM``; with a tracer they run untraced and
        traced in U T T U order, equally many."""
        out = [self.run_pass("cold", oracle=oracle)]
        out += [self.run_pass("warmup") for _ in range(WARMUP)]
        plan = [None, tracer, tracer, None] if tracer else [None]
        start = time.perf_counter()
        i = 0
        while (i < MIN_WARM or time.perf_counter() - start < self.args.seconds
               or (tracer and i % 2)):
            out.append(self.run_pass("warm", plan[i % len(plan)]))
            i += 1
        return out

    # teardown --------------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and the JVM, then wait for every child process."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 15
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
            time.sleep(0.1)
        for k in kids:
            try:
                os.kill(k, 9)
            except OSError:
                pass


def _stream_figures(progress) -> dict:
    batches = [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in progress]
    last_ops = batches[-1].get("stateOperators", []) if batches else []
    return {
        "batches": len(batches),
        "batch_ms": [b.get("durationMs", {}).get("triggerExecution", 0) for b in batches],
        "state_rows": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state_commit_ms": sum(op.get("commitTimeMs", 0)
                               for b in batches for op in b.get("stateOperators", [])),
    }


# -- metrics ---------------------------------------------------------------
def end_to_end(run: Run, passes: list[dict]) -> dict:
    """``query_p50_s`` is the median query time pooled over warm passes."""
    warm = [p for p in passes if p["kind"] == "warm"]
    return {
        "setup_s": (statistics.median(run.setup_s), "s"),
        "cold_run_s": (passes[0]["wall_s"], "s"),
        "run_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "query_p50_s": (statistics.median(
            q["wall_s"] for p in warm for q in p["queries"] if q["ok"]), "s"),
    }


def per_layer(run: Run, passes: list[dict], tracer, peak_rss: int) -> dict:
    from spans import layer_totals

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def qsum(p, f):
        return sum(f(r) for r in p["queries"] if r["ok"])

    def spark_sum(key):
        return lambda p: qsum(p, lambda r: r["spark"][key])

    def stream(p, key):
        return [r["stream"][key] for r in p["queries"] if r.get("stream")]

    totals = [layer_totals(tracer.spans[slice(*p["spans"])]) for p in traced]
    for t, p in zip(totals, traced):
        p["layers"] = t

    def layer(name, key):
        return lambda p: p["layers"][name][key] if name in p["layers"] else 0

    def batch_p50(p):
        ms = [m for v in stream(p, "batch_ms") for m in v]
        return statistics.median(ms) if ms else 0

    m = {
        "process.peak_rss_mb": (peak_rss / 2**20, "MB"),
        "session.start_s": (statistics.median(run.session_s), "s"),
        "session.launch_s": (run.session_s[0], "s"),
        "contract.build_s": (med(lambda p: qsum(p, lambda r: r["build_s"])), "s"),
        "contract.action_s": (med(lambda p: qsum(p, lambda r: r["action_s"])), "s"),
        "contract.build_jobs": (med(spark_sum("build_jobs")), "count"),
        "contract.action_jobs": (med(spark_sum("action_jobs")), "count"),
        "contract.driver_only_s": (med(lambda p: qsum(p, lambda r: r["driver_only_s"])), "s"),
    }
    for name in ("dataflow", "defaults", "operators", "pipeline"):
        m[f"{name}.calls"] = (med(layer(name, "calls")), "count")
        m[f"{name}.self_s"] = (med(layer(name, "self_s")), "s")
        if name != "pipeline":
            m[f"{name}.jobs"] = (med(layer(name, "jobs")), "count")
    m["operators.materializations"] = (med(
        lambda p: layer("operators", "materializations")(p)
        / max(1, layer("operators", "calls")(p))), "1/call")
    m["io.read_calls"] = (med(layer("io", "read_calls")), "count")
    m["io.write_calls"] = (med(layer("io", "write_calls")), "count")
    m["io.write_s"] = (med(layer("io", "write_s")), "s")
    m["streaming.self_s"] = (med(layer("streaming", "self_s")), "s")
    m["streaming.batches"] = (med(lambda p: sum(stream(p, "batches"))), "count")
    m["streaming.batch_ms_p50"] = (med(batch_p50), "ms")
    m["streaming.state_rows"] = (med(lambda p: sum(stream(p, "state_rows"))), "rows")
    m["streaming.state_commit_ms"] = (med(lambda p: sum(stream(p, "state_commit_ms"))), "ms")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                      ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
                      ("failed_tasks", "count")):
        m[f"spark.{key}"] = (med(spark_sum(key)), unit)
    m["io.bytes_written"] = (med(spark_sum("output_bytes")), "bytes")
    read = m["spark.input_bytes"][0]
    m["io.write_amplification"] = (m["io.bytes_written"][0] / read if read else 0.0, "ratio")
    m["spark.task_skew"] = (med(lambda p: max(
        [r["spark"]["task_skew"] for r in p["queries"] if r["ok"]] or [0])), "ratio")
    m["cache.persisted_rdds_left"] = (med(lambda p: p["persisted_rdds_left"]), "count")
    m["cache.cached_plans_left"] = (med(lambda p: p["cached_plans_left"]), "count")
    traced_run = med(lambda p: p["wall_s"])
    m["trace.run_s"] = (traced_run, "s")
    m["trace.overhead_s"] = (traced_run - statistics.median(p["wall_s"] for p in untraced), "s")
    return m


def provenance(args, root: str) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "base": args.base,
        "cores": os.cpu_count(), "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": platform.python_version(), "source_digest": source_digest(root),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "betl_spark", "__init__.py")):
        print(f"error: no betl_spark package in {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(root, ".perfbench", "results"), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confine_tempdirs(work)

    phases, mark = {}, time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name], mark = now - mark, now

    from betl_spark.contract import ORACLES
    from oracle import Oracle

    phase("import")
    run = Run(args, root)
    rss = PeakRss() if args.trace else contextlib.nullcontext()
    try:
        with rss:
            run.setup()
            phase("setup")
            from datagen import TABLES

            oracle = Oracle(run.data, TABLES, {q: ORACLES[q] for q in run.queries})
            phase("oracle")
            tracer = None
            if args.trace:
                from spans import Tracer

                tracer = Tracer(run.stats.next_job_id, type(run.spark.range(1)))
            passes = run.passes(oracle, tracer)
            phase("passes")
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        phase("stop")

    metrics = per_layer(run, passes, tracer, rss.peak) if args.trace else end_to_end(run, passes)
    prov = provenance(args, root)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(run.results, tag + ".json"), "w") as f:
        json.dump({"provenance": prov, "metrics": metrics, "errors": run.errors,
                   "setup_s": run.setup_s, "phases_s": phases,
                   "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes]},
                  f, indent=1, default=str)
    if tracer:
        tracer.dump(os.path.join(run.results, tag + ".spans.jsonl"))
    for e in run.errors:
        print(f"failed: {e}", file=sys.stderr)
    print(json.dumps({"provenance": prov}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
