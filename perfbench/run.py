"""The repository's benchmark: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed (``fixtures.py``), starts
the engine the way a user does (``session.get_spark`` and the query
registry), runs one cold pass whose results are checked against each
query's DuckDB oracle, then discarded warm-up passes and the measured
warm passes, for ``--seconds`` seconds and at least four. Every
query is run as ``QUERIES[name](spark, dir)`` followed by a noop-sink
write; after each query what it left cached is recorded and released,
outside the timed region, so every pass starts from the same state.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer metrics: spans around each layer call, job groups per span and
Spark's event log, with passes alternating tracing on and off to measure
the tracing overhead. The last line of stdout is one JSON object; the
exit code is non-zero when any query failed or missed its oracle.

On every way out, failures included, the run ends the gateway JVM and
waits for every process it started, at any depth, before it exits; its
scratch files stay under ``perfbench/.out``. See README.md for the
workloads and the metric map.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

import fixtures
import stats
from spans import Tracer, layer_catalogue, pass_layers, read_eventlog
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
TMP = os.path.join(OUT, "tmp")

# Passes keep speeding up for many passes after the cold one (JIT,
# codegen); a fixed number of discarded warm-up passes and a floor on the
# measured passes keep every run's median at the same point of that trend.
WARMUP_PASSES = 6
MIN_WARM_PASSES = 4
QUIET = {"spark.ui.showConsoleProgress": "false"}
# Every scratch file of the engine (the JVM's temp files, Spark's block
# and shuffle files, Derby) goes under the benchmark's own output tree.
LOCAL = {
    "spark.local.dir": TMP,
    "spark.driver.extraJavaOptions": f"-Dderby.system.home={TMP}/derby -Djava.io.tmpdir={TMP}",
}
PR_SET_CHILD_SUBREAPER = 36

# (name, unit, better) of every end-to-end metric an untraced run prints.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("cold_pass_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("query_geomean_s", "s", "lower"),
    ("heap_live_mb", "MB", "lower"),
    ("ok_frac", "ratio", "higher"),
]


class Session:
    """The engine as a user starts it, with the set-up split by layer.

    ``setup_s`` runs from the first import of the program until a first
    trivial job has finished; the interpreter's own start and the
    benchmark's imports, which import nothing of the program, are before it.
    """

    def __init__(self, extra_conf: dict[str, str], tracer: Tracer | None = None):
        t0 = time.perf_counter()
        if REPO not in sys.path:
            sys.path.insert(0, REPO)
        if tracer is not None:
            tracer.install()
        from amorphous_mapreduce_spark import queries_registry
        from amorphous_mapreduce_spark.session import get_spark

        os.makedirs(TMP, exist_ok=True)
        t1 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf={**QUIET, **LOCAL, **extra_conf})
        t2 = time.perf_counter()
        self.spark.range(1).count()
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.registry = queries_registry
        self.import_s = t1 - t0
        self.start_s = t2 - t1
        self.setup_s = t3 - t0

    def cache_left(self) -> tuple[int, float]:
        """Persistent RDDs and their stored MB that a query left behind."""
        jsc = self.spark.sparkContext._jsc
        infos = jsc.sc().getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return len(jsc.getPersistentRDDs()), mb

    def release(self) -> None:
        """Drop everything cached: the CacheManager's entries, then every
        persistent RDD, which also covers localCheckpoint blocks that
        ``clearCache`` does not reach."""
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def heap_live_mb(self) -> float:
        """Heap in use after full GCs, once a further second of GCs frees
        nothing more. Python's collector runs first so py4j drops the JVM
        objects Python no longer holds; the pauses let Spark's
        ContextCleaner release the blocks and accumulators that a GC found
        unreachable, which a later GC then frees (up to a second or more
        after the first GC here)."""
        gc.collect()
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used: list[float] = []
        deadline = time.monotonic() + 6
        while time.monotonic() < deadline:
            mx.gc()
            used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
            if len(used) > 4 and min(used[-4:]) >= 0.99 * min(used[:-4]):
                break
            time.sleep(0.25)
        return min(used)


class Runner:
    """Runs a workload's queries, counts attempts and failures, and
    releases what each query left cached."""

    def __init__(self, workload, data_dir: str, session: Session, tracer: Tracer | None):
        self.w = workload
        self.dir = data_dir
        self.s = session
        self.tracer = tracer or Tracer()
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.cache: list[tuple[int, str, int, float]] = []  # pass, query, rdds, MB left

    def run_query(self, pass_no: int, name: str, collect: bool):
        """Build and run one query; return (latency_s, pandas result or None).
        The release afterwards is outside the returned latency."""
        tr = self.tracer
        tr.pass_no, tr.query = pass_no, name
        self.attempted += 1
        result = None
        t0 = time.perf_counter()
        try:
            with tr.span("query", name):
                with tr.span("build", name):
                    df = self.s.registry.QUERIES[name](self.s.spark, self.dir)
                if tr.on:
                    with tr.span("plan", name):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("action", name):
                    if collect:
                        result = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                if name in self.w.exports:
                    self.export(name, df)
        except Exception:  # a failing query is named and counted; the run goes on
            self.failed += 1
            self.failures.setdefault(name, traceback.format_exc(limit=3).strip().splitlines()[-1])
            print(f"FAILED {name} (pass {pass_no}):\n{traceback.format_exc()}", file=sys.stderr)
            latency = None
        else:
            latency = time.perf_counter() - t0
        rdds, mb = self.s.cache_left()
        self.cache.append((pass_no, name, rdds, mb))
        self.s.release()
        return latency, result

    def export(self, name: str, df) -> None:
        from amorphous_mapreduce_spark.plans import plan_to_json

        with open(os.path.join(OUT, f"{name}-plan.json"), "w") as f:
            f.write(plan_to_json(df, plan="optimizedPlan"))

    def run_pass(self, pass_no: int, collect: bool = False):
        latencies, results = {}, {}
        for q in self.w.queries:
            latencies[q], results[q] = self.run_query(pass_no, q, collect)
        return latencies, results

    def check_oracles(self, results: dict) -> None:
        """Compare each cold-pass result with its DuckDB oracle, using the
        comparison helpers of tools/check_oracles.py."""
        import duckdb

        tools = os.path.join(REPO, "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        import check_oracles as co

        con = duckdb.connect()
        for t in co.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        for name, sdf in results.items():
            if sdf is None:
                continue
            try:
                odf = con.sql(self.s.registry.ORACLES[name]).df()
                status = oracle_status(co, sdf, odf)
            except Exception as ex:  # the oracle itself failed: count it, name it
                status = f"ORACLE ERROR {type(ex).__name__}: {ex}"
            if status != "OK":
                self.failed += 1
                self.failures[name] = status
                print(f"ORACLE MISMATCH {name}: {status}", file=sys.stderr)
        con.close()


def oracle_status(co, sdf, odf) -> str:
    """The comparison of tools/check_oracles.py: row count, column names,
    dtype kinds, then exact values after canonical ordering."""
    import pandas as pd

    if len(sdf) != len(odf):
        return f"ROWCOUNT {len(sdf)} vs {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"SCHEMA {sorted(sdf.columns)} vs {sorted(odf.columns)}"
    bad = co.dtype_mismatches(
        sdf.reindex(sorted(sdf.columns), axis=1), odf.reindex(sorted(odf.columns), axis=1)
    )
    if bad:
        return "DTYPE " + "; ".join(bad)
    try:
        pd.testing.assert_frame_equal(co.canon(sdf), co.canon(odf), check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return "VALUES " + str(ex).split("\n")[0]
    return "OK"


def warm_passes(runner: Runner, seconds: float, min_passes: int, on_schedule=None, first: int = 1):
    """Warm passes, numbered from ``first``, until ``seconds`` of wall time
    are used, never stopping short of ``min_passes``. A pass starts only if
    one more median pass still fits. Returns [(pass_no, traced, pass_s,
    latencies)]."""
    passes = []
    t0 = time.perf_counter()
    n = 0
    while True:
        elapsed = time.perf_counter() - t0
        if n >= min_passes:
            typical = stats.median([p[2] for p in passes])
            if elapsed + typical > seconds:
                break
        traced = on_schedule(n) if on_schedule else False
        runner.tracer.on = traced
        lat, _ = runner.run_pass(first + n)
        runner.tracer.on = False
        ok = [v for v in lat.values() if v is not None]
        passes.append((first + n, traced, sum(ok), lat))
        n += 1
    return passes


def sample_counts(passes: list, lat_by_q: dict[str, list[float]]) -> dict:
    """How many samples each reported median rests on."""
    traced = sum(1 for p in passes if p[1])
    return {
        "setup": 1,
        "cold_pass": 1,
        "warmup_passes": WARMUP_PASSES,
        "warm_passes": len(passes) - traced,
        "traced_passes": traced,
        "per_query": min(len(v) for v in lat_by_q.values()),
    }


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def adopt_orphans() -> None:
    """Make this process the reaper of every process it starts, at any
    depth: Python workers the JVM forks and that outlive it are re-parented
    here, not to init, so ``reap_children`` can wait for them too."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: only direct children are reaped
        pass


def stop_engine(timeout: float = 60.0) -> None:
    """Stop the SparkContext, if any, and end its JVM: pyspark's stop()
    keeps the gateway JVM alive, which exits only once its stdin closes."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is None:
        return
    sc_cls = pyspark.SparkContext
    if sc_cls._active_spark_context is not None:
        try:
            sc_cls._active_spark_context.stop()
        except Exception:  # a broken context must not keep the JVM alive
            traceback.print_exc()
    gateway = sc_cls._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the JVM is ended below
        pass
    sc_cls._gateway = sc_cls._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def children() -> list[int]:
    """PIDs of the processes whose parent is this one."""
    me = str(os.getpid())
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[1] == me:
                pids.append(int(d))
    return pids


def reap_children(timeout: float = 30.0) -> None:
    """Wait until every process this run started has ended; after
    ``timeout`` seconds, kill the ones still running."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    adopt_orphans()
    # SIGTERM unwinds like an exception, so the cleanup below still runs.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    os.environ["TMPDIR"] = TMP
    try:
        return run(args)
    finally:
        stop_engine()
        reap_children()
        shutil.rmtree(TMP, ignore_errors=True)


def run(args) -> int:
    w = WORKLOADS[args.workload]
    data_dir, table_rows = fixtures.ensure(args.seed, w.scale)
    trace = bool(args.trace)
    tracer = Tracer() if trace else None
    conf = {}
    if trace:
        evdir = os.path.join(OUT, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    session = Session(conf, tracer)
    if tracer is not None:
        tracer.sc = session.spark.sparkContext
    runner = Runner(w, data_dir, session, tracer)

    # Cold pass: the first pass at the target scale, results collected for
    # the oracle check, which runs after the timed pass.
    per_query: dict = {}  # traced pass -> query -> per-layer metrics
    cold_lat, cold_results = runner.run_pass(0, collect=True)
    cold_pass_s = sum(v for v in cold_lat.values() if v is not None)
    runner.check_oracles(cold_results)
    del cold_results

    warmup = warm_passes(runner, 0, WARMUP_PASSES)
    passes = warm_passes(
        runner,
        args.seconds,
        MIN_WARM_PASSES,
        stats.abba_on if trace else None,
        first=WARMUP_PASSES + 1,
    )
    heap = session.heap_live_mb()

    lat_by_q: dict[str, list[float]] = {q: [] for q in w.queries}
    for _, traced, _, lat in passes:
        if not traced:
            for q, v in lat.items():
                if v is not None:
                    lat_by_q[q].append(v)
    plain = [p[2] for p in passes if not p[1]]
    rows = stats.rows_per_pass(w.reads, table_rows)

    print("samples " + json.dumps(sample_counts(passes, lat_by_q)))
    print("per-query median s " + json.dumps(
        {q: round(stats.median(v), 4) for q, v in lat_by_q.items() if v}))
    ok = not runner.failures
    if not ok:
        print("failed queries " + json.dumps(runner.failures))

    if not trace:
        pass_s = stats.median(plain)
        values = {
            "setup_s": session.setup_s,
            "cold_pass_s": cold_pass_s,
            "pass_s": pass_s,
            "rows_per_s": stats.rows_per_s(rows, pass_s),
            "query_geomean_s": stats.query_geomean({q: v for q, v in lat_by_q.items() if v}),
            "heap_live_mb": heap,
            "ok_frac": 1 - runner.failed / runner.attempted,
        }
        session.spark.stop()
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}
    else:
        app_id = session.spark.sparkContext.applicationId
        cores = session.spark.sparkContext.defaultParallelism
        session.spark.stop()
        evpath = os.path.join(OUT, "eventlog", app_id)
        jobs, stages = read_eventlog(evpath)
        os.remove(evpath)
        per_query = pass_layers(tracer, jobs, stages)
        metrics = layer_metrics(runner, session, passes, per_query, cores)
        check_reads(w, tracer, passes)
        tracer.dump(os.path.join(OUT, f"spans-{w.name}-seed{args.seed}.json"))
    with open(os.path.join(OUT, f"result-{w.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(
            {
                "setup_s": session.setup_s,
                "cold_pass": cold_lat,
                "warmup_s": [p[2] for p in warmup],
                "passes": [{"pass": n, "traced": t, "pass_s": s, "queries": q} for n, t, s, q in passes],
                "cache_left": runner.cache,
                "layers_per_query": per_query,
                "failures": runner.failures,
                "metrics": metrics,
            },
            f,
            indent=1,
        )
    print(result_line(ok, runner.attempted, runner.failed, metrics))
    return 0 if ok else 1


def layer_metrics(runner: Runner, session: Session, passes, per_pass: dict, cores: int) -> dict:
    """Per-layer metrics: each is summed over the queries of a traced pass,
    and the median over traced passes is reported."""
    traced = [p for p in passes if p[1]]
    plain = [p for p in passes if not p[1]]
    sums: dict[str, list[float]] = {}
    for pass_no, _, _, _ in traced:
        queries = per_pass[pass_no]
        total: dict[str, float] = {}
        for m in queries.values():
            for k, v in m.items():
                if k == "spark.task_skew":
                    total[k] = max(total.get(k, 1.0), v)
                else:
                    total[k] = total.get(k, 0) + v
        total["spark.busy_frac"] = total["spark.task_run_s"] / (cores * total.pop("query_s"))
        rdds = [c for c in runner.cache if c[0] == pass_no]
        total["cache.rdds_left"] = sum(c[2] for c in rdds)
        total["cache.mb_left"] = sum(c[3] for c in rdds)
        for k, v in total.items():
            sums.setdefault(k, []).append(v)
    out = {k: stats.median(v) for k, v in sums.items()}
    out["registry.import_s"] = session.import_s
    out["session.start_s"] = session.start_s
    traced_s = stats.median([p[2] for p in traced])
    out["trace.pass_s"] = traced_s
    out["trace.overhead_ratio"] = traced_s / stats.median([p[2] for p in plain])
    out["trace.passes"] = len(traced)
    return {n: {"value": out[n], "unit": u} for n, u, _ in layer_catalogue()}


def check_reads(w, tracer: Tracer, passes) -> None:
    """Note on stderr when the tables a traced pass loaded differ from the
    workload's declared reads, the numerator of ``rows_per_s``."""
    first = min(p[0] for p in passes if p[1])
    seen: dict[str, list[str]] = {q: [] for q in w.queries}
    for s in tracer.spans:
        if s.kind == "sources" and s.pass_no == first:
            seen[s.query].append(s.name)
    if any(sorted(seen[q]) != sorted(t) for q, t in w.reads.items()):
        print(f"note: table loads {seen} differ from the declared reads", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
