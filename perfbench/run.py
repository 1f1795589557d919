"""End-to-end benchmark of the engine's driver queries.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 12 --trace 0

Run from the repository root. One run:

1. generates the seeded input tables (``datagen``) at ``SF`` into a private
   run directory under ``.perfbench_run/`` — which also holds the run's
   TMPDIR, ``spark.local.dir``, warehouse, checkpoint and JVM temp dirs —
   and deletes the directory when the run ends;
2. set-up: starts a ``local[N]`` session with the bench.py settings and
   runs every query of the workload ``WARM_PASSES`` times;
3. runs a fixed number of passes over the workload (closed loop, one query
   in flight, seeded order), timing each query from plan build to the last
   collected row;
4. outside every timed region, compares each timed result with its
   ``oracle_sql()`` result on DuckDB in the canonical form of
   ``scripts/check_oracle.py``; a mismatch or an exception is a failure.

Times are CPU seconds of the whole process tree (driver, JVM, Python
workers; ``procmem``): on a shared VM the host steals a varying share of
every core, which moves wall-clock times by 20-100% from run to run; CPU
time does not count stolen time. Timed passes leave out the CPU of the
JVM's JIT compiler threads, which keep compiling at a varying rate long
after set-up. ``--trace 0`` prints the end-to-end metrics:

* ``setup_s``: CPU seconds of set-up (session start and warm passes), JIT
  compilation included;
* ``pass_cpu_s``: CPU seconds of one pass, summed over the workload's
  queries from each query's median over the timed passes;
* ``ok_frac``: timed results that match their oracle, of those attempted;
* ``rss_mb``: RSS of the driver and the Python workers after the last
  pass (the JVM's RSS follows heap-growth ergonomics and does not repeat;
  its retained heap is in the per-layer table).

``--trace 1`` runs the same passes with an event log, a streaming listener
and Catalyst phase timing on, then times direct calls into each library
layer (``layers.py``), and prints the per-layer metrics, wall-clock times
included. The last stdout line is one JSON object.
"""
from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procmem  # noqa: E402
from workloads import MIN_PASSES, PASS_S, WORKLOADS, query_names  # noqa: E402

SF = 0.01
CPUS = min(4, os.cpu_count() or 1)
WARM_PASSES = 2


def spark_session(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        # the bench.py profile (see its comments), with a 4g heap
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.sql.files.openCostInBytes", "64k")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # run isolation: every file the session writes stays in run_dir
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData "
                # JIT threads live as long as the JVM, so procmem can keep
                # their CPU out of the measured time
                "-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={run_dir}/tmp")
        .config("spark.local.dir", f"{run_dir}/local")
        .config("spark.sql.warehouse.dir", f"{run_dir}/warehouse")
        .config("spark.sql.streaming.checkpointLocation", f"{run_dir}/ckpt")
    )
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{run_dir}/eventlog")
             .config("spark.eventLog.compress", "true")
             .config("spark.eventLog.compression.codec", "zstd"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker it forked have exited."""
    from pyspark import SparkContext

    pid = procmem.jvm_pid(spark)
    pids = [pid] + procmem.descendants(pid)
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        proc.wait(60)
    procmem.wait_gone(pids)


class Runner:
    """Executes passes over one workload and keeps every result."""

    def __init__(self, spark, data_dir, names, seed, tracer=None):
        import __spark_entry__ as entry

        self.spark, self.data_dir, self.names = spark, data_dir, names
        self.fns = entry.queries()
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.results = []  # (name, columns, rows) or (name, None, error)
        self.passes = []  # [(pass_s, pass_cpu_s, [(name, query_s, query_cpu_s)])]

    def one_pass(self, keep: bool) -> None:
        order = list(self.names)
        self.rng.shuffle(order)
        if keep and self.tracer:
            self.tracer.next_pass()
        per = []
        t_pass, c_pass = time.perf_counter(), procmem.tree_cpu()
        for name in order:
            span = self.tracer.begin(name) if self.tracer else None
            c0 = procmem.cpu_s()
            t0 = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.data_dir)
                t_built = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                res = (name, df.columns, rows)
            except Exception as e:  # counted as a failed operation
                df, t_built = None, time.perf_counter()
                res = (name, None, f"{type(e).__name__}: {e}")
            dt = time.perf_counter() - t0
            dc = procmem.cpu_s() - c0
            if span is not None:
                self.tracer.end(span, df, t_built - t0)
            per.append((name, dt, dc))
            if keep:
                self.results.append(res)
            del df
            gc.collect()
        c_end = procmem.tree_cpu()
        p = (time.perf_counter() - t_pass, c_end[0] - c_pass[0], per)
        print(f"# pass {p[0]:.2f}s {p[1]:.2f}cpu-s ({c_end[1] - c_pass[1]:.2f} "
              "JIT): " + " ".join(
            f"{n.split('_')[0]}={dt:.2f}/{dc:.2f}" for n, dt, dc in per),
            file=sys.stderr)
        if keep:
            self.passes.append(p)


def load_check_oracle():
    """``norm``/``canon`` of scripts/check_oracle.py, without keeping the
    sys.path entry that script adds on import."""
    before = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sys.path[:] = before
    return mod


def check_results(results, data_dir) -> list[str]:
    """One entry per failed timed result: an exception, or any difference
    from the DuckDB oracle after type-preserving canonicalisation."""
    import duckdb

    import __spark_entry__ as entry

    co = load_check_oracle()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    expected, failed = {}, []
    for name, cols, rows in results:
        if cols is None:
            failed.append(f"{name}: {rows}")
            continue
        if name not in expected:
            rel = con.execute(oracles[name])
            expected[name] = co.canon([d[0] for d in rel.description],
                                      rel.fetchall())
        if co.canon(cols, rows) != expected[name]:
            failed.append(f"{name}: result differs from oracle")
    con.close()
    return failed


def run(args, run_dir: str) -> dict:
    data_dir = os.path.join(run_dir, "data")
    datagen.write(data_dir, SF, args.seed)
    import __spark_entry__ as entry

    names = query_names(entry.queries(), args.workload)
    tracer = None
    t_setup, c_setup = time.perf_counter(), procmem.tree_cpu()[0]
    spark = spark_session(run_dir, args.trace)
    try:
        if args.trace:
            import layers

            tracer = layers.Tracer(spark)
        runner = Runner(spark, data_dir, names, args.seed, tracer)
        for _ in range(WARM_PASSES):
            runner.one_pass(keep=False)
        setup_s = time.perf_counter() - t_setup
        setup_cpu_s = procmem.tree_cpu()[0] - c_setup
        for _ in range(max(MIN_PASSES, round(args.seconds / PASS_S))):
            runner.one_pass(keep=True)
        mem = procmem.snapshot(spark)
        layer_metrics = (tracer.probe_layers(spark, run_dir, args.seed)
                         if tracer else None)
    finally:
        stop_spark(spark)
    failed = check_results(runner.results, data_dir)
    for f in failed:
        print(f"# FAILED {f}", file=sys.stderr)
    lat = [dt for _, _, per in runner.passes for _, dt, _ in per]
    cpu = {}
    for _, _, per in runner.passes:
        for name, _, dc in per:
            cpu.setdefault(name, []).append(dc)
    # per query, the median over passes: one noisy sample per query (a
    # worker fork, a JIT burst) does not move the figures
    pass_cpu_s = sum(statistics.median(v) for v in cpu.values())
    wall = {"setup_s": setup_s,
            "pass_s": statistics.median(p[0] for p in runner.passes),
            "query_p50_s": statistics.median(lat)}
    print(f"# {args.workload} seed={args.seed}: {len(runner.passes)} passes; "
          f"wall {wall}; setup {setup_cpu_s:.2f} cpu-s; mem {mem}",
          file=sys.stderr)
    if args.trace:
        metrics = tracer.finish(run_dir, layer_metrics, mem, wall, pass_cpu_s)
    else:
        metrics = {
            "setup_s": (setup_cpu_s, "s"),
            "pass_cpu_s": (pass_cpu_s, "s"),
            "ok_frac": (1.0 - len(failed) / len(runner.results), "ratio"),
            "rss_mb": (mem["rss_mb"], "MB"),
        }
    return {
        "correct": not failed,
        "attempted": len(runner.results),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def terminate(*_) -> None:
    """SIGTERM: kill the JVM and workers (also a JVM still starting up,
    which no session owns yet), then unwind so the run directory goes."""
    for pid in procmem.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    sys.exit(143)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("__spark_entry__.py", "duckdb_spatial_spark",
                 os.path.join("scripts", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{os.getpid()}-", dir=base)
    for sub in ("tmp", "local", "warehouse", "ckpt", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python-side temp files (queries' mkdtemp, workers) land in run_dir too
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGTERM, terminate)
    # JVM and worker output goes to stderr; only the result line reaches
    # stdout
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    sys.stdout.flush()
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
