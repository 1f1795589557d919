"""Per-layer measurement for ``run.py --trace 1``, taken from outside the
library.

* driver and Spark execution: every query of a timed pass is a span
  (wall-clock window). Spark jobs are read back from the run's event log
  and attributed to the span whose window holds their submission — one
  query is in flight at a time, so this also catches micro-batch jobs that
  run on a stream thread outside the caller's job group. Catalyst phase
  times come from ``queryExecution().tracker()`` of the query's frame.
* streaming: a ``StreamingQueryListener`` records every progress event.
* geom, functions, operators, sources: timed direct calls into each
  module's public functions on inputs drawn from the run's seed.

Metrics named ``driver.*``, ``spark.*`` and ``streaming.*`` are per-pass
totals (median over the timed passes); ``streaming.*`` adds one fixed probe
drain, so a workload without streaming queries still reports the layer.
``spark.gc_s`` is the JVM's collector time per pass (GarbageCollector
MXBeans): per-task GC time rounds to 0 ms at this scale.
"""
from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time

import numpy as np

REPS = 2  # direct calls: the best of this many timed repetitions


def _ms() -> float:
    return time.time() * 1000.0


def _best_time(fn) -> float:
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return min(ts)


class Tracer:
    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())
        self.jvm = spark.sparkContext._jvm
        self.pass_no = -1  # -1: set-up, 0..: timed passes
        self.spans = []
        self.gc_marks = []  # JVM collector ms at each pass boundary

    def _gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    # ----------------------------------------------------------- spans
    def next_pass(self) -> None:
        self.pass_no += 1
        self.gc_marks.append(self._gc_ms())

    def begin(self, name: str, pass_no=None) -> dict | None:
        p = self.pass_no if pass_no is None else pass_no
        if p == -1:
            return None
        return {"name": name, "pass": p, "t0": _ms()}

    def end(self, span, df=None, build_s=0.0) -> None:
        span["t1"] = _ms()
        span["build_s"] = build_s
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                got = phases.get(ph)
                span[ph] = got.get().durationMs() if got.isDefined() else 0
        self.spans.append(span)

    def timed(self, name: str, fn):
        """Run ``fn()`` REPS times as one probe span; return (best seconds,
        last result)."""
        span = self.begin(name, pass_no="probe")
        out = []
        best = _best_time(lambda: out.append(fn()))
        self.end(span)
        return best, out[-1]

    # ----------------------------------------------------- direct calls
    def probe_layers(self, spark, run_dir: str, seed: int) -> dict:
        self.gc_marks.append(self._gc_ms())
        rng = np.random.default_rng(seed)
        m = {}
        m.update(_geom(rng))
        m.update(_functions(spark, rng))
        m.update(self._operators(spark, rng))
        m.update(self._sources(spark, run_dir, rng))
        self._stream_probe(spark, run_dir)
        time.sleep(1.0)  # let the last listener events arrive
        return m

    def _operators(self, spark, rng) -> dict:
        from pyspark.sql import functions as F

        from duckdb_spatial_spark.geom import from_wkt, to_wkb
        from duckdb_spatial_spark.operators.graph import (
            k_core, label_propagation, pagerank)
        from duckdb_spatial_spark.operators.join import st_join_points

        e = rng.integers(0, 200, (1500, 2))
        edges = spark.createDataFrame(
            [(int(a), int(b)) for a, b in e], "src long, dst long").cache()
        edges.count()
        pts = spark.createDataFrame(
            [(float(x), float(y)) for x, y in rng.uniform(0, 500, (10000, 2))],
            "x double, y double").cache()
        pts.count()
        cells = [(x, y) for x in range(0, 500, 100) for y in range(0, 500, 100)]
        zones = spark.createDataFrame(
            [(i, to_wkb(from_wkt(f"POLYGON (({x} {y}, {x + 100} {y}, "
                                 f"{x + 100} {y + 100}, {x} {y + 100}, {x} {y}))")))
             for i, (x, y) in enumerate(cells)],
            "zone_id long, zone binary")
        calls = {
            "pagerank": lambda: pagerank(edges, iters=2)
            .agg(F.sum("rank")).collect(),
            "label_propagation": lambda: label_propagation(edges, iters=2)
            .agg(F.sum("lab")).collect(),
            "k_core": lambda: k_core(edges, k=6, rounds=3).count(),
            "st_join_points": lambda: st_join_points(
                pts, zones, "within", "x", "y", "zone").count(),
        }
        out = {}
        for name, fn in calls.items():
            out[f"operators.{name}_s"] = (self.timed(f"operators.{name}", fn)[0], "s")
        edges.unpersist()
        pts.unpersist()
        return out

    def _sources(self, spark, run_dir: str, rng) -> dict:
        from pyspark.sql import functions as F

        from duckdb_spatial_spark.functions import scalar as ST
        from duckdb_spatial_spark.sources.geoparquet import st_write_geoparquet
        from duckdb_spatial_spark.sources.tables import read_layout

        n = 10000
        xy = rng.uniform(0, 1000, (n, 2))
        df = spark.createDataFrame(
            [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
            "id long, x double, y double").repartition(4)
        df = df.select("id", ST.st_point("x", "y").alias("geom")).cache()
        df.count()
        seq = iter(range(REPS))

        def write():
            path = os.path.join(run_dir, "tmp", f"sources_{next(seq)}")
            st_write_geoparquet(df, path, covering=True)
            return path

        write_s, path = self.timed("sources.write", write)
        read_s, _ = self.timed(
            "sources.read",
            lambda: read_layout(spark, path).agg(F.count("geom")).collect())
        files = glob.glob(os.path.join(path, "*.parquet"))
        size = sum(os.path.getsize(f) for f in files)
        df.unpersist()
        return {"sources.write_s": (write_s, "s"),
                "sources.read_s": (read_s, "s"),
                "sources.bytes_per_row": (size / n, "B"),
                "sources.files_written": (len(files), "count")}

    def _stream_probe(self, spark, run_dir: str) -> None:
        from duckdb_spatial_spark.streaming import streaming_extent_agg

        src = os.path.join(run_dir, "data")
        schema = spark.read.parquet(os.path.join(src, "events.parquet")).schema
        stream = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", "events.parquet").parquet(src)
                  .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "value AS x",
                              "CAST(user_id AS DOUBLE) AS y"))
        agg = streaming_extent_agg(stream, "ts", "x", "y", window="1 day",
                                   watermark="1 hour")
        span = self.begin("streaming.probe", pass_no="probe")
        q = (agg.writeStream.format("memory").queryName("perfbench_probe")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        self.end(span)

    # --------------------------------------------------- event log
    def finish(self, run_dir: str, direct: dict, mem: dict, wall: dict,
               pass_cpu_s: float) -> dict:
        jobs, stages, tasks = _read_event_log(run_dir)
        for s in self.spans:
            s["jobs"] = [j for j in jobs.values() if s["t0"] <= j["t0"] <= s["t1"]]
        passes = sorted({s["pass"] for s in self.spans if isinstance(s["pass"], int)})
        by_pass = {p: [s for s in self.spans if s["pass"] == p] for p in passes}

        def per_pass(fn):
            return statistics.median(sum(fn(s) for s in by_pass[p]) for p in passes)

        def task_sum(s, key):
            return sum(t[key] for j in s["jobs"] for st in j["stages"]
                       for t in tasks.get(st, ()))

        m = {
            "driver.build_s": (per_pass(lambda s: s["build_s"]), "s"),
            "driver.outside_job_s": (per_pass(_outside_job_s), "s"),
            "driver.first_job_wait_s": (per_pass(
                lambda s: (min(j["t0"] for j in s["jobs"]) - s["t0"]) / 1000
                if s["jobs"] else 0.0), "s"),
        }
        for ph in ("analysis", "optimization", "planning"):
            m[f"driver.{ph}_ms"] = (per_pass(lambda s, ph=ph: s.get(ph, 0)), "ms")
        m["spark.jobs"] = (per_pass(lambda s: len(s["jobs"])), "count")
        m["spark.stages"] = (per_pass(lambda s: sum(
            1 for j in s["jobs"] for st in j["stages"] if st in stages)), "count")
        m["spark.tasks"] = (per_pass(lambda s: sum(
            len(tasks.get(st, ())) for j in s["jobs"] for st in j["stages"])), "count")
        m["spark.task_s"] = (per_pass(lambda s: task_sum(s, "run_s")), "s")
        m["spark.cpu_s"] = (per_pass(lambda s: task_sum(s, "cpu_s")), "s")
        m["spark.gc_s"] = (statistics.median(
            b - a for a, b in zip(self.gc_marks, self.gc_marks[1:])) / 1000, "s")
        m["spark.shuffle_read_mb"] = (per_pass(lambda s: task_sum(s, "sr_mb")), "MB")
        m["spark.shuffle_write_mb"] = (per_pass(lambda s: task_sum(s, "sw_mb")), "MB")
        m.update(direct)
        for s in self.spans:
            if s["name"].startswith("operators."):
                m[f"{s['name']}_jobs"] = (len(s["jobs"]) / REPS, "count")
        m.update(self._streaming(passes, by_pass))
        m["mem.jvm_retained_mb"] = (mem["jvm_retained_mb"], "MB")
        m["mem.py_worker_rss_mb"] = (mem["workers_mb"], "MB")
        m["mem.py_workers"] = (mem["workers"], "count")
        for k, v in wall.items():
            m[f"wall.{k}"] = (v, "s")
        m["trace.pass_cpu_s"] = (pass_cpu_s, "s")
        return m

    def _streaming(self, passes, by_pass) -> dict:
        """Listener totals per pass (median) plus the probe drain; checks
        that the jobs of every drain carry exactly the listener's batches."""
        runs = {}
        for ev in self.progress:
            runs.setdefault(ev["runId"], []).append(ev)

        def drain(evs) -> dict:
            d = [ev["durationMs"] for ev in evs]
            t_first = _iso_ms(evs[0]["timestamp"])
            t_last = _iso_ms(evs[-1]["timestamp"]) + d[-1].get("triggerExecution", 0)
            return {
                "batches": len(evs),
                "trigger_ms": sum(x.get("triggerExecution", 0) for x in d),
                "planning_ms": sum(x.get("queryPlanning", 0) for x in d),
                "wal_commit_ms": sum(x.get("walCommit", 0) for x in d),
                "state_commit_ms": sum(o.get("commitTimeMs", 0) for ev in evs
                                       for o in ev.get("stateOperators", [])),
                "drain_s": (t_last - t_first) / 1000.0,
            }

        def span_drains(s) -> list:
            out = []
            for evs in runs.values():
                if s["t0"] <= _iso_ms(evs[0]["timestamp"]) <= s["t1"]:
                    out.append((evs, drain(evs)))
            return out

        keys = ("batches", "trigger_ms", "planning_ms", "wal_commit_ms",
                "state_commit_ms", "drain_s")
        totals = {k: statistics.median(
            sum(d[k] for s in by_pass[p] for _, d in span_drains(s))
            for p in passes) for k in keys}
        for s in self.spans:
            if s["name"] == "streaming.probe":
                for _, d in span_drains(s):
                    for k in keys:
                        totals[k] += d[k]
        # attribution check, printed per streaming query of the first pass
        for s in self.spans:
            drains = span_drains(s)
            if not drains or s["pass"] not in (passes[0], "probe"):
                continue
            listener = {(evs[0]["id"], ev["batchId"]) for evs, _ in drains
                        for ev in evs}
            tagged = {(j["query_id"], j["batch_id"]) for j in s["jobs"]
                      if j["batch_id"] is not None}
            print(f"# streaming {s['name']}: {len(s['jobs'])} jobs in window, "
                  f"{len(listener)} listener batches, batches with jobs "
                  f"{'match' if tagged == listener else 'DIFFER'}",
                  file=sys.stderr)
        units = {"batches": "count", "drain_s": "s"}
        return {f"streaming.{k}": (v, units.get(k, "ms")) for k, v in totals.items()}


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp() * 1000.0


def _outside_job_s(span) -> float:
    """Span wall time not covered by any of its jobs."""
    iv = sorted((j["t0"], j["t1"]) for j in span["jobs"])
    covered, end = 0.0, None
    for a, b in iv:
        if end is None or a > end:
            covered += b - a
            end = b
        elif b > end:
            covered += b - end
            end = b
    return max(0.0, (span["t1"] - span["t0"] - covered) / 1000.0)


def _read_event_log(run_dir: str):
    """jobs {id: {t0, t1, stages, query_id, batch_id}}, the set of
    completed stage ids, and tasks {stage id: [metrics]} from the zstd
    event log."""
    import pyarrow as pa

    jobs, stages, tasks = {}, set(), {}
    for path in glob.glob(f"{run_dir}/eventlog/**/events_*", recursive=True):
        with pa.input_stream(path, compression="zstd") as f:
            data = f.read()
        for line in data.splitlines():
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"], "t1": ev["Submission Time"],
                    "stages": ev["Stage IDs"],
                    "query_id": props.get("sql.streaming.queryId"),
                    "batch_id": props.get("streaming.sql.batchId")}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "sr_mb": (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0)) / 2**20,
                    "sw_mb": sw.get("Shuffle Bytes Written", 0) / 2**20})
    for j in jobs.values():
        if j["batch_id"] is not None:
            j["batch_id"] = int(j["batch_id"])
    return jobs, stages, tasks


# ---------------------------------------------------------------- geom
def _polygon(rng, cx, cy, r, k):
    a = np.sort(rng.uniform(0, 2 * np.pi, k))
    xy = np.c_[cx + r * np.cos(a), cy + r * np.sin(a)]
    pts = ", ".join(f"{x:.6f} {y:.6f}" for x, y in np.vstack([xy, xy[:1]]))
    return f"POLYGON (({pts}))"


def _geom(rng) -> dict:
    from duckdb_spatial_spark.geom import from_wkb, from_wkt, to_wkb
    from duckdb_spatial_spark.geom import kernels as K
    from duckdb_spatial_spark.geom.proj import native_transform

    wkts = [_polygon(rng, *rng.uniform(0, 100, 2), rng.uniform(2, 10),
                     int(rng.integers(5, 24))) for _ in range(400)]
    geoms = [from_wkt(w) for w in wkts]
    wkbs = [to_wkb(g) for g in geoms] * 10
    pairs = list(zip(geoms, geoms[1:] + geoms[:1])) * 4
    close = [(a, b) for a, b in zip(geoms, geoms[1:]) if K.intersects(a, b)]
    boxes = [from_wkt(_polygon(rng, x, y, 5.0, 4)) for x, y in rng.uniform(0, 100, (4, 2))]
    lonlat = np.c_[rng.uniform(-170, 170, 200_000), rng.uniform(-80, 80, 200_000)]
    fwd = native_transform("EPSG:4326", "EPSG:3857")

    def rate(items, fn):
        return (len(items) / _best_time(lambda: [fn(x) for x in items]), "1/s")

    return {
        "geom.from_wkb_per_s": rate(wkbs, from_wkb),
        "geom.from_wkt_per_s": rate(wkts, from_wkt),
        "geom.intersects_per_s": rate(pairs, lambda p: K.intersects(*p)),
        "geom.polygon_intersection_per_s": rate(
            close[:150], lambda p: K.intersection(*p)),
        "geom.buffer_per_s": rate(boxes, lambda g: K.buffer(g, 1.5)),
        "geom.native_transform_per_s": (
            len(lonlat) / _best_time(lambda: fwd(lonlat)), "1/s"),
    }


# ----------------------------------------------------------- functions
def _functions(spark, rng) -> dict:
    """One ST_ expression through Spark (area of parsed WKT), and the same
    kernel called in-process on the same strings."""
    from pyspark.sql import functions as F

    from duckdb_spatial_spark.functions import scalar as ST
    from duckdb_spatial_spark.geom import from_wkt
    from duckdb_spatial_spark.geom import kernels as K

    n = 10000
    wkts = [_polygon(rng, *rng.uniform(0, 100, 2), 3.0, 8) for _ in range(n)]
    df = spark.createDataFrame([(w,) for w in wkts], "wkt string").repartition(4).cache()
    df.count()
    through_spark = n / _best_time(lambda: df.agg(
        F.sum(ST.st_area(ST.st_geomfromtext("wkt")))).collect())
    sample = wkts[:2000]
    in_process = len(sample) / _best_time(
        lambda: [K.area(from_wkt(w)) for w in sample])
    df.unpersist()
    return {"functions.udf_rows_per_s": (through_spark, "1/s"),
            "functions.boundary_ratio": (through_spark / in_process, "ratio")}
