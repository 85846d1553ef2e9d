#!/usr/bin/env python
"""Street-network benchmark.

    python3 perfbench/run.py --workload street_mixed --seed 1 \\
        --seconds 5 --trace 0

Runs one workload on ``local[nproc]`` from this single driver process,
checks every output, and prints one JSON result as the last line of
stdout (earlier lines are a per-iteration record: wall, process-tree
CPU, loadavg and the box busy fraction).

Workloads (see BENCHMARK.json for the reasons):
  street_mixed  plans.pipeline.flagship_query over N_STREET_DOCS seeded
                mixed-topology documents; each iteration is one build,
                sunk into an order-independent digest of every output
                column and compared with the plans.sequential replay.
  text_side     the six side queries of bench.py over seeded row
                permutations of the sf0.1 tables; each iteration is
                one pass over the six, collected with toPandas and
                compared with the registry's DuckDB oracle answers.

Protocol: session build and the first (cold) iteration are timed as
set-up; text_side then runs one untimed warm-up pass; then iterations
are timed until --seconds have been measured (at least one). --trace 0
reports the end-to-end metrics. --trace 1 switches Spark's event log on
by configuration (a spark-defaults.conf under SPARK_CONF_DIR) and, after
the warm-up, runs one traced and one untraced iteration; the traced
one's segment spans and job labels come from wrappers installed in this
process. It reports the per-layer metrics; layers a workload does not
run report 0. See README.md.

Inputs, caches and every file the run writes live under perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, REPO)
# registry.oracle_sql() generates its sf0.01 fixtures on first use; keep
# them inside the benchmark's work directory
os.environ["OSM2STREETS_FIXTURE_ROOT"] = os.path.join(WORK, "fixtures")

from perfbench import inputs, probes  # noqa: E402
from perfbench.eventlog import EventLog, read_events  # noqa: E402

WORKLOADS = ("street_mixed", "text_side")

END_TO_END_UNITS = {"docs_per_s": "docs/s", "wall_s": "s", "cpu_s": "s",
                    "setup_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {"session.build_s": "s", "session.cold_iter_s": "s",
             "session.codegen_compiles": "count", "session.rss_mb": "MB"}
    for seg in probes.SEGMENTS:
        units.update({f"pipeline.{seg}.wall_s": "s",
                      f"pipeline.{seg}.exec_s": "s",
                      f"pipeline.{seg}.gap_s": "s",
                      f"pipeline.{seg}.tasks": "count",
                      f"pipeline.{seg}.skew": "ratio",
                      f"pipeline.{seg}.shuffle_mb": "MB"})
    units.update({"pipeline.jobs": "count", "pipeline.stages": "count",
                  "pipeline.gap_s": "s", "pipeline.exec_s": "s",
                  "pipeline.exchanges": "count",
                  "pipeline.python_evals": "count",
                  "pipeline.overhead_x": "ratio"})
    for k in (*probes.KERNELS, "render", "total"):
        units[f"kernel.{k}_ms_per_doc"] = "ms"
    units.update({"stream.batches": "count", "stream.batch_s": "s",
                  "stream.add_batch_s": "s",
                  "stream.trigger_overhead_s": "s",
                  "stream.write_mb": "MB"})
    for q in inputs.TEXT_QUERIES:
        units.update({f"text.{q}.wall_s": "s", f"text.{q}.exec_s": "s",
                      f"text.{q}.shuffle_mb": "MB"})
    units["trace.overhead_pct"] = "%"
    return units


def spark_env(run_dir: str, trace: bool) -> None:
    """Point Spark's configuration, scratch and temp files into run_dir
    and make the program importable by the Python workers. Must run
    before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    events = os.path.join(run_dir, "events")
    for d in (tmp, conf, events):
        os.makedirs(d, exist_ok=True)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}",
        # no hsperfdata file under /tmp
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData",
    ]
    if trace:
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{events}",
                  "spark.eventLog.compress false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)


def shutdown(spark) -> None:
    """Stop Spark and the gateway JVM this process launched, and wait
    until the JVM and every process under it (Python workers) ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = probes.tree_pids(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive():
        return [pid for pid in started
                if (f := probes.stat_fields(pid)) and f[0] != "Z"]

    deadline = time.time() + 30
    while alive() and time.time() < deadline:
        time.sleep(0.2)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive() and time.time() < deadline + 10:
        time.sleep(0.2)


def digest(df) -> list:
    """Row count plus an order-independent hash of every output column
    (inputs.feature_digest builds the same from expected rows)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast("string") for c in inputs.FEATURE_COLS])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)), F.bit_xor("h"),
        F.sum(F.col("h").bitwiseAND(0x7FFFFFFF))).collect()[0]
    return list(row)


def report_feature_diff(spark, got_df, want_path: str) -> None:
    """Name the first differing features of a digest mismatch."""
    cols = inputs.FEATURE_COLS
    got = {tuple(r) for r in got_df.select(*cols).collect()}
    docs = {r[0] for r in got}
    want = {tuple(r) for r in spark.read.parquet(want_path)
            .select(*cols).collect() if r[0] in docs}
    print(f"feature mismatch: {len(got - want)} unexpected, "
          f"{len(want - got)} missing", file=sys.stderr)
    for tag, rows in (("unexpected", got - want), ("missing", want - got)):
        for r in sorted(rows)[:3]:
            print(f"  {tag} {r[:3]} {r[3][:160]}", file=sys.stderr)


class Run:
    """Attempt/failure bookkeeping and the per-iteration record."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, phase: str, fn):
        """Run one checked operation; fn returns (interval, ok). A wrong
        output counts as failed but keeps its timing; the interval is
        None only when the operation raised."""
        self.attempted += 1
        try:
            iv, ok = fn()
        except Exception:
            traceback.print_exc()
            iv, ok = None, False
        if not ok:
            self.failed += 1
        rec = {"phase": phase, "ok": ok, **(iv.record() if iv else {})}
        print("iteration " + json.dumps(rec), flush=True)
        return iv


def timed_loop(run: Run, seconds: float, once) -> list:
    """Iterations timed until `seconds` of iteration wall have been
    measured (at least one)."""
    timed, spent = [], 0.0
    while spent < seconds or not timed:
        iv = run.attempt(f"timed{len(timed)}", once)
        if iv is None:
            if run.failed > 3:
                raise RuntimeError("too many iterations raised")
            continue
        timed.append(iv)
        spent += iv.wall
    return timed


def traced_pair(run: Run, once, traced_once) -> dict:
    """A traced iteration, then an untraced one to compare it with. The
    untraced one runs second, so warm-up drift counts against tracing:
    trace.overhead_pct is an upper bound."""
    traced = run.attempt("traced", traced_once)
    untraced = run.attempt("untraced", once)
    if traced is None or untraced is None:
        raise RuntimeError("a traced-run iteration raised")
    return {"traced": traced, "untraced": untraced}


def cold_start(spark) -> None:
    """Drop cached relations and let the JVM free dead checkpoint blocks
    before an iteration (bench.py's protocol); not timed."""
    spark.catalog.clearCache()
    spark._jvm.System.gc()


# ---------------------------------------------------------------- street

def street(spark, args, run: Run, run_dir: str, data: str) -> dict:
    from osm2streets_spark.plans.pipeline import flagship_query

    want_path = os.path.join(data, "expected.parquet")
    with open(os.path.join(data, "digest.json")) as fh:
        wants = json.load(fh)
    want = wants["full"]

    def once(tracer=None):
        cold_start(spark)
        with probes.Interval(spark) as iv, tracer or nullcontext():
            got = digest(flagship_query(spark, data))
        if got != want:
            report_feature_diff(spark, flagship_query(spark, data),
                                want_path)
        return iv, got == want

    cold = run.attempt("cold", once)
    if not args.trace:
        return {"cold": cold, "docs": inputs.N_STREET_DOCS,
                "timed": timed_loop(run, args.seconds, once)}
    tracer = probes.SegmentTracer(spark)
    return {"cold": cold, **traced_pair(run, once, lambda: once(tracer)),
            "spans": tracer.spans,
            "stream": run_stream(spark, run, run_dir, data, wants["stream"]),
            "kernels": replay_kernels(args.seed)}


def run_stream(spark, run: Run, run_dir: str, data: str, want) -> dict:
    """Drain the stream corpus, one document of each topology split into
    STREAM_FILES files, through streaming.stream.stream_street_network
    (availableNow, 4 files per trigger)."""
    from osm2streets_spark.streaming.stream import stream_street_network

    out_dir = os.path.join(run_dir, "stream_out")
    progress = []

    def drain():
        cold_start(spark)
        with probes.Interval(spark) as iv:
            q = stream_street_network(spark, os.path.join(data, "stream"),
                                      out_dir,
                                      os.path.join(run_dir, "stream_ckpt"))
            q.awaitTermination()
        progress.extend(p for p in q.recentProgress if p.numInputRows > 0)
        return iv, digest(spark.read.parquet(out_dir)) == want

    run.attempt("stream", drain)
    trig = [p.durationMs.get("triggerExecution", 0) / 1e3 for p in progress]
    add = [p.durationMs.get("addBatch", 0) / 1e3 for p in progress]
    write_bytes = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(out_dir) for f in fs
                      if f.endswith(".parquet"))
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {"batches": len(progress), "batch_s": med(trig),
            "add_batch_s": med(add),
            "trigger_overhead_s": med([t - a for t, a in zip(trig, add)]),
            "write_mb": write_bytes / 1e6}


def replay_kernels(seed: int) -> dict:
    """Zero-Spark replay of the same documents with the kernels timed."""
    docs = inputs.street_docs(seed)
    timer = probes.KernelTimer()
    t0, c0 = time.perf_counter(), time.process_time()
    with timer:
        inputs.expected_features(docs, timer)
    wall, cpu = time.perf_counter() - t0, time.process_time() - c0
    n = len(docs)
    out = {f"kernel.{k}_ms_per_doc": timer.seconds[k] * 1e3 / n
           for k in (*probes.KERNELS, "render")}
    out["kernel.total_ms_per_doc"] = wall * 1e3 / n
    out["replay_cpu_s"] = cpu
    return out


# ------------------------------------------------------------------ text

def text(spark, args, run: Run, run_dir: str, data: str, oracle: dict,
         normalize) -> dict:
    import pyarrow.parquet as pq

    from osm2streets_spark.plans import registry

    queries = registry.queries()

    def once(labels=None):
        # no checkpoints here, so one JVM GC per pass is enough
        cold_start(spark)
        parts, ok = [], True
        for q in inputs.TEXT_QUERIES:
            spark.catalog.clearCache()
            label = nullcontext() if labels is None \
                else probes.Labeller(spark, q, labels)
            with probes.Interval(spark) as iv, label:
                pdf = queries[q](spark, data).toPandas()
            parts.append(iv)
            if inputs.normalized(pdf, normalize) != oracle[q]:
                print(f"{q}: output differs from its DuckDB oracle",
                      file=sys.stderr)
                ok = False
        return probes.Total(parts), ok

    cold = run.attempt("cold", once)
    # the first pass after the cold one is still about 30 % slower than
    # the next ones (README.md, Protocol); the run budget leaves no room
    # for a warm-up build in the street workload
    run.attempt("warm", once)
    if not args.trace:
        docs = pq.read_metadata(os.path.join(data, "documents.parquet"))
        return {"cold": cold, "docs": docs.num_rows,
                "timed": timed_loop(run, args.seconds, once)}
    labels: dict = {}
    return {"cold": cold, **traced_pair(run, once, lambda: once(labels)),
            "labels": labels}


# ---------------------------------------------------------------- report

def end_to_end(build_s: float, res: dict) -> dict:
    wall = statistics.median(iv.wall for iv in res["timed"])
    cpu = statistics.median(iv.cpu for iv in res["timed"])
    return {"docs_per_s": res["docs"] / wall, "wall_s": wall, "cpu_s": cpu,
            "setup_s": build_s + res["cold"].wall}


def per_layer(build_s: float, res: dict, log_dir: str,
              rss_mb: float) -> dict:
    m = dict.fromkeys(per_layer_units(), 0.0)
    m["session.build_s"] = build_s
    m["session.cold_iter_s"] = res["cold"].wall
    traced, untraced = res["traced"], res["untraced"]
    m["session.codegen_compiles"] = untraced.compiles
    m["session.rss_mb"] = rss_mb
    m["trace.overhead_pct"] = 100.0 * (traced.wall - untraced.wall) \
        / untraced.wall
    ev = EventLog(read_events(log_dir))
    if "spans" in res:
        for seg, t0, t1 in res["spans"]:
            for k, v in ev.span(seg, t0, t1).items():
                if k in ("jobs", "stages"):
                    m[f"pipeline.{k}"] += v
                else:
                    m[f"pipeline.{seg}.{k}"] = v
            m["pipeline.exec_s"] += m[f"pipeline.{seg}.exec_s"]
            m["pipeline.gap_s"] += m[f"pipeline.{seg}.gap_s"]
        ex, py = ev.plan_counts(traced.t0, traced.t1)
        m["pipeline.exchanges"], m["pipeline.python_evals"] = ex, py
        kern = res["kernels"]
        m["pipeline.overhead_x"] = untraced.cpu / kern.pop("replay_cpu_s")
        m.update(kern)
        m.update({f"stream.{k}": v for k, v in res["stream"].items()})
    for q, (t0, t1) in res.get("labels", {}).items():
        s = ev.span(q, t0, t1)
        m[f"text.{q}.wall_s"] = s["wall_s"]
        m[f"text.{q}.exec_s"] = s["exec_s"]
        m[f"text.{q}.shuffle_mb"] = s["shuffle_mb"]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "street_mixed":
        body, prepared = street, (inputs.street_inputs(WORK, args.seed),)
    else:
        normalize = inputs.load_normalize(REPO)
        body = text
        prepared = (*inputs.text_inputs(WORK, args.seed, normalize),
                    normalize)
    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return measure(args, body, prepared, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, body, prepared: tuple, run_dir: str) -> int:
    spark_env(run_dir, bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    from osm2streets_spark.session import get_spark

    run = Run()
    t0 = time.time()
    spark = get_spark("perfbench", cores=cores)
    build_s = time.time() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        res = body(spark, args, run, run_dir, *prepared)
        rss = probes.tree_rss_peak_mb()
    finally:
        shutdown(spark)
    if res["cold"] is None:
        raise RuntimeError("cold iteration failed")
    if args.trace:
        metrics = per_layer(build_s, res,
                            os.path.join(run_dir, "events"), rss)
        units = per_layer_units()
    else:
        metrics = end_to_end(build_s, res)
        units = END_TO_END_UNITS
    print(f"failed_ratio {run.failed / run.attempted:.4f} "
          f"({run.failed}/{run.attempted})", flush=True)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
