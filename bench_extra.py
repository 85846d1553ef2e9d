#!/usr/bin/env python
"""Round-8 measurement sidecar (bench.py is FROZEN for the driver).

Modes (first CLI arg):
  time   [queries...]        — per-query median-of-N wall (same protocol
                               as bench.py: warm-up + N timed, clearCache
                               + System.gc between runs, .count() sink)
  noop   [queries...]        — same but noop-sink (computes EVERY column;
                               guide §1.4) to decouple from count pruning
  ab     [queries...]        — interleaved A/B over conf variants taken
                               from SPARK_GRAFT_AB (json list of dicts of
                               runtime confs), per-query medians per
                               variant printed side by side
  plan   [queries...]        — write .explain("formatted") to
                               plans/r08/<q>_<suffix>.txt
                               (suffix from SPARK_GRAFT_PLAN_SUFFIX,
                               default "before")
  udf_tax                    — per-task cost of the Python UDF runner:
                               the same sum-of-lengths aggregate over
                               spark.range-generated text rows, as
                               Catalyst and as a pandas UDF, at
                               UDF_TAX_PARTITIONS tasks; prints both
                               medians per count and the extra core-ms
                               per pandas-UDF task (no fixtures needed)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS (default 3).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm2streets_spark.session import get_spark
from osm2streets_spark.sources.fixtures import ensure_fixtures
from osm2streets_spark.plans.pipeline import flagship_query
from osm2streets_spark.plans import registry

DEFAULT_QUERIES = ["q_street_pipeline", "dd_minhash_lsh", "sim_ann_topk",
                   "ta_quality", "ta_fingerprint", "ev_window", "dd_exact"]
UDF_TAX_ROWS = 5000
UDF_TAX_PARTITIONS = (4, 16, 64)


def udf_tax(spark, cpus: int, n_timed: int) -> None:
    """Both plans read the same rows in one task per partition, so the
    pandas-UDF minus Catalyst wall grows by the Python runner's fixed
    per-task cost per added task, spread over `cpus` cores: the slope
    between the smallest and largest partition count, times cpus, is
    that cost in core-ms."""
    @pandas_udf("long")
    def py_len(s: pd.Series) -> pd.Series:
        return s.str.len()

    def text(p):
        ids = F.col("id").cast("string")
        return spark.range(0, UDF_TAX_ROWS, 1, p).select(
            F.concat_ws(" ", F.lit("doc"), ids, F.sha1(ids)).alias("text"))

    plans = {"catalyst": lambda p: text(p).agg(F.sum(F.length("text"))),
             "pandas_udf": lambda p: text(p).agg(F.sum(py_len("text")))}
    out = {}
    for p in UDF_TAX_PARTITIONS:
        # a fresh DataFrame per run: collecting one twice skips its
        # shuffle-map stage, whose outputs are still there
        answers = {name: plan(p).collect()[0][0]
                   for name, plan in plans.items()}
        assert len(set(answers.values())) == 1, answers   # + warm-up
        runs = {name: [] for name in plans}
        for _ in range(n_timed):            # interleaved
            for name, plan in plans.items():
                df = plan(p)
                t0 = time.perf_counter()
                df.collect()
                runs[name].append(time.perf_counter() - t0)
        out[p] = {name: round(statistics.median(r), 3)
                  for name, r in runs.items()}
        print(f"{p} tasks: {out[p]}", flush=True)
    lo, hi = UDF_TAX_PARTITIONS[0], UDF_TAX_PARTITIONS[-1]
    extra = [out[p]["pandas_udf"] - out[p]["catalyst"] for p in (lo, hi)]
    ms_per_task = (extra[1] - extra[0]) / (hi - lo) * cpus * 1000
    print(json.dumps({"mode": "udf_tax", "rows": UDF_TAX_ROWS, "cpus": cpus,
                      "runs": n_timed, "loadavg": os.getloadavg()[0],
                      "medians_s": out,
                      "udf_task_overhead_ms": round(ms_per_task, 1)}))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    n_timed = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    spark = get_spark("osm2streets-bench-extra", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "udf_tax":
        udf_tax(spark, cpus, n_timed)
        return
    fix = ensure_fixtures(os.path.basename(os.path.normpath(sf_dir)))

    q = registry.queries()
    q["q_street_pipeline"] = lambda s, d: flagship_query(spark, fix)

    def cold_start():
        spark.catalog.clearCache()
        spark._jvm.System.gc()

    def sink_count(df):
        df.count()

    def sink_noop(df):
        df.write.format("noop").mode("overwrite").save()

    sink = sink_noop if mode == "noop" else sink_count

    def timed(name, variant_confs=None):
        spark.sparkContext.setJobDescription(f"r08:{name}")
        if variant_confs:
            for k, v in variant_confs.items():
                spark.conf.set(k, v)
        cold_start()
        fn = q[name]
        sink(fn(spark, sf_dir))            # warm-up
        runs = []
        for _ in range(n_timed):
            cold_start()
            t0 = time.time()
            sink(fn(spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        return runs

    if mode in ("time", "noop"):
        out = {}
        for name in names:
            runs = timed(name)
            out[name] = {"median": round(statistics.median(runs), 3),
                         "runs": runs}
            print(f"{name}: {out[name]}", flush=True)
        print(json.dumps({"mode": mode, "sf_dir": sf_dir, "cpus": cpus,
                          "loadavg": os.getloadavg()[0], "results": out}))
    elif mode == "ab":
        variants = json.loads(os.environ.get(
            "SPARK_GRAFT_AB",
            '[{"spark.sql.shuffle.partitions": "32"},'
            ' {"spark.sql.shuffle.partitions": "64"}]'))
        acc = {name: [[] for _ in variants] for name in names}
        rounds = int(os.environ.get("SPARK_GRAFT_AB_ROUNDS", "3"))
        for r in range(rounds):
            for vi, conf in enumerate(variants):
                for name in names:
                    runs = timed(name, conf)
                    acc[name][vi].extend(runs)
                    print(f"round {r} variant {vi} {conf}: {name} {runs}",
                          flush=True)
        print(json.dumps({
            "mode": "ab", "variants": variants,
            "medians": {name: [round(statistics.median(v), 3)
                               for v in acc[name]]
                        for name in names},
            "all": acc}))
    elif mode == "plan":
        suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "before")
        os.makedirs("plans/r08", exist_ok=True)
        for name in names:
            df = q[name](spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            path = f"plans/r08/{name}_{suffix}.txt"
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path} ({len(txt)} bytes)", flush=True)


if __name__ == "__main__":
    main()
