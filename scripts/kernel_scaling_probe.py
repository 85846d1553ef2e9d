#!/usr/bin/env python
"""Hardware-scaling probe of the ACTUAL geometry kernel, zero Spark.

The round-6 diagnosis attributes the 4→16-core efficiency loss at the
criterion corpus to the Python geometry stages running slower under
16-way concurrency. This probe isolates that claim from every piece of
Spark machinery: it runs the sequential replay's convert_document —
the SAME pure-Python/numpy kernels the distributed path executes inside
mapInPandas — over a fixed set of heavy fixture documents via
multiprocessing, pinned, at 4 and at 16 processes. No JVM, no Arrow,
no shuffle, no scheduler: whatever efficiency THIS loses 4→16 is the
box's own ceiling for this workload (memory bandwidth / allocation
churn — round 6 measured DRAM stream 56→63 GB/s and allocation churn
4.5→6.5 GB/s at 4→16 processes), not
an engine defect.

Usage: python scripts/kernel_scaling_probe.py [sf] [n_docs] [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run_scaling import _pin, REPO  # noqa: E402

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
import pyarrow.parquet as pq
from multiprocessing import Pool

def convert_slice(args):
    lo, hi = args
    # import inside the worker so fork startup cost is excluded from
    # the parent's timing loop below (pool is warmed first)
    from osm2streets_spark.plans.sequential import convert_document
    docs = convert_slice.docs
    n = 0
    for d in docs[lo:hi]:
        convert_document(d["doc_id"], d["spans"])
        n += 1
    return n

def init(docs):
    convert_slice.docs = docs

if __name__ == "__main__":
    procs = {procs}
    tab = pq.read_table({path!r}, columns=["doc_id", "spans"])
    docs = tab.to_pylist()[: {n_docs}]
    # fixed total work split into 4x procs chunks for load balance
    chunks = procs * 4
    step = max(1, len(docs) // chunks)
    slices = [(i, min(i + step, len(docs)))
              for i in range(0, len(docs), step)]
    with Pool(procs, initializer=init, initargs=(docs,)) as p:
        p.map(convert_slice, slices[:procs])  # warm fork + imports
        t0 = time.time()
        done = sum(p.map(convert_slice, slices))
        dt = time.time() - t0
    print("KERN " + json.dumps({{"procs": procs, "secs": round(dt, 2),
                                 "docs": done}}))
"""


def run_kernel(procs: int, path: str, n_docs: int) -> float:
    code = WORKER.format(repo=REPO, procs=procs, path=path, n_docs=n_docs)
    out = subprocess.run(
        _pin(procs) + [sys.executable, "-c", code],
        capture_output=True, text=True, timeout=3600,
        env={**os.environ, "OMP_NUM_THREADS": "1",
             "OPENBLAS_NUM_THREADS": "1"})
    for line in out.stdout.splitlines():
        if line.startswith("KERN "):
            return json.loads(line[5:])["secs"]
    raise RuntimeError(f"kernel probe failed @{procs}p: {out.stderr[-600:]}")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf_scale_4x"
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 480
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sys.path.insert(0, REPO)
    from osm2streets_spark.sources.fixtures import ensure_fixtures
    path = os.path.join(ensure_fixtures(sf), "documents.parquet")
    effs, pairs = [], []
    for r in range(reps):
        t4 = run_kernel(4, path, n_docs)
        t16 = run_kernel(16, path, n_docs)
        eff = (t4 / t16) / 4.0
        effs.append(eff)
        pairs.append({"t4": t4, "t16": t16, "eff": round(eff, 3)})
        print(f"rep {r}: 4p {t4:.1f}s  16p {t16:.1f}s  "
              f"kernel hw eff {eff:.3f}", flush=True)
    import statistics
    out = {"sf": sf, "n_docs": n_docs, "pairs": pairs,
           "median_eff": round(statistics.median(effs), 3)}
    with open("/tmp/kernel_scaling.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
