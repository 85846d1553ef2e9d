"""Outside-in measurements: /proc process-tree CPU and memory, box load,
the JVM's codegen counter, and the wrappers the traced run installs in
this process (pipeline segment spans, replay kernel timers)."""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


def stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ")"
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """The root process and all its live descendants."""
    root = os.getpid() if root is None else root
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = stat_fields(int(name))
            if f:
                children[int(f[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process tree (driver Python, the
    JVM it launched and the JVM's Python workers), including reaped
    children."""
    total = 0
    for pid in tree_pids():
        f = stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_rss_peak_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def box_busy() -> tuple[float, float]:
    """(busy, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        parts = [float(x) for x in fh.readline().split()[1:]]
    idle = parts[3] + (parts[4] if len(parts) > 4 else 0.0)
    total = sum(parts)
    return total - idle, total


class Interval:
    """Wall, process-tree CPU, loadavg, box busy fraction and the driver
    JVM's codegen compilations over a with-block."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.compiles0 = codegen_compiles(self.spark)
        self.load0 = os.getloadavg()[0]
        self.busy0 = box_busy()
        self.cpu0 = tree_cpu_s()
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.t1 = time.time()
        self.wall = self.t1 - self.t0
        self.cpu = tree_cpu_s() - self.cpu0
        b1 = box_busy()
        self.busy = (b1[0] - self.busy0[0]) / max(b1[1] - self.busy0[1], 1.0)
        self.load = [round(self.load0, 2), round(os.getloadavg()[0], 2)]
        self.compiles = codegen_compiles(self.spark) - self.compiles0
        return False

    def record(self) -> dict:
        return {"wall_s": round(self.wall, 4), "cpu_s": round(self.cpu, 3),
                "loadavg": self.load, "busy": round(self.busy, 4)}


class Total:
    """Several Intervals reported as one: walls and CPU summed, load and
    busy fraction from the first and last."""

    def __init__(self, parts: list[Interval]):
        self.parts = parts
        self.t0, self.t1 = parts[0].t0, parts[-1].t1
        self.wall = sum(p.wall for p in parts)
        self.cpu = sum(p.cpu for p in parts)
        self.compiles = sum(p.compiles for p in parts)

    def record(self) -> dict:
        busy = statistics.mean(p.busy for p in self.parts)
        return {"wall_s": round(self.wall, 4), "cpu_s": round(self.cpu, 3),
                "loadavg": [self.parts[0].load[0], self.parts[-1].load[1]],
                "busy": round(busy, 4)}


def codegen_compiles(spark) -> int:
    """Janino compilations so far in the driver JVM (CodegenMetrics)."""
    m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(m.METRIC_COMPILATION_TIME().getCount())


# Pipeline segments, in execution order: parse_stage, then the four
# localCheckpoints of build_street_network (roads, transforms output,
# trims, final roads), then the sink action.
SEGMENTS = ("parse", "graph", "transforms", "t6_pass2", "apply_trims",
            "render")


class SegmentTracer:
    """Stamps pipeline segment boundaries in this process and labels the
    Spark jobs of each segment with a job description the event log
    records. The parse segment ends when plans.pipeline.parse_stage
    returns; every later segment ends when build_street_network's next
    DataFrame.localCheckpoint returns; the sink action ends render."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # PySpark 4 instantiates a subclass of pyspark.sql.DataFrame
        self.df_class = type(spark.range(0))
        self.spans: list[tuple[str, float, float]] = []
        self._name: str | None = None

    def _next(self, name: str) -> None:
        now = time.time()
        if self._name is not None:
            self.spans.append((self._name, self._t0, now))
        self._name, self._t0 = name, now
        self.sc.setJobDescription(f"perfbench:{name}")

    def __enter__(self):
        import inspect

        from osm2streets_spark.plans import pipeline

        self._orig = (self.df_class.localCheckpoint, pipeline.parse_stage)
        orig_ckpt, orig_parse = self._orig
        later = iter(SEGMENTS[2:])

        def parse_stage(*a, **kw):
            out = orig_parse(*a, **kw)
            self._next("graph")
            return out

        def local_checkpoint(df, *a, **kw):
            out = orig_ckpt(df, *a, **kw)
            frame = inspect.currentframe().f_back
            if frame.f_code.co_name == "build_street_network":
                self._next(next(later, "render"))
            return out

        self.df_class.localCheckpoint = local_checkpoint
        pipeline.parse_stage = parse_stage
        self._next("parse")
        return self

    def __exit__(self, *exc):
        from osm2streets_spark.plans import pipeline

        self.df_class.localCheckpoint, pipeline.parse_stage = self._orig
        self.spans.append((self._name, self._t0, time.time()))
        self.sc.setJobDescription(None)
        return False


class Labeller:
    """Labels the Spark jobs run inside a with-block (one text query) and
    records its span as spans[name] = (start, end)."""

    def __init__(self, spark, name: str, spans: dict):
        self.sc, self.name, self.spans = spark.sparkContext, name, spans

    def __enter__(self):
        self.sc.setJobDescription(f"perfbench:{self.name}")
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.spans[self.name] = (self.t0, time.time())
        self.sc.setJobDescription(None)
        return False


KERNELS = {
    "parse": "_parse_one_doc",
    "lanes": "get_lane_specs_ltr",
    "transforms": "apply_standard_transforms",
    "t6": "t6_process",
    "rebuild": "rebuild_center",
}


class KernelTimer:
    """Wraps the kernels the sequential replay calls (looked up in the
    plans.sequential namespace) and accumulates their wall time."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)

    def wrap(self, name, fn):
        seconds = self.seconds

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                seconds[name] += time.perf_counter() - t0
        return timed

    def __enter__(self):
        from osm2streets_spark.plans import sequential

        self._saved = {attr: getattr(sequential, attr)
                       for attr in KERNELS.values()}
        for name, attr in KERNELS.items():
            setattr(sequential, attr, self.wrap(name, self._saved[attr]))
        return self

    def __exit__(self, *exc):
        from osm2streets_spark.plans import sequential

        for attr, fn in self._saved.items():
            setattr(sequential, attr, fn)
        return False
