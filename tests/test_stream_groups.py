"""Bounded-memory group streaming (map_groups' runner, run_groups):
per-task footprint is one Arrow batch + one carried group, not the
partition. Forcing tiny Arrow batches must not change any result."""

import pandas as pd
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from osm2streets_spark.operators.geometry_update import (
    map_groups, run_groups,
)

KNS = StructType([StructField(c, LongType()) for c in ("k", "n", "s")])


def test_stream_groups_complete_and_bounded():
    # 10 groups of 7 rows, key-sorted, delivered in 6-row batches —
    # every batch boundary splits a group
    rows = [{"k": g, "v": i} for g in range(10) for i in range(7)]
    pdf = pd.DataFrame(rows)
    batches = [pdf.iloc[i:i + 6] for i in range(0, len(pdf), 6)]

    seen_groups = []
    count = {"in": 0, "done": 0}
    held = []

    def kernel(group):
        # every group handed to the kernel must be COMPLETE
        assert len(group) == 7 and {r["k"] for r in group} == \
            {group[0]["k"]}, group
        seen_groups.append(group[0]["k"])
        count["done"] += len(group)
        return [(group[0]["k"], len(group), sum(r["v"] for r in group))]

    def feed():
        for b in batches:
            # rows the runner holds once it has this batch: the rows
            # it took in minus those its kernel calls already consumed
            count["in"] += len(b)
            held.append(count["in"] - count["done"])
            yield b

    outs = list(run_groups(feed(), ["k"], kernel, KNS))
    got = pd.concat(outs, ignore_index=True).sort_values("k")
    assert got["s"].tolist() == [21] * 10
    assert sorted(seen_groups) == list(range(10))
    # bounded: one batch (6) + one carried group (<=7) minus the held key
    assert max(held) <= 6 + 7


def test_map_groups_hands_fn_complete_groups(spark):
    """map_groups shuffles and sorts for its runner itself: with
    16-record Arrow batches, every group of 70 unsorted rows still
    reaches the kernel whole, exactly once."""
    df = spark.range(700).selectExpr("id % 10 AS k", "id AS v")

    def fn(rows):
        return [(rows[0]["k"], len(rows), sum(r["v"] for r in rows))]

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        rows = map_groups(df, ["k"], fn, KNS, 3).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert sorted((r.k, r.n, r.s) for r in rows) == [
        (k, 70, sum(range(k, 700, 10))) for k in range(10)]


def test_tiny_arrow_batches_identical_pipeline_output(spark, fixture_dir):
    """The flagship network must be byte-identical when Arrow batches
    are forced down to 64 records (maximum batch-boundary group
    splitting in run_transforms / finish_seams)."""
    from pyspark.sql import functions as F

    from osm2streets_spark.plans.pipeline import (
        load_documents, build_street_network,
    )

    def snapshot():
        docs = load_documents(spark, fixture_dir)
        net = build_street_network(spark, docs)
        roads = net["roads"].select(
            "doc_id", "way_id",
            F.array_join(F.transform("osm_way_ids",
                                     lambda x: x.cast("string")),
                         ",").alias("w"),
            F.round("trimmed_length", 2).alias("t")).collect()
        return sorted((r["doc_id"], r["way_id"], r["w"], r["t"])
                      for r in roads)

    spark.catalog.clearCache()
    base = snapshot()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        spark.catalog.clearCache()
        tiny = snapshot()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert base == tiny


def test_tiny_arrow_batches_identical_grouped_renders(spark, fixture_dir):
    """way_geometry and movement_arrows group per (doc, way) and per
    (doc, junction), render_sidewalk_corners per (doc, junction). A
    group split across two Arrow batches must still be processed whole,
    so 16-record batches must not change a single row."""
    from osm2streets_spark.config import DEFAULT_CONFIG
    from osm2streets_spark.operators.debug_api import (
        movement_arrows, way_geometry,
    )
    from osm2streets_spark.operators.intersection_markings import (
        render_sidewalk_corners,
    )
    from osm2streets_spark.plans.pipeline import (
        load_documents, build_street_network,
    )

    spark.catalog.clearCache()
    net = build_street_network(spark, load_documents(spark, fixture_dir))
    ops = {
        "way_geometry": lambda: way_geometry(
            net["ways"], net["nodes"], net["roads"]),
        "movement_arrows": lambda: movement_arrows(
            net["roads"], net["intersections"], DEFAULT_CONFIG.driving_side),
        "sidewalk_corners": lambda: render_sidewalk_corners(
            net["roads"], net["intersections"]),
    }

    def snapshot():
        return {name: sorted(tuple(r) for r in op().collect())
                for name, op in ops.items()}

    base = snapshot()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        tiny = snapshot()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for name in ops:
        assert base[name], name
        assert len(tiny[name]) == len(base[name]), name
        assert tiny[name] == base[name], name


@pytest.mark.parametrize("qname", [
    "g_shortest_dists", "g_simple_paths", "s_multipolygons",
    "g_blocks", "sn_dc_side_lengths",
])
def test_tiny_batches_identical_per_doc_operators(spark, qname):
    """The per-doc graph operators (pathfinding, multipolygon assembly,
    block walk, DC sides) stream key-sorted groups instead of
    materializing the partition; forcing 64-record Arrow batches
    (maximum group splitting across batch boundaries) must not change
    a single row."""
    from osm2streets_spark.plans import registry

    q = registry.queries()[qname]
    sf = "/root/testdata/sf0.001"

    def snapshot():
        pdf = q(spark, sf).toPandas()
        pdf = pdf[sorted(pdf.columns)]
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    spark.catalog.clearCache()
    base = snapshot()
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        spark.catalog.clearCache()
        tiny = snapshot()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    pd.testing.assert_frame_equal(base, tiny)


@pytest.mark.parametrize("tokens,helpers", [
    (("stream_groups", "sortWithinPartitions"),
     {"geometry_update.py": ("map_groups",)}),
    (("pandas_udf",),
     {"geometry_update.py": ("row_udf",), "similarity.py": ("_lsh_bucket",)}),
    ((".groupby(", "itertuples"),
     {"geometry_update.py": ("group_runs", "run_groups")}),
], ids=["stream_groups", "pandas_udf", "pandas_groupby"])
def test_no_hand_rolled_group_streaming(tokens, helpers):
    """Every grouped kernel goes through map_groups, which sorts for
    its runner and hands each kernel one complete group, and every
    per-row kernel through row_udf: no token may appear in operators/
    outside its helper definitions, so a hand-rolled copy of the
    shuffle, of the per-row Arrow loop or of a per-caller pandas group
    split cannot come back. similarity._lsh_bucket folds a whole batch
    at once and is the one pandas UDF allowed outside row_udf."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] \
        / "osm2streets_spark" / "operators"
    offenders = []
    for path in sorted(ops.glob("*.py")):
        src = path.read_text()
        lines = src.splitlines()
        for node in ast.parse(src).body:
            if isinstance(node, ast.FunctionDef) \
                    and node.name in helpers.get(path.name, ()):
                first = min([node.lineno] + [d.lineno
                                             for d in node.decorator_list])
                lines[first - 1:node.end_lineno] = \
                    [""] * (node.end_lineno - first + 1)
        offenders += [f"{path.name}:{i}" for i, line in enumerate(lines, 1)
                      if any(t in line for t in tokens)]
    assert not offenders, offenders
