"""Stepwise transformation debugging (S11 debug layers): the
snapshots the transforms kernel records in its one pass (the
s_debug_steps query) vs the sequential replay's gt twin — the
counterpart of the reference's apply_transformations_stepwise_debugging
(transform/mod.rs:94-109)."""
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2streets_spark.plans import registry
from osm2streets_spark.plans.pipeline import (
    build_street_network, load_documents,
)


def test_debug_steps_match_sequential_replay(spark, fixture_dir):
    gt = pd.read_parquet(os.path.join(fixture_dir, "gt_debug_steps.parquet"))
    got = (registry.queries()["s_debug_steps"](spark, fixture_dir)
           .toPandas())

    key = ["doc_id", "step_idx"]
    gt = gt.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    assert len(gt) == len(got) > 0
    for col in ("doc_id", "step_name", "n_roads", "n_intersections"):
        assert list(gt[col]) == list(got[col]), col

    # shape invariants mirroring the reference's stepwise contract:
    # every doc starts at "original", step names follow the standard
    # list, and sizes never grow across collapse passes
    for _, g in got.groupby("doc_id"):
        g = g.sort_values("step_idx")
        names = list(g["step_name"])
        assert names[0] == "original"
        assert names[-3:] == ["collapse short roads",
                              "collapse degenerate intersections",
                              "collapse short roads"]
        n_roads = list(g["n_roads"])
        assert all(a >= b for a, b in zip(n_roads, n_roads[1:]))


def test_plain_build_records_steps_in_the_transforms_pass(spark,
                                                          fixture_dir):
    """Every build returns the snapshots, and they cost no second
    kernel pass: the debug frame is a filter over the checkpointed
    transforms output, with no Python UDF and no shuffle of its own."""
    net = build_street_network(spark, load_documents(spark, fixture_dir))
    dbg = net["debug_steps"]
    plan = dbg._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert "Exchange" not in plan, plan
    rows = dbg.where("name = 'original'").select("doc_id").collect()
    assert len(rows) > 0
