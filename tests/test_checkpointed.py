"""Resumable checkpointed runs with per-partition lineage."""

import json
import os

from osm2streets_spark.plans.checkpointed import run_checkpointed


def test_checkpoint_and_resume(spark, fixture_dir, tmp_path):
    docs = spark.read.parquet(f"{fixture_dir}/documents.parquet").limit(8)
    out = str(tmp_path / "ckpt")

    m1 = run_checkpointed(spark, docs, out, fingerprint="fp1")
    assert set(m1) == {"roads", "intersections", "features"}
    assert all(m["rows"] > 0 for m in m1.values())
    # lineage recorded per partition
    lin = spark.read.parquet(m1["features"]["lineage_path"])
    assert lin.count() == m1["features"]["n_partitions"]
    assert {r.partition_id for r in lin.collect()} is not None

    # resume: same fingerprint → snapshots reused verbatim (no recompute)
    m2 = run_checkpointed(spark, docs, out, fingerprint="fp1")
    assert m2 == m1

    # snapshots are readable tables
    feats = spark.read.parquet(os.path.join(out, "features"))
    assert feats.count() == m1["features"]["rows"]
    row = feats.first()
    assert json.loads(row.feature_json)["type"] == "Feature"


def test_partial_resume_rewrites_only_the_unfinished_stage(
        spark, fixture_dir, tmp_path):
    """A run killed while writing `features`, after `roads` and
    `intersections` landed, leaves that stage without a manifest and
    possibly with stray files. A re-run with the same fingerprint keeps
    the two finished snapshots as they are and rewrites `features` to
    the same rows."""
    from pyspark.sql import functions as F

    all_docs = spark.read.parquet(f"{fixture_dir}/documents.parquet")
    ids = sorted(r.doc_id for r in all_docs.select("doc_id").collect())[:8]
    docs = all_docs.where(F.col("doc_id").isin(ids))
    out = str(tmp_path / "ckpt")

    def files(stage):
        d = os.path.join(out, stage)
        return {n: os.stat(os.path.join(d, n)).st_mtime_ns
                for n in os.listdir(d)}

    def feature_jsons():
        return sorted(r.feature_json for r in spark.read.parquet(
            os.path.join(out, "features")).collect())

    m1 = run_checkpointed(spark, docs, out, fingerprint="fp1")
    kept = {s: files(s) for s in ("roads", "intersections")}
    want = feature_jsons()
    feats_dir = os.path.join(out, "features")
    os.remove(os.path.join(feats_dir, "_manifest.json"))
    stray = os.path.join(feats_dir, "part-99999-stray.snappy.parquet")
    with open(stray, "wb") as f:
        f.write(b"a part file cut off mid-write")

    m2 = run_checkpointed(spark, docs, out, fingerprint="fp1")
    assert m2["roads"] == m1["roads"]
    assert m2["intersections"] == m1["intersections"]
    assert {s: files(s) for s in ("roads", "intersections")} == kept
    assert not os.path.exists(stray)
    assert m2["features"]["fingerprint"] == "fp1"
    assert m2["features"]["rows"] == m1["features"]["rows"]
    assert feature_jsons() == want
