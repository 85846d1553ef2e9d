"""Golden parity against the REAL reference fixtures
(/root/reference/tests/src/*) — the reference's own snapshot corpus
(tests/src/lib.rs:17-90). The full 29-area sweep lives in
scripts/reference_parity.py (writes FIXTURES_PARITY.md); this module
keeps a fast representative subset green in CI: small areas plus one
of each hard class (ramp junction, roundabout, sausage link, clipped
highway mesh)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm2streets_spark.plans.parity import run_reference_parity
from osm2streets_spark.sources.reference_fixtures import REF_SRC

AREAS = [
    "tiny_loop",            # loop street + clip
    "tiny_roundabout",      # junction=roundabout oneway implication
    "degenerate_bug",       # degenerate collapse chain
    "seattle_triangle",     # signalized crossings + separate sidewalks
    "oneway_loop",          # oneway service loops
    "aurora_sausage_link",  # T1 collapse + pretrimmed geometry memo
]


@pytest.fixture(scope="module")
def results(spark):
    if not os.path.isdir(REF_SRC):
        pytest.skip("reference fixtures not present")
    return run_reference_parity(spark, AREAS)


@pytest.mark.parametrize("area", AREAS)
def test_reference_area_parity(results, area):
    m = results[area]
    assert m["pass"], (
        f"{area}: roads {m['golden_roads']}/{m['our_roads']} "
        f"ints {m['golden_ints']}/{m['our_ints']} "
        f"int%={m['int_match_pct']} road%={m['road_match_pct']} "
        f"ctrl%={m['control_agree_pct']} kind%={m['kind_agree_pct']}")


def test_parity_sweep_artifact_gate():
    """Round-5 tightened gate over the committed full-sweep artifact
    (refreshed by scripts/reference_parity.py): all 30 areas pass the
    per-area bar, and at least 20 meet the numerical-convergence
    criterion (mean_int_dist <= 0.5 m OR exact-match >= 80%) from the
    round-4 verdict. Currently 30/30 meet it."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "FIXTURES_PARITY.json")
    d = json.load(open(path))
    assert len(d) == 30
    assert all(m["pass"] for m in d.values()), [
        a for a, m in d.items() if not m["pass"]]
    tight = [a for a, m in d.items()
             if m["mean_int_dist_m"] <= 0.5
             or m["int_geom_exact"] / max(m["int_matched"], 1) >= 0.8]
    assert len(tight) >= 20, f"only {len(tight)} areas meet the bar"


def test_parity_byte_exactness_ratchet():
    """Round-6 ratchet (round-5 verdict ask #6): ring-level byte
    exactness (1 cm/vertex after canonicalization) must stay at or
    above the level reached this round — >= 20 of 30 areas with >= 80 %
    of matched intersections ring-exact, and >= 82 % ring-exact
    overall. Reached via: the geom crate's haversine meters-per-degree
    (measured off the goldens' 0.1 mm quantization grid), shifted-
    polyline cap corners, Ring::deduping_new emission mirroring, the
    node-anchored 60-pt fallback circle, and full-precision GeoJSON
    output (our former 1e-7-deg rounding amplified ~0.5 cm residuals
    across the 1 cm gate)."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "FIXTURES_PARITY.json")
    d = json.load(open(path))
    frac = {a: m["int_geom_exact"] / max(m["int_matched"], 1)
            for a, m in d.items()}
    areas82 = [a for a, f in frac.items() if f >= 0.82]
    assert len(areas82) >= 30, (
        f"only {len(areas82)} areas >= 82% ring-exact: "
        f"{sorted((round(f, 3), a) for a, f in frac.items())[:8]}")
    tot_ex = sum(m["int_geom_exact"] for m in d.values())
    tot = sum(m["int_matched"] for m in d.values())
    # reached 30/30 areas >= 83.8% and 93.0% overall in round 7 (0.1 mm
    # clip grid; lanes:psv, per-lane width tags, cycleway:both,
    # track-roadway, segregated-footpath, oneway lane-list rules; tip
    # rejection refined); the floor keeps a small margin for
    # metric-neutral refactors
    assert tot_ex / tot >= 0.91, f"overall exact {tot_ex}/{tot}"


def test_span_sequence_passthrough(spark, fixture_dir):
    """north_rule per-row invariant: the output document table
    preserves every input span sequence exactly (synthetic corpus, so
    it runs without the reference fixtures)."""
    from osm2streets_spark.plans.pipeline import (
        build_street_network, load_documents,
    )

    docs = load_documents(spark, fixture_dir)
    net = build_street_network(spark, docs)
    inp = {r.doc_id: [tuple(s) for s in r.spans] for r in docs.collect()}
    out = {r.doc_id: [tuple(s) for s in r.spans]
           for r in net["output_documents"].collect()}
    assert inp and out == inp
