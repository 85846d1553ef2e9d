"""Engine configuration — the Spark analogue of osm2streets' MapConfig
(reference: osm2lanes/src/lib.rs:546-597).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class MapConfig:
    """Per-run import options.

    Mirrors reference MapConfig (osm2lanes/src/lib.rs:546-597): driving
    side, sidewalk inference, plus our engine's transform toggles and
    cell/tile knobs (north_star: H3/S2-style cell encoding — we use
    web-mercator quadkey cells, same hierarchical role). Every field is
    read by the engine; tests/test_session.py checks that.
    """

    driving_side: str = "right"  # "right" | "left"
    inferred_sidewalks: bool = True
    # T3 sidepath zipping is opt-in, matching the reference's
    # experimental toggle (osm2streets-py/src/lib.rs:90-99)
    zip_sidepaths: bool = False
    # T4: the reference's standard_for_clipped_areas list does NOT
    # remove disconnected roads (transform/mod.rs:21-29) — golden-parity
    # runs set False; the corpus default keeps the cleanup on
    remove_disconnected: bool = True
    # tile/cell index: feature tile and quadkey resolution
    cell_zoom: int = 16
    # per-doc transform kernel: a doc with more roads than this splits
    # into ~10 km quadkey cells (zoom 12) with frozen-seam guards, so a
    # single megacity document cannot pin one task (north_rule skew
    # handling). Test/parity docs stay far below the threshold.
    transform_split_threshold: int = 4000
    transform_split_zoom: int = 12


DEFAULT_CONFIG = MapConfig()

# Highway whitelist — reference streets_reader/src/extract.rs:106-129.
HIGHWAY_WHITELIST = [
    "motorway", "motorway_link", "trunk", "trunk_link",
    "primary", "primary_link", "secondary", "secondary_link",
    "tertiary", "tertiary_link", "residential", "unclassified",
    "service", "living_street", "busway",
    "cycleway", "footway", "path", "pedestrian", "steps", "track",
]

RAILWAY_WHITELIST = ["light_rail", "rail"]
