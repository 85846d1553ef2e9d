"""K1 lane inference as a pure per-row kernel behind `row_udf`.

The reference runs lane inference eagerly in Road::new (road.rs:109).
Here it is one Arrow-batched pass over the (much smaller) distinct-way
table; road segments of the same way share the result via a join.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, StringType, StructField, StructType,
)

from ..lanes import get_lane_specs_ltr, lanes_to_chars, dirs_to_chars
from ..lanes.inference import oneway_for_driving, DRIVING, car_access_blocked
from ..lanes.placement import placement_shift
from .geometry_update import row_udf

LANE_RESULT = StructType([
    StructField("lane_specs_json", StringType()),
    StructField("lane_chars", StringType()),
    StructField("dir_chars", StringType()),
    StructField("total_width", DoubleType()),
    StructField("driveable", BooleanType()),
    StructField("oneway_dir", StringType()),  # 'forward'|'backward'|'' (bidi)
    StructField("placement_shift", DoubleType()),  # K3/K5 (road.rs:166-193)
])


def lane_row(tags_json, driving_side, inferred_sidewalks) -> tuple:
    """One way's tags → its LANE_RESULT tuple."""
    tags = json.loads(tags_json) if tags_json else {}
    side = driving_side or "right"
    specs = get_lane_specs_ltr(tags, driving_side=side,
                               inferred_sidewalks=bool(inferred_sidewalks))
    return (
        json.dumps([s.as_dict() for s in specs], separators=(",", ":")),
        lanes_to_chars(specs),
        dirs_to_chars(specs),
        # A2: total width = Σ lane widths (road.rs:303-308)
        round(sum(s.width for s in specs), 6),
        any(s.lt == DRIVING for s in specs) and not car_access_blocked(tags),
        # routing direction derives from the LANE DIRECTIONS, exactly
        # like the reference (road.rs:228-254 → LaneSpec::
        # oneway_for_driving, lib.rs:372-393): a road whose driving
        # lanes all point forward is one-way for movements even when
        # that came from a lanes=1 tag rather than oneway=yes (i5 golden
        # Fork junctions depend on this; the earlier tag-based shortcut
        # mis-classified them as Cross)
        oneway_for_driving(specs) or "",
        round(placement_shift(tags, specs, side), 6),
    )


def with_lanes(ways: DataFrame, driving_side: str = "right",
               inferred_sidewalks: bool = True) -> DataFrame:
    """Attach lane columns to the filtered-ways table."""
    res = ways.withColumn(
        "_lanes", row_udf(lane_row, LANE_RESULT)(
            F.col("tags_json"), F.lit(driving_side),
            F.lit(inferred_sidewalks))
    )
    return res.select("*", "_lanes.*").drop("_lanes")
