"""Lane inference: OSM tag map → ordered left-to-right LaneSpec list.

From-scratch reimplementation of the semantics of osm2lanes'
``get_lane_specs_ltr`` (reference osm2lanes/src/algorithm.rs:23-86, which
delegates tag interpretation to the muv_osm crate). We interpret the
common tag vocabulary directly:

* driving lane counts (``lanes``, ``lanes:forward/backward``, ``oneway``)
* sidewalk tags + inference (reference algorithm.rs:326-373)
* cycle lanes and separated tracks (``cycleway:left/right=lane|track``,
  ``…:oneway=no``, ``oneway:bicycle=no``)
* parking lanes (``parking:lane:left/right/both``)
* centre turn lane (``centre_turn_lane=yes``)
* bus lanes (``busway[:left/right/both]=lane``)
* kerb buffers between footpath zone and roadway (algorithm.rs:62-74)
* construction lifecycle (algorithm.rs:79-83)
* standalone footway/path/cycleway/steps/pedestrian/track + light rail

Direction model (verified against reference unit cases in
osm2lanes/src/tests.rs:14-101): travel lanes carry intrinsic directions;
the centre line sits between the last backward and first forward travel
lane; positional lanes (sidewalk/parking/buffer/shoulder) take the
traffic direction of their side of the centre line (RHT: left=backward),
mirroring algorithm.rs:89-112.

Char codec matches the reference test surface exactly
(osm2lanes/src/lib.rs to_char: d p s S b B C x l | f F; dirs ^ v).
"""

from __future__ import annotations

from dataclasses import dataclass, field


# lane-type string constants (serialized into the Spark ArrayType column)
DRIVING = "driving"
PARKING = "parking"          # parking_type in subtype
SIDEWALK = "sidewalk"
SHOULDER = "shoulder"
BIKING = "biking"
BUS = "bus"
SHARED_LEFT_TURN = "shared_left_turn"
CONSTRUCTION = "construction"
LIGHT_RAIL = "light_rail"
BUFFER = "buffer"            # buffer kind in subtype
FOOTWAY = "footway"
SHARED_USE = "shared_use"

FWD = "forward"
BACK = "backward"

# access values that deny general motor traffic outright — these ways
# are not driveable (Road::is_driveable false, road.rs:217-221;
# observed on the leeds_cycleway golden: access=no / delivery service
# roads are Connection, never Terminus/Fork). access=private/destination
# remain DRIVEABLE (service_road_loop golden: private oneway loops form
# Fork/Intersection kinds) but still distinguish lane specs — the
# reference's LaneSpec embeds the raw muv Lane (osm2lanes lib.rs:289),
# so any access difference breaks lane-spec equality in T2.
# customers stays DRIVEABLE too (tempe_light_rail golden: an
# access=customers service stub is a Terminus, which requires one
# driveable road)
_CAR_DENIED = {"no", "delivery", "agricultural", "forestry", "emergency",
               "permit"}
_CAR_UNREMARKABLE = {None, "yes", "designated", "permissive"}


def car_access_value(tags: dict) -> str | None:
    for key in ("motor_vehicle", "vehicle", "access"):
        v = tags.get(key)
        if v is not None:
            return v
    return None


def car_access_blocked(tags: dict) -> bool:
    """True when general motor traffic cannot use the way at all."""
    return car_access_value(tags) in _CAR_DENIED


def _psv_designated(tags: dict) -> bool:
    return (tags.get("psv") in ("yes", "designated")
            or tags.get("bus") in ("yes", "designated")
            or bool(tags.get("bus:lanes")))

TO_CHAR = {
    DRIVING: "d", PARKING: "p", SIDEWALK: "s", SHOULDER: "S",
    BIKING: "b", BUS: "B", SHARED_LEFT_TURN: "C", CONSTRUCTION: "x",
    LIGHT_RAIL: "l", BUFFER: "|", FOOTWAY: "f", SHARED_USE: "F",
}

# default widths in meters — reference osm2lanes/src/lib.rs:293-363
# (typical_lane_widths first entry per type; NORMAL=3.0, SERVICE=2.0,
#  SIDEWALK=1.5, SHOULDER=0.5 from lib.rs:23-26)
def default_width(lt: str, subtype: str, highway_type: str) -> float:
    if lt == DRIVING:
        return 2.0 if highway_type == "service" else 3.0
    if lt == PARKING:
        return 2.0 if highway_type == "service" else 3.0
    if lt == BIKING:
        return 1.5
    if lt == BUS:
        return 3.048  # 10 ft
    if lt == SIDEWALK:
        return 1.5
    if lt == SHOULDER:
        return 0.5
    if lt == SHARED_LEFT_TURN:
        return 3.0
    if lt == CONSTRUCTION:
        return 3.0
    if lt == LIGHT_RAIL:
        return 3.0
    if lt == FOOTWAY:
        return 2.0
    if lt == SHARED_USE:
        return 3.0
    if lt == BUFFER:
        return {
            "stripes": 1.5, "flex_posts": 0.5, "planters": 2.0,
            "jersey_barrier": 1.5, "curb": 0.1, "verge": 2.0,
        }.get(subtype, 0.5)
    return 3.0


@dataclass
class LaneSpec:
    lt: str
    dir: str
    width: float
    subtype: str = ""
    allowed_turns: list = field(default_factory=list)
    # True when the width came from an explicit per-lane tag
    # (cycleway:<side>:width, width:lanes:<dir>) — muv passes those
    # through verbatim (osm2lanes/src/algorithm.rs:125-128
    # lane.width.map_or_else), so the blanket width=* carriageway
    # scaling must not rescale them
    width_pinned: bool = False

    def as_dict(self) -> dict:
        return {
            "lt": self.lt, "dir": self.dir, "width": self.width,
            "subtype": self.subtype, "allowed_turns": list(self.allowed_turns),
        }


def lanes_to_chars(specs: list[LaneSpec]) -> str:
    return "".join(TO_CHAR[s.lt] for s in specs)


def dirs_to_chars(specs: list[LaneSpec]) -> str:
    return "".join("^" if s.dir == FWD else "v" for s in specs)


TURN_DIRECTIONS = {
    "left", "slight_left", "sharp_left", "through", "right",
    "slight_right", "sharp_right", "merge_left", "merge_right", "reverse",
}


def _parse_turns(value: str) -> list[str]:
    """turn:lanes single-lane value → list of turn directions
    (reference osm2lanes/src/turns.rs:45-72; ';'-separated)."""
    out = []
    for raw in value.split(";"):
        t = raw.strip()
        if t in ("", "none"):
            continue
        if t in TURN_DIRECTIONS:
            out.append(t)
    return out


def infer_sidewalk_tag(tags: dict, driving_side: str) -> str | None:
    """Reference algorithm.rs:326-373 (infer_sidewalk_tags)."""
    if "sidewalk" in tags:
        return tags["sidewalk"]
    hw = tags.get("highway", "")
    if hw in ("footway", "path", "pedestrian", "steps", "track"):
        return None
    if "sidewalk:left" in tags or "sidewalk:right" in tags:
        right = tags.get("sidewalk:right") != "no"
        left = tags.get("sidewalk:left") != "no"
        return {(True, True): "both", (True, False): "right",
                (False, True): "left", (False, False): "none"}[(right, left)]
    if (hw in ("motorway", "motorway_link")
            or tags.get("junction") in ("intersection", "roundabout")
            or tags.get("foot") == "no"
            or hw in ("service", "cycleway", "pedestrian", "track")):
        return "none"
    if tags.get("oneway") == "yes":
        side = "right" if driving_side == "right" else "left"
        if hw in ("residential", "living_street") and tags.get("dual_carriageway") != "yes":
            return "both"
        return side
    return "both"


def _bike_pair(tags: dict, side: str, street_dir: str | None,
               side_default_dir: str):
    """Return (kind, lanes) for cycleway on ``side``; kind in
    {None, 'lane', 'track'}; lanes is list of (dir,) ordered
    backward-then-forward for two-way.

    ``street_dir``: the street's travel direction (FWD/BACK) when it is
    a oneway, None for two-way — so a reverse-oneway's single bike lane
    is emitted BACK instead of relying on the caller's side-default
    fallback (r7 ADVICE: the lane-list subtraction counted FWD lanes
    that were actually emitted BACK and stayed correct only by a
    direction mismatch)."""
    street_oneway = street_dir is not None
    # :both is the explicit two-sided form (neukolln Karl-Marx-Straße:
    # cycleway:both=lane puts an advisory lane on each side even on
    # oneways — unlike the bare `cycleway`, which muv expands to both
    # sides only for two-way roads)
    explicit_side = tags.get(f"cycleway:{side}")
    val = (explicit_side or tags.get("cycleway:both")
           or tags.get("cycleway"))
    # 'opposite' (legacy contraflow-permitted) and 'shared_lane'
    # (sharrow markings) add no separate lane — muv produces identical
    # lane specs for cycleway=opposite and cycleway:both=no, which is
    # what lets the reference splice the borough_sausage_links chains
    if val in (None, "no", "none", "separate", "opposite", "shared_lane",
               "shared", "share_busway", "opposite_share_busway",
               # side names are not valid VALUES for the bare cycleway
               # key — muv ignores them (leeds golden: Regent Street
               # 663639116 cycleway=left lanes=2 renders 6.0 m = dd,
               # no bike lane on either side)
               "left", "right", "both"):
        return None, []
    kind = "track" if val in ("track", "opposite_track") else "lane"
    side_oneway = tags.get(f"cycleway:{side}:oneway")
    if side_oneway == "-1":
        # explicit per-side contraflow: ONE lane running against the
        # way (oneway_loop way 392134508: cycleway:right:oneway=-1 +
        # oneway:bicycle=no renders 7.7 m = s|db|s, a single backward
        # bike lane — the blanket oneway:bicycle=no must not double it)
        return kind, [BACK]
    twoway = (
        side_oneway == "no"
        or (side_oneway is None and tags.get("oneway:bicycle") == "no"
            # the blanket contraflow marker doubles only lanes implied
            # by the BARE cycleway key; an explicit cycleway:<side>
            # tag describes ONE physical lane (kingsway golden
            # 60577044: cycleway:left=lane + oneway:bicycle=no on a
            # oneway renders 7.5 m = bdd, not 9.0 = bbdd) — and
            # cycleway:both is equally explicit (r7 ADVICE): one
            # physical lane PER SIDE, so the doubling must not turn it
            # into four (neukolln golden 880707286: cycleway:both=lane
            # + oneway:bicycle=no on a oneway residential renders
            # ~6.0 m = bdb, not 9.0 = bbdbb)
            and explicit_side is None
            and tags.get("cycleway:both") is None)
    )
    if twoway:
        return kind, [BACK, FWD]
    # single bike lane: the travel direction on a oneway street, else
    # the side's direction
    return kind, [street_dir if street_oneway else side_default_dir]


_NON_TRAVEL = {"sidewalk", "buffer"}


def _apply_width_tag(specs: list["LaneSpec"], tags: dict) -> None:
    """Explicit width/est_width sets the CARRIAGEWAY (kerb-to-kerb)
    width of the way: every lane except sidewalks and kerb buffers —
    driving, bus, bike, parking, shoulder — is scaled proportionally so
    that subtotal equals the tag value.  Pinned by goldens: st_georges
    width=9 residential 238956293 renders 9.01 m and width=5 414489467
    renders 5.01 m (roadways scale too, not just standalone paths);
    st_georges est_width=4 + sidewalk=right cycleway 414489468 renders
    5.61 m = 4.0 + 0.11 kerb + 1.5 sidewalk (the sidewalk does NOT
    absorb a share); neukolln width=6 residential 1132568204 with
    parking:right=lane renders 6.01 m total (parking IS inside the
    scaled set, driving+parking together = 6).  Falls back to scaling
    every lane when the way has no carriageway lanes at all."""
    wv = tags.get("width") or tags.get("est_width")
    if not wv:
        return
    try:
        total = float(str(wv).replace("m", "").strip())
    except ValueError:
        return
    if not 0.3 <= total <= 30.0:
        return
    travel = [sp for sp in specs if sp.lt not in _NON_TRAVEL]
    target = travel if travel else specs
    # lanes whose width came from an explicit per-lane tag keep it
    # (muv: lane.width wins over typical); the blanket width=* covers
    # the REST of the carriageway — neukolln's Karl-Marx-Straße ways
    # (width=13, cycleway:both:width=1.8, width:lanes:*=3.3) render
    # 10.2 m = the sum of the explicit widths, not 13 scaled
    pinned = [sp for sp in target if sp.width_pinned]
    target = [sp for sp in target if not sp.width_pinned]
    total -= sum(sp.width for sp in pinned)
    if not target or total <= 0:
        return
    dsum = sum(sp.width for sp in target) or 1.0
    for sp in target:
        sp.width = round(total * sp.width / dsum, 6)


def get_lane_specs_ltr(tags: dict, driving_side: str = "right",
                       inferred_sidewalks: bool = True) -> list[LaneSpec]:
    tags = dict(tags)
    hw = tags.get("highway", "")
    railway = tags.get("railway", "")
    construction = hw == "construction"
    if construction:
        hw = tags.get("construction", "residential")
        tags["highway"] = hw

    # --- standalone non-road types -------------------------------------
    specs: list[LaneSpec] | None = None
    if railway in ("light_rail", "rail") and hw == "":
        # ONE track lane regardless of oneway/tracks: the oneway_loop
        # golden's railway=rail tracks=4 (no oneway) ways render 3.0 m
        # wide and their MapEdge terminus squares are 3.0 m — a single
        # LightRail lane (muv ranks Train→LightRail; it does not
        # double bidirectional rail)
        specs = [LaneSpec(LIGHT_RAIL, FWD, default_width(LIGHT_RAIL, "", hw))]
    elif hw in ("footway", "pedestrian", "steps"):
        # a separately-mapped sidewalk is a SIDEWALK lane, not a footway
        # (osm2lanes algorithm.rs:279-285: sidepath footways become
        # Sidewalk) — this also keeps T2 from splicing a sidewalk way
        # with a crossing way (their lane specs must differ)
        if tags.get("foot") == "yes" and tags.get("bicycle") in \
                ("yes", "designated") and tags.get("segregated") != "yes":
            # an unsegregated footway explicitly shared by foot AND
            # bike is a shared-use path (tests.rs way/523882355 "F";
            # bicycle=yes ALONE does not upgrade — the taipei golden
            # renders footway+bicycle=yes 461272339 as a 2.0 m footway)
            specs = [LaneSpec(SHARED_USE, FWD,
                              default_width(SHARED_USE, "", hw))]
        else:
            lt = SIDEWALK if tags.get("footway") == "sidewalk" else FOOTWAY
            # width follows the LANE TYPE: a separately-mapped sidewalk
            # is 1.5 m (SIDEWALK_THICKNESS), a plain footway 2.0 m —
            # verified against the neukolln golden (sidewalk-crossing
            # corner sits 0.75 m off center) and the tempe golden
            # (footway=crossing pieces render 2.0 m wide)
            specs = [LaneSpec(lt, FWD, default_width(lt, "", hw))]
        if tags.get("segregated") == "yes" \
                and tags.get("bicycle") == "designated":
            # segregated foot+cycle path mapped as a footway: a
            # separate bike lane rides alongside the foot lane (muv
            # segregated path semantics; the taipei goldens render the
            # footway=sidewalk + bicycle=designated + segregated=yes
            # ways 3.0 m wide — 1.5 sidewalk + 1.5 bike — including a
            # 3.0 m terminus trim, vs 1.5 for a plain sidewalk).
            # bicycle=yes alone does NOT widen (taipei 461272339
            # stays 2.0 m in its golden).
            specs = [LaneSpec(BIKING, FWD, default_width(BIKING, "", hw))] \
                + specs
    elif hw == "path":
        specs = [LaneSpec(SHARED_USE, FWD, default_width(SHARED_USE, "", hw))]
    elif hw == "cycleway":
        w = default_width(BIKING, "", hw)
        if (tags.get("foot") in ("yes", "designated")
                and tags.get("segregated") != "yes") \
                or tags.get("segregated") == "no":
            # foot=designated counts as foot-shared too (leeds golden:
            # 363049230 bicycle=designated foot=designated renders a
            # 3.0 m shared-use lane, its junction shifted 0.75 m off
            # our former 1.5 m bike-only reading)
            # foot-shared unsegregated cycleway = 3 m shared-use
            # lane(s) (bristol golden: 280732115 renders 3.0 m wide,
            # not 6.0). An explicit segregated=no alone means the same
            # thing even without foot=yes (st_georges golden:
            # 749084838 renders 3.0 m, not the bare-cycleway 1.5).
            # Like bike lanes, the default is ONEWAY; an explicit
            # oneway=no doubles the shared lane (st_georges golden:
            # 749950688 oneway=no segregated=no terminus-trims 6.01 m
            # = 2 x 3.0 total width; bristol's has no oneway tag)
            w_sh = default_width(SHARED_USE, "", hw)
            if tags.get("oneway") == "no":
                if driving_side == "right":
                    specs = [LaneSpec(SHARED_USE, BACK, w_sh),
                             LaneSpec(SHARED_USE, FWD, w_sh)]
                else:
                    specs = [LaneSpec(SHARED_USE, FWD, w_sh),
                             LaneSpec(SHARED_USE, BACK, w_sh)]
            else:
                specs = [LaneSpec(SHARED_USE, FWD, w_sh)]
        else:
            _has_sw_tag = any(k in tags for k in
                              ("sidewalk", "sidewalk:left",
                               "sidewalk:right", "sidewalk:both"))
            # segregated=yes + an EXPLICIT foot=no (and no sidewalk
            # tag) is the full separated-track form: footpath + TWO
            # bike lanes even when tagged oneway (leeds golden
            # 668997031 oneway=yes foot=no and st_georges 414489472
            # both render 5.0 m = fbb; oneway segregated ways with
            # foot untagged keep the single travel lane — adding the
            # pair there regressed four st_georges roads)
            _seg_track = (tags.get("segregated") == "yes"
                          and tags.get("foot") == "no"
                          and not _has_sw_tag)
            if tags.get("oneway") == "no" or _seg_track:
                # TWO bike lanes otherwise only when bidirectionality
                # is EXPLICIT: muv defaults a bare highway=cycleway to
                # oneway — the leeds golden renders untagged 566234612
                # at 1.5 m (junction-polygon corners ±0.75 m off
                # center) while st_georges' oneway=no 416813994
                # renders 3.0 m. Two-way order follows the driving
                # side (osm2lanes tests.rs way/414489468: LHT "bb" is
                # "^v").
                if driving_side == "right":
                    specs = [LaneSpec(BIKING, BACK, w),
                             LaneSpec(BIKING, FWD, w)]
                else:
                    specs = [LaneSpec(BIKING, FWD, w),
                             LaneSpec(BIKING, BACK, w)]
            else:
                specs = [LaneSpec(BIKING, FWD, w)]
            if tags.get("segregated") == "yes" \
                    and (tags.get("foot") in ("yes", "designated")
                         or not _has_sw_tag):
                # segregated=yes implies the footpath even without a
                # foot tag — and even with foot=no (leeds 668997031 /
                # st_georges 414489472 goldens render 5.0 m = fbb) —
                # UNLESS an explicit sidewalk tag carries the
                # pedestrians instead (borough 1164020779 renders fbb;
                # st_georges 414489468 sidewalk=right renders bb|s
                # with NO footpath)
                # segregated foot+cycle track: a separate 2.0 m foot
                # path rides alongside the bike lanes on the KERB side
                # — left for LHT, right for RHT (st_georges golden:
                # 237438710 foot=yes segregated=yes oneway=no renders
                # 5.0 m = 2.0 + 1.5 + 1.5 and its junction polygons
                # sit at shift -1.0, i.e. the foot path is the
                # LEFTMOST lane on this LHT way)
                w_f = default_width(FOOTWAY, "", hw)
                if driving_side == "right":
                    specs = specs + [LaneSpec(FOOTWAY, FWD, w_f)]
                else:
                    specs = [LaneSpec(FOOTWAY, BACK, w_f)] + specs
            # explicit sidewalk tags on a standalone cycleway add a
            # sidewalk lane behind a kerb (tests.rs way/414489468
            # "bb|s" and way/705809125 "s|b")
            sw = tags.get("sidewalk")
            sw_l = sw in ("left", "both")
            sw_r = sw in ("right", "both")
            l_dir = BACK if driving_side == "right" else FWD
            r_dir = FWD if driving_side == "right" else BACK
            w_sw = default_width(SIDEWALK, "", hw)
            w_curb = default_width(BUFFER, "curb", hw)
            if sw_l:
                specs = [LaneSpec(SIDEWALK, l_dir, w_sw),
                         LaneSpec(BUFFER, l_dir, w_curb, "curb")] + specs
            if sw_r:
                specs = specs + [LaneSpec(BUFFER, r_dir, w_curb, "curb"),
                                 LaneSpec(SIDEWALK, r_dir, w_sw)]
    if specs is not None:
        _apply_width_tag(specs, tags)
        if construction:
            for s in specs:
                s.lt = CONSTRUCTION
        return specs

    # --- roadway assembly -----------------------------------------------
    # junction=roundabout/circular implies oneway=yes (standard OSM
    # implication, applied by the reference's muv tag model). Local value
    # only — never write into the caller's dict.
    oneway_val = tags.get("oneway")
    if oneway_val is None and tags.get("junction") in ("roundabout",
                                                       "circular"):
        oneway_val = "yes"
    # reversible/alternating roads carry traffic one way at any instant
    # (i5 golden: oneway=reversible motorway_link junctions classify as
    # Connection, which requires a single through movement)
    oneway = oneway_val in ("yes", "reversible", "alternating")
    reverse_oneway = oneway_val == "-1"

    n_lanes = None
    if tags.get("lanes", "").isdigit():
        n_lanes = max(1, int(tags["lanes"]))
    if n_lanes is None:
        # muv's lane-count default is direction-based, not highway-type
        # based: bidirectional service roads get 2 narrow lanes (every
        # golden service polygon with oneway=no measures 4.0 m = 2×2.0;
        # oneway ones measure 2.0)
        n_lanes = 1 if (oneway or reverse_oneway) else 2

    # busway lanes are COUNTED IN `lanes` (standard OSM: lanes = all
    # full-width traffic lanes incl. bus, excl. bike) — the st_georges
    # golden renders 967715653 (lanes=4, lanes:forward=3,
    # busway:right contraflow) at 18.3 m = 3 driving + 1 bus, not
    # 4 driving + 1 bus (corners sit ±9.16 m off center)
    _busway = tags.get("busway:both") or tags.get("busway")
    _n_bus = (
        (tags.get("busway:left", _busway if _busway else None) == "lane")
        + (tags.get("busway:right", _busway if _busway else None)
           == "lane"))
    if (_n_bus == 2 and (oneway or reverse_oneway)
            and tags.get("busway") == "lane"
            and not tags.get("busway:both")
            and not tags.get("busway:left")
            and not tags.get("busway:right")):
        # bare busway=lane on a oneway is a SINGLE kerb-side lane (see
        # the assembly-side rule below) — keep the count consistent
        _n_bus = 1

    def _list_types_bus(d: str) -> bool:
        # does a bus/psv per-lane list type any travel lane in
        # direction d as a bus lane?
        for k in ("bus", "psv"):
            v = tags.get(f"{k}:lanes:{d}")
            if v is None and ((d == "forward" and oneway)
                              or (d == "backward" and reverse_oneway)):
                v = tags.get(f"{k}:lanes")
            if v and "designated" in v.split("|"):
                return True
        return False

    _street_ow = oneway or reverse_oneway
    _travel = "backward" if reverse_oneway else "forward"
    # a bus/psv lane LIST and a busway:<side>=lane tag describe the
    # SAME lane — when the list already types a travel lane as bus, the
    # busway side tag must not append a second one or shrink the
    # driving count (leeds golden way 39597033: busway:left=lane +
    # lanes=2 + psv:lanes=designated|yes renders 6.048 m = one 3.048 m
    # bus + one 3.0 m driving lane, not two bus lanes)
    _list_bus_travel = _street_ow and _list_types_bus(_travel)
    if _list_bus_travel:
        _n_bus = 0
    elif _n_bus == 0 and _street_ow:
        # the COUNT form: lanes:psv=N / lanes:bus=N says N of the
        # `lanes` travel lanes are bus lanes; on a oneway they sit
        # kerb-side like the bare-busway rule (st_georges goldens: all
        # seven lanes=3 + lanes:psv=1 primaries render 10.648 m =
        # s|Bdd with a 3.048 m kerb-side bus lane — the uniform 2.4 cm
        # ring shift at their junctions was the missing 0.048 m)
        _psv_n = tags.get("lanes:psv") or tags.get("lanes:bus") or ""
        if _psv_n.isdigit() and int(_psv_n) > 0:
            _n_bus = min(int(_psv_n), max(1, n_lanes - 1))
    n_fwd = n_back = 0
    if oneway:
        if tags.get("lanes:forward", "").isdigit():
            n_fwd = int(tags["lanes:forward"])
        else:
            n_fwd = max(1, n_lanes - (_n_bus if "lanes" in tags else 0))
    elif reverse_oneway:
        n_back = max(1, n_lanes - (_n_bus if "lanes" in tags else 0)) \
            if not tags.get("lanes:backward", "").isdigit() \
            else int(tags["lanes:backward"])
    else:
        if tags.get("lanes:forward", "").isdigit():
            n_fwd = int(tags["lanes:forward"])
            n_back = (int(tags["lanes:backward"])
                      if tags.get("lanes:backward", "").isdigit()
                      else max(0, n_lanes - n_fwd))
        elif tags.get("lanes:backward", "").isdigit():
            n_back = int(tags["lanes:backward"])
            n_fwd = max(0, n_lanes - n_back)
        else:
            n_back = n_lanes // 2
            n_fwd = n_lanes - n_back

    # muv counts per-direction lanes from ANY `<key>:lanes:<dir>` list:
    # the number of '|'-separated entries IS the lane count for that
    # direction, trumping a stale `lanes` total (aurora golden:
    # bus:lanes:forward=yes|yes|designated widens Aurora Ave to 3
    # forward lanes even though lanes=5/lanes:forward=2). The
    # per-entry values also type the lanes (designated → Bus).
    _LANE_LIST_KEYS = ("bus", "psv", "access", "vehicle", "motor_vehicle",
                      "hgv", "turn")
    lane_lists: dict[str, list[str]] = {}
    for d in ("forward", "backward"):
        for k in _LANE_LIST_KEYS:
            v = tags.get(f"{k}:lanes:{d}")
            if v is None and (
                    (d == "forward" and oneway)
                    or (d == "backward" and reverse_oneway)):
                # the BARE `<key>:lanes` list (no direction suffix) is
                # how oneway roads tag per-lane values — taipei golden
                # way 306251259: bus:lanes=designated||| on a oneway
                # lanes=4 renders 12.048 m = one 3.048 m bus lane +
                # three driving lanes
                v = tags.get(f"{k}:lanes")
            if v:
                parts = v.split("|")
                lane_lists.setdefault(d, [""] * len(parts))
                if len(parts) > len(lane_lists[d]):
                    lane_lists[d] = lane_lists[d] + \
                        [""] * (len(parts) - len(lane_lists[d]))
                if k in ("bus", "psv"):
                    for i, p in enumerate(parts):
                        if p == "designated":
                            lane_lists[d][i] = "bus"
    if not oneway and not reverse_oneway:
        if "forward" in lane_lists:
            n_fwd = max(n_fwd, len(lane_lists["forward"]))
        if "backward" in lane_lists:
            n_back = max(n_back, len(lane_lists["backward"]))
    else:
        # the list trumps a stale `lanes` on ONEWAYS too, but the
        # :lanes suffix counts bike LANES as well (osm2lanes lib.rs
        # is_tagged_by_lanes_suffix: Biking true) — subtract them so a
        # list that includes the bike lane doesn't widen the
        # carriageway (aurora golden 792024858: oneway lanes=2 +
        # bus:lanes:forward=yes|yes|designated renders ~9.05 m =
        # ddB three travel lanes; st_georges 967715653's 4-entry
        # bicycle:lanes:forward minus its cycleway:left=lane keeps
        # lanes:forward=3)
        def _fwd_bike_lanes() -> int:
            # count lanes emitted in the street's actual travel
            # direction (BACK for reverse-oneways — r7 ADVICE: the
            # former (True, FWD) call modeled every oneway as forward)
            td = BACK if reverse_oneway else FWD
            n = 0
            for s in ("left", "right"):
                kind, dirs = _bike_pair(tags, s, td, td)
                if kind == "lane":
                    n += sum(1 for dd in dirs if dd == td)
            return n

        d = "backward" if reverse_oneway else "forward"
        if d in lane_lists:
            boost = len(lane_lists[d]) - _fwd_bike_lanes()
            if oneway:
                n_fwd = max(n_fwd, boost)
            else:
                n_back = max(n_back, boost)

    lane_lt = BUS if hw == "busway" else DRIVING
    lane_subtype = ""
    av = car_access_value(tags)
    if lane_lt == DRIVING and av not in _CAR_UNREMARKABLE:
        if av in _CAR_DENIED and _psv_designated(tags):
            # cars banned but buses designated → the travel lanes are
            # Bus lanes (muv mode ranking; leeds access=no psv=yes)
            lane_lt = BUS
        else:
            # the lane carries its access restriction (muv Lane is
            # embedded in the reference LaneSpec) — keeps T2 from
            # splicing a public driveway with a private one (neukolln
            # 674864364 vs 674864365); hard denials additionally set
            # driveable=false in the lanes UDF
            lane_subtype = f"access:{av}"
    w_drive = default_width(lane_lt, "", hw)
    if lane_lt == DRIVING and hw == "service" \
            and av in ("no", "delivery"):
        # hard-denied service corridors render NORMAL 3.0 m lanes,
        # not the 2.0 m alley width (leeds goldens: access=no
        # parking aisles 218332069-71 measure ~6.0 m = 2 x 3.0,
        # access=no oneway 29053005 ~3.0 m; access=private/customers
        # ways keep the 2.0 m service width — service_road_loop
        # private two-ways measure 4.0 m)
        w_drive = 3.0

    def _parse_w(v) -> float | None:
        if not v:
            return None
        try:
            w = float(str(v).replace("m", "").strip())
        except ValueError:
            return None
        return w if 0.2 <= w <= 10.0 else None

    def _width_list(d: str) -> list:
        # explicit per-lane widths: width:lanes:<dir>=a|b|... (bare
        # width:lanes on the oneway travel direction); empty entries
        # keep the default. muv passes lane.width through verbatim —
        # neukolln golden 37184618 (width:lanes:forward=3.2|3.2,
        # width:lanes:backward=3.6) renders 13.6 m, the explicit sum,
        # ignoring its width=13.5
        v = tags.get(f"width:lanes:{d}")
        if v is None and ((d == "forward" and oneway)
                          or (d == "backward" and reverse_oneway)):
            v = tags.get("width:lanes")
        return [_parse_w(p) for p in v.split("|")] if v else []

    def _make_dir_lanes(n: int, direction: str, list_key: str):
        out = []
        kinds = lane_lists.get(list_key, [])
        widths = _width_list(list_key)
        for i in range(n):
            k = kinds[i] if i < len(kinds) else ""
            w_exp = widths[i] if i < len(widths) else None
            if k == "bus" and lane_lt == DRIVING:
                out.append(LaneSpec(
                    BUS, direction,
                    w_exp if w_exp else default_width(BUS, "", hw),
                    width_pinned=w_exp is not None))
            else:
                out.append(LaneSpec(
                    lane_lt, direction, w_exp if w_exp else w_drive,
                    subtype=lane_subtype, width_pinned=w_exp is not None))
        return out

    # per-lane lists are tagged left-to-right IN THE DIRECTION OF
    # TRAVEL; a backward list reads right-to-left in road order
    back_driving = _make_dir_lanes(n_back, BACK, "backward")[::-1]
    fwd_driving = _make_dir_lanes(n_fwd, FWD, "forward")
    if driving_side == "left":
        # LHT: forward traffic occupies the left half of the carriageway
        back_driving, fwd_driving = fwd_driving, back_driving

    # turn:lanes applies to forward driving lanes left→right
    if "turn:lanes" in tags and fwd_driving:
        parts = tags["turn:lanes"].split("|")
        for spec, part in zip(fwd_driving, parts):
            spec.allowed_turns = _parse_turns(part)

    middle: list[LaneSpec] = []
    if tags.get("centre_turn_lane") == "yes" \
            or (tags.get("lanes:both_ways", "").strip() == "1"
                and "left" in tags.get("turn:lanes:both_ways", "")):
        # a single both-ways lane tagged for left turns is the classic
        # US shared center turn lane
        middle = [LaneSpec(SHARED_LEFT_TURN, FWD, default_width(SHARED_LEFT_TURN, "", hw))]

    # bus lanes adjacent to the driving lanes (busway:left/right/both=lane)
    busway = tags.get("busway:both") or tags.get("busway")
    bus_left = tags.get("busway:left", busway if busway else None) == "lane"
    bus_right = tags.get("busway:right", busway if busway else None) == "lane"
    # the BARE busway=lane on a ONEWAY street adds a single kerb-side
    # lane, like the bare-cycleway rule below: muv expands the plain
    # tag to both sides only on two-way roads (st_georges golden way
    # 207816746: oneway LHT trunk, busway=lane + lanes=4, renders
    # 12.048 m = ONE 3.048 m bus lane + three 3.0 m driving lanes —
    # our former both-sides reading measured 12.096)
    if (tags.get("busway") == "lane" and not tags.get("busway:both")
            and not tags.get("busway:left")
            and not tags.get("busway:right")):
        if oneway:
            if driving_side == "right":
                bus_left = False
            else:
                bus_right = False
        elif reverse_oneway:
            if driving_side == "right":
                bus_right = False
            else:
                bus_left = False
    # multiplicity of the kerb-side bus append: the count form
    # lanes:psv=N reserves N of the `lanes` travel lanes (r7 ADVICE:
    # the driving count already subtracted N but the assembly appended
    # only ONE bus lane, so lanes=4 + lanes:psv=2 rendered 3 lanes and
    # silently lost a lane's width)
    _bus_n_left = _bus_n_right = 1
    if _list_bus_travel:
        # the per-lane list already typed the bus lane inside the
        # travel lanes — don't append a second one (leeds 39597033)
        bus_left = bus_right = False
    elif _n_bus and not bus_left and not bus_right and _street_ow:
        # lanes:psv=N / lanes:bus=N count form: kerb-side on oneways
        # (same side rule as the bare busway=lane above)
        kerb_left = (driving_side == "left") if oneway \
            else (driving_side == "right")
        if kerb_left:
            bus_left = True
            _bus_n_left = _n_bus
        else:
            bus_right = True
            _bus_n_right = _n_bus

    # side defaults: for a two-way street (RHT) the left side travels
    # backward; mirrored for LHT
    left_default = BACK if driving_side == "right" else FWD
    right_default = FWD if driving_side == "right" else BACK
    street_oneway = oneway or reverse_oneway
    if reverse_oneway:
        left_default = right_default = BACK
    elif oneway:
        left_default = right_default = FWD

    # A PLAIN `cycleway=lane/track` (no :left/:right) on a ONEWAY street
    # puts a lane only on the travel side, not both: muv expands the
    # bare tag to both sides only for two-way roads (verified against
    # the tempe_light_rail golden, where primary oneway cycleway=lane
    # renders 10.5 m = one bike lane, not 12 m = two). Contraflow
    # tagging (oneway:bicycle=no) keeps both sides.
    contraflow_side = None
    if street_oneway and tags.get("oneway:bicycle") != "no" \
            and not tags.get("cycleway:left") \
            and not tags.get("cycleway:right") \
            and tags.get("cycleway") in ("lane", "track"):
        two_way_left = BACK if driving_side == "right" else FWD
        travel = BACK if reverse_oneway else FWD
        contraflow_side = "left" if two_way_left != travel else "right"

    # forward-oneways pass FWD as the street direction; reverse-oneways
    # keep flowing through the side-default fallback (None), exactly
    # the pre-r8 dispatch — their emitted direction comes from
    # left/right_default, both BACK
    _street_dir = FWD if oneway else None
    bike_left_kind, bike_left = (
        (None, []) if contraflow_side == "left"
        else _bike_pair(tags, "left", _street_dir, left_default))
    bike_right_kind, bike_right = (
        (None, []) if contraflow_side == "right"
        else _bike_pair(tags, "right", _street_dir, right_default))
    w_bike = default_width(BIKING, "", hw)
    # explicit cycle-lane widths: cycleway:<side>:width, falling back
    # to cycleway:both:width (muv lane.width passthrough — neukolln
    # Karl-Marx-Straße cycleway:both:width=1.8/2 goldens)
    _bw_left = _parse_w(tags.get("cycleway:left:width")
                        or tags.get("cycleway:both:width"))
    _bw_right = _parse_w(tags.get("cycleway:right:width")
                         or tags.get("cycleway:both:width"))
    w_bike_left = _bw_left if _bw_left else w_bike
    w_bike_right = _bw_right if _bw_right else w_bike
    bl_pin, br_pin = _bw_left is not None, _bw_right is not None

    def parking(side: str) -> list[LaneSpec]:
        # legacy schema: parking:lane:<side> = orientation
        val = tags.get(f"parking:lane:{side}") or tags.get("parking:lane:both")
        if val in ("parallel", "diagonal", "perpendicular"):
            return [LaneSpec(PARKING, FWD, default_width(PARKING, "", hw),
                             subtype=val)]
        # current schema: parking:<side> = lane|street_side|... with
        # parking:<side>:orientation (default parallel); 'no'/'separate'
        # mean no lane here (muv parses this model — distinguishes e.g.
        # neukolln's Thomasstraße segments for the T2 equality check)
        val = tags.get(f"parking:{side}") or tags.get("parking:both")
        if val in ("lane", "street_side", "on_kerb", "half_on_kerb",
                   "shoulder"):
            ori = (tags.get(f"parking:{side}:orientation")
                   or tags.get("parking:both:orientation") or "parallel")
            if ori not in ("parallel", "diagonal", "perpendicular"):
                ori = "parallel"
            return [LaneSpec(PARKING, FWD, default_width(PARKING, "", hw),
                             subtype=ori)]
        return []

    park_left = parking("left")
    park_right = parking("right")

    if inferred_sidewalks:
        sidewalk = infer_sidewalk_tag(tags, driving_side)
        sw_left = sidewalk in ("both", "left")
        sw_right = sidewalk in ("both", "right")
    else:
        # EXPLICIT sidewalk tags always apply — muv reads sidewalk[:side]
        # natively; only the INFERENCE step is gated by the config
        # (algorithm.rs:29-34 clones tags through infer_sidewalk_tags
        # only when cfg.inferred_sidewalks). Measured: bristol way
        # 291394487 sidewalk:left=yes renders 4.6 m wide (d 3.0 +
        # sidewalk 1.5 + kerb) under MapConfig::default.
        sidewalk = tags.get("sidewalk")
        sw_left = sidewalk in ("both", "left") or "yes" in (
            tags.get("sidewalk:left"), tags.get("sidewalk:both"))
        sw_right = sidewalk in ("both", "right") or "yes" in (
            tags.get("sidewalk:right"), tags.get("sidewalk:both"))
    w_sw = default_width(SIDEWALK, "", hw)

    shoulder = tags.get("shoulder")
    sh_left = shoulder in ("both", "left", "yes")
    sh_right = shoulder in ("both", "right", "yes")
    w_sh = default_width(SHOULDER, "", hw)

    # assemble LTR. Left side from edge inward:
    #   sidewalk, [track bikes], kerb, shoulder, parking, [lane bikes], bus
    left_zone: list[LaneSpec] = []
    if sw_left:
        left_zone.append(LaneSpec(SIDEWALK, FWD, w_sw))
    # subtype "track" = kerb-separated cycle track, part of the
    # roadway for RoadPosition::Center (is_roadway, osm2lanes
    # lib.rs:131-148: Biking is always roadway — the kingsway goldens'
    # cycleway:left=track trunks center on the FULL b|dd width);
    # "track_shared" = cycleway:<side>:segregated=no, a track sharing
    # the footpath zone with its sidewalk and excluded from the
    # roadway (the taipei goldens' 506351786/310677986: sidewalk=right
    # + segregated=no render a 1.55 m shift = driving-lanes-only
    # center)
    def _track_subtype(side: str) -> str:
        return ("track_shared"
                if tags.get(f"cycleway:{side}:segregated") == "no"
                else "track")

    if bike_left_kind == "track":
        left_zone += [LaneSpec(BIKING, d, w_bike_left,
                               _track_subtype("left"),
                               width_pinned=bl_pin)
                      for d in bike_left]
    roadway_left: list[LaneSpec] = []
    if sh_left:
        roadway_left.append(LaneSpec(SHOULDER, FWD, w_sh))
    roadway_left += park_left
    if bike_left_kind == "lane":
        roadway_left += [LaneSpec(BIKING, d, w_bike_left,
                                  width_pinned=bl_pin)
                         for d in bike_left]
    if bus_left and lane_lt != BUS:
        roadway_left += [LaneSpec(BUS, left_default if not street_oneway else FWD,
                                  default_width(BUS, "", hw))
                         for _ in range(_bus_n_left)]

    roadway_right: list[LaneSpec] = []
    if bus_right and lane_lt != BUS:
        roadway_right += [LaneSpec(BUS, right_default if not street_oneway else FWD,
                                   default_width(BUS, "", hw))
                          for _ in range(_bus_n_right)]
    if bike_right_kind == "lane":
        roadway_right += [LaneSpec(BIKING, d, w_bike_right,
                                   width_pinned=br_pin)
                          for d in bike_right]
    roadway_right += park_right
    if sh_right:
        roadway_right.append(LaneSpec(SHOULDER, FWD, w_sh))
    right_zone: list[LaneSpec] = []
    if bike_right_kind == "track":
        right_zone += [LaneSpec(BIKING, d, w_bike_right,
                                _track_subtype("right"),
                                width_pinned=br_pin)
                       for d in bike_right]
    if sw_right:
        right_zone.append(LaneSpec(SIDEWALK, FWD, w_sw))

    roadway = roadway_left + back_driving + middle + fwd_driving + roadway_right

    # kerb buffers between footpath zone and roadway (algorithm.rs:62-74)
    kerb_w = default_width(BUFFER, "curb", hw)
    specs = []
    specs += left_zone
    if left_zone and roadway:
        specs.append(LaneSpec(BUFFER, FWD, kerb_w, subtype="curb"))
    specs += roadway
    if right_zone and roadway:
        specs.append(LaneSpec(BUFFER, FWD, kerb_w, subtype="curb"))
    specs += right_zone

    if not roadway and not specs:
        specs = [LaneSpec(DRIVING, FWD, w_drive)]

    # --- positional directions (algorithm.rs:89-112 traffic_direction) --
    # The centre line sits after the *initial run* of left-side-direction
    # travel lanes (scanning LTR from the first travel lane). Verified
    # against all reference unit cases: a contraflow track left of the
    # carriageway pulls the centre left of the carriageway; a two-way
    # track right of it does not.
    POSITIONAL = {SIDEWALK, PARKING, BUFFER, SHOULDER}
    left_dir = BACK if driving_side == "right" else FWD
    right_dir = FWD if driving_side == "right" else BACK
    travel_idx = [i for i, s in enumerate(specs) if s.lt not in POSITIONAL]
    if not travel_idx:
        centre = 0
    else:
        centre = travel_idx[0]
        for i in travel_idx:
            if specs[i].dir == left_dir:
                centre = i + 1
            else:
                break
    for i, s in enumerate(specs):
        if s.lt in POSITIONAL:
            s.dir = left_dir if i < centre else right_dir

    _apply_width_tag(specs, tags)

    if construction:
        for s in specs:
            s.lt = CONSTRUCTION

    return specs


def oneway_for_driving(specs: list[LaneSpec]):
    """None if bidirectional driving; else the single direction
    (reference osm2lanes/src/lib.rs:386-405)."""
    fwd = any(s.lt == DRIVING and s.dir == FWD for s in specs)
    back = any(s.lt == DRIVING and s.dir == BACK for s in specs)
    if fwd and back:
        return None
    if fwd:
        return FWD
    if back:
        return BACK
    return None
