"""Dump every engine output as parquet, and diff two dumps row by row.

    python scripts/dump_outputs.py dump OUT SF_DIR [NAME ...]
    python scripts/dump_outputs.py diff A B

`dump` writes one parquet directory per output under OUT: each registry
query, `flagship_query`, and the debug renders `movement_arrows`,
`way_geometry` and `roads_connected_to_intersections` over one street
network build. SF_DIR is a scale-factor directory as the registry takes
it (its basename picks the street fixtures; the text queries read its
own tables). NAMEs restrict the dump to those outputs.

`diff` compares the outputs two dumps share, as multisets of rows
(independent of row and column order), prints per output the rows only
in A and only in B, and exits 1 on any difference or on an output only
one dump holds. Run both dumps from the two checkouts under comparison,
each with its own OSM2STREETS_FIXTURE_ROOT, to check that a change
leaves every output byte-identical.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

SHOWN = 5  # differing rows printed per side and output


def outputs() -> dict:
    """name → fn(spark, sf_dir) → DataFrame, for every dumped output."""
    from osm2streets_spark.config import DEFAULT_CONFIG
    from osm2streets_spark.operators.debug_api import (
        movement_arrows, roads_connected_to_intersections, way_geometry,
    )
    from osm2streets_spark.plans import registry
    from osm2streets_spark.plans.pipeline import (
        build_street_network, flagship_query, load_documents,
    )
    from osm2streets_spark.sources.fixtures import fixture_dir_for

    nets: dict = {}

    def net(spark, sf_dir):
        if sf_dir not in nets:
            nets[sf_dir] = build_street_network(
                spark, load_documents(spark, fixture_dir_for(sf_dir)))
        return nets[sf_dir]

    out = dict(registry.queries())
    out["flagship_query"] = lambda spark, sf_dir: flagship_query(
        spark, fixture_dir_for(sf_dir))
    out["movement_arrows"] = lambda spark, sf_dir: movement_arrows(
        net(spark, sf_dir)["roads"], net(spark, sf_dir)["intersections"],
        DEFAULT_CONFIG.driving_side)
    out["way_geometry"] = lambda spark, sf_dir: way_geometry(
        net(spark, sf_dir)["ways"], net(spark, sf_dir)["nodes"],
        net(spark, sf_dir)["roads"])
    out["roads_connected_to_intersections"] = \
        lambda spark, sf_dir: roads_connected_to_intersections(
            net(spark, sf_dir)["roads"])
    return out


def dump(spark, out_dir: str, sf_dir: str, names=()) -> list[str]:
    """Write the named outputs (all when empty) under out_dir → the
    names written."""
    fns = outputs()
    unknown = sorted(set(names) - set(fns))
    if unknown:
        raise SystemExit(f"unknown outputs: {unknown}")
    written = []
    for name in names or fns:
        fns[name](spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(out_dir, name))
        written.append(name)
    return written


def _rows(path: str) -> Counter:
    import pyarrow.parquet as pq

    # json of a row dict: sorted keys make it column-order free, and
    # floats print with repr, so two rows are equal only bit for bit
    return Counter(json.dumps(r, sort_keys=True, default=repr)
                   for r in pq.read_table(path).to_pylist())


def diff(a: str, b: str) -> int:
    """Print the row differences of every output of dumps a and b →
    the number of differing rows plus outputs only one dump holds."""
    names_a, names_b = set(os.listdir(a)), set(os.listdir(b))
    bad = 0
    for name in sorted(names_a ^ names_b):
        print(f"{name}: only in {a if name in names_a else b}")
        bad += 1
    total = 0
    for name in sorted(names_a & names_b):
        ra, rb = _rows(os.path.join(a, name)), _rows(os.path.join(b, name))
        only_a, only_b = ra - rb, rb - ra
        n_a, n_b = sum(only_a.values()), sum(only_b.values())
        total += sum(ra.values())
        print(f"{name}: {sum(ra.values())} / {sum(rb.values())} rows, "
              f"{n_a} only in A, {n_b} only in B")
        for side, rows in (("A", only_a), ("B", only_b)):
            for row in list(rows)[:SHOWN]:
                print(f"  only in {side}: {row}")
        bad += n_a + n_b
    print(f"{len(names_a & names_b)} outputs, {total} rows, "
          f"{bad} differing")
    return bad


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) >= 3 and argv[0] == "dump":
        from osm2streets_spark.session import get_spark

        spark = get_spark("dump_outputs")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            for name in dump(spark, argv[1], argv[2], argv[3:]):
                print(name, flush=True)
        finally:
            spark.stop()
        return 0
    if len(argv) == 3 and argv[0] == "diff":
        return 1 if diff(argv[1], argv[2]) else 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
