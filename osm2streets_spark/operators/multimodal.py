"""Multimodal column plumbing: opaque binary media + typed metadata.

The documents table's ``kind='media'`` spans carry media refs
(bmp://, png://, geojson://, tile://z/x/y). All FOUR schemes decode
for REAL: bmp/png inline base64 payloads via the pure-stdlib codecs
(sources/bmp.py, sources/png.py), geojson:// via a real
FeatureCollection parse, and tile:// resolved against an external
tile_store.parquet by a (z, x, y) equi-join and then a real PNG
decode (see _decode_batch). A deterministic int64 fake survives ONLY
as the documented fallback for refs with no payload and no store row
(none in current fixtures).

Spark-side plumbing — schema, partitioning, Arrow batch shape, the
store-as-its-own-table join — is the 100 TB shape for media blobs;
decode runs inside mapInPandas repartitioned by doc.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, StringType,
    StructField, StructType,
)


def media_spans(docs: DataFrame) -> DataFrame:
    """Explode kind='media' spans with parsed ref metadata — pure
    Catalyst (regexp on the ref)."""
    s = docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).where(F.col("span.kind") == "media")
    ref = F.col("span.media_ref")
    return s.select(
        "doc_id", "span_idx", ref.alias("media_ref"),
        # bmp:// and png:// spans carry the real payload base64 in the
        # span text; geojson:// spans carry the raw GeoJSON text
        F.when(ref.startswith("bmp://") | ref.startswith("png://")
               | ref.startswith("geojson://"),
               F.col("span.text"))
         .otherwise(F.lit(None)).alias("payload_b64"),
        F.regexp_extract(ref, r"^(\w+)://", 1).alias("media_scheme"),
        F.regexp_extract(ref, r"^tile://(\d+)/(\d+)/(\d+)", 1)
         .try_cast("int").alias("ref_z"),
        F.regexp_extract(ref, r"^tile://(\d+)/(\d+)/(\d+)", 2)
         .try_cast("int").alias("ref_x"),
        F.regexp_extract(ref, r"^tile://(\d+)/(\d+)/(\d+)", 3)
         .try_cast("int").alias("ref_y"),
    )


DECODE_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("feature", ArrayType(FloatType())),
])


def _geojson_feature(feats: list[dict]) -> list[float]:
    """16-dim geometry-statistics feature from real GeoJSON
    LineString features: bbox, centroid, vertex/feature counts and
    per-feature length stats — the vector-layer analogue of
    bmp_feature's pixel statistics."""
    pts = np.array([c for f in feats
                    for c in f["geometry"]["coordinates"]], dtype=np.float64)
    if pts.size == 0:
        return [np.float32(0.0)] * 16
    seg_lens = []
    for f in feats:
        cs = np.array(f["geometry"]["coordinates"], dtype=np.float64)
        if len(cs) > 1:
            seg_lens.append(float(np.sum(np.hypot(*(cs[1:] - cs[:-1]).T))))
    sl = np.array(seg_lens or [0.0])
    vec = [
        pts[:, 0].min(), pts[:, 0].max(), pts[:, 1].min(), pts[:, 1].max(),
        pts[:, 0].mean(), pts[:, 1].mean(), pts[:, 0].std(), pts[:, 1].std(),
        float(len(feats)), float(len(pts)),
        float(len(pts)) / max(len(feats), 1),
        sl.sum(), sl.mean(), sl.max(), sl.min(), float(len(sl)),
    ]
    return np.asarray(vec, dtype=np.float32).tolist()


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Decode inside mapInPandas, one Arrow batch at a time.

    THREE paths:
    * bmp:// and png:// refs carry REAL bytes (base64 in payload_b64):
      parsed by the pure-Python 24-bit BMP codec (sources/bmp.py) or
      the 8-bit RGB PNG codec (sources/png.py, stdlib zlib) — real
      header dims, n_frames=1, and a 16-dim pixel-statistics feature.
    * geojson:// refs carry the raw GeoJSON FeatureCollection text in
      the span: REAL parse — width = total coordinate positions,
      height = feature count, n_frames = 1 (a static vector layer),
      and a 16-dim real geometry-statistics feature (_geojson_feature).
    * tile:// refs resolved against the external tile store (the
      tile_b64/tile_frames columns joined in by decode_media) decode
      the fetched PNG for REAL — header dims + pixel-statistics
      feature — with the store's frame-count metadata.
    * refs with NO payload and no store row (older fixture dirs, or a
      ref missing from the store) fall back to a DETERMINISTIC FAKE
      (dims/frame-count/feature from the ref's first-8-byte int64) so
      the frame-sampling pipeline stays exactly SQL-checkable.
    """
    import base64
    import json

    from ..sources.bmp import bmp_feature, decode_bmp
    from ..sources.png import decode_png

    for pdf in batches:
        rows = []
        payloads = pdf["payload_b64"] if "payload_b64" in pdf.columns \
            else pd.Series([None] * len(pdf))
        tile_b64 = pdf["tile_b64"] if "tile_b64" in pdf.columns \
            else pd.Series([None] * len(pdf))
        tile_frames = pdf["tile_frames"] if "tile_frames" in pdf.columns \
            else pd.Series([None] * len(pdf))
        for doc_id, ref, payload, tb64, tfr in zip(
                pdf["doc_id"], pdf["media_ref"], payloads,
                tile_b64, tile_frames):
            if isinstance(tb64, str) and tb64 \
                    and ref.startswith("tile://"):
                w, h, px = decode_png(base64.b64decode(tb64))
                nfr = int(tfr) if pd.notna(tfr) else 1
                rows.append((doc_id, ref, int(w), int(h), nfr,
                             bmp_feature(px)))
                continue
            if isinstance(payload, str) and payload \
                    and ref.startswith(("bmp://", "png://")):
                decode = decode_png if ref.startswith("png://") \
                    else decode_bmp
                w, h, px = decode(base64.b64decode(payload))
                rows.append((doc_id, ref, int(w), int(h), 1,
                             bmp_feature(px)))
                continue
            if isinstance(payload, str) and payload \
                    and ref.startswith("geojson://"):
                # Only LineString features have the flat coordinate
                # lists _geojson_feature assumes; a Point (flat pair)
                # or Polygon (nested rings) would yield ragged arrays
                # and fail the whole Arrow batch. Normalize by
                # filtering; a malformed payload falls through to the
                # deterministic-fake branch below.
                try:
                    fc = json.loads(payload)
                    feats = [
                        f for f in fc.get("features", [])
                        if isinstance(f.get("geometry"), dict)
                        and f["geometry"].get("type") == "LineString"
                    ]
                    n_coords = sum(
                        len(f["geometry"]["coordinates"]) for f in feats)
                    rows.append((doc_id, ref, int(n_coords), len(feats),
                                 1, _geojson_feature(feats)))
                    continue
                except (ValueError, KeyError, TypeError):
                    pass
            h = np.frombuffer(
                ref.encode("utf-8")[:8].ljust(8, b"\0"), dtype=np.int64
            )[0]
            rng = np.random.RandomState(abs(int(h)) % (2**31))
            rows.append((
                doc_id, ref,
                int(256 + (abs(int(h)) % 4) * 128),
                int(256 + (abs(int(h) >> 2) % 4) * 128),
                int(1 + abs(int(h)) % 16),
                rng.randn(16).astype(np.float32).tolist(),
            ))
        yield pd.DataFrame(rows, columns=[f.name for f in DECODE_SCHEMA.fields])


def load_tile_store(spark, sf_dir: str) -> DataFrame | None:
    """The external tile store: (z, x, y, png_b64, n_frames) — real PNG
    rasters keyed by tile address. Returns None when the corpus carries
    no store (older fixture dirs)."""
    import os

    path = os.path.join(sf_dir, "tile_store.parquet")
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def decode_media(media: DataFrame,
                 tile_store: DataFrame | None = None) -> DataFrame:
    """Decode/feature-extract media refs — see _decode_batch.

    tile:// refs resolve against the EXTERNAL tile store by an
    (z, x, y) equi-join — the 100 TB shape for media blobs (the store
    is its own table, potentially huge; Catalyst/AQE picks the join
    strategy). The fetched PNG bytes then take the same real decode
    path as inline png:// payloads; per-tile frame-count metadata
    rides along from the store. Repartitioned by doc so decode work
    spreads evenly regardless of how many media spans a single
    document carries."""
    cols = ["doc_id", "media_ref"]
    if "payload_b64" in media.columns:
        cols.append("payload_b64")
    sel = media.select(*cols, "ref_z", "ref_x", "ref_y") \
        if tile_store is not None else media.select(*cols)
    if tile_store is not None:
        store = tile_store.select(
            F.col("z").alias("ref_z"), F.col("x").alias("ref_x"),
            F.col("y").alias("ref_y"),
            F.col("png_b64").alias("tile_b64"),
            F.col("n_frames").alias("tile_frames"))
        sel = sel.join(store, ["ref_z", "ref_x", "ref_y"], "left") \
            .drop("ref_z", "ref_x", "ref_y")
    return sel \
        .repartition("doc_id") \
        .mapInPandas(_decode_batch, schema=DECODE_SCHEMA)
