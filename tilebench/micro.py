"""Single-threaded kernel microbenchmarks on samples of a workload's own
seeded input. Each returns per-layer metrics keyed by their BENCHMARK.json
names; each timing is the median of REPS passes over the sample."""

from __future__ import annotations

import statistics
import time

import numpy as np

REPS = 5


def _median_time(fn) -> float:
    fn()  # warm caches and lazy tables
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def point_encode(pdf, zoom: int = 13, sample: int = 20_000) -> dict:
    """mvt.PointTileStream encode of the sample's tiles at one zoom, with and
    without gzip: per-tile time and the share of it that is gzip."""
    import pyarrow as pa
    from planetiler_spark.kernels import mvt
    from planetiler_spark.kernels import tile_math as tm
    from planetiler_spark.operators import render as R
    from planetiler_spark.sources import images as src

    pdf = pdf.iloc[:sample]
    wx, wy = src.anchor_world(pdf["phash"].to_numpy())
    idx, tx, ty, ex, ey = R.slice_points(wx, wy, zoom)
    tid = tm.tile_encode(tx, ty, zoom)
    order = np.lexsort((idx, tid))
    tid, ex, ey, idx = tid[order], ex[order], ey[order], idx[order]
    starts = np.nonzero(np.diff(tid, prepend=tid[0] - 1))[0]
    ends = np.append(starts[1:], len(tid))
    ids = pa.array(pdf["image_id"].to_numpy()[idx])
    caps = pa.array(pdf["caption"].to_numpy()[idx])
    sk = np.zeros(len(tid), dtype=np.int64)

    def enc(compress):
        def go():
            s = mvt.PointTileStream(ex, ey, sk, ids, caps)
            for _ in s.encode_tiles(starts, ends, compress=compress):
                pass
        return go

    t_gz = _median_time(enc(True))
    t_raw = _median_time(enc(False))
    return {"mvt.point_tile_us": t_gz / len(starts) * 1e6,
            "mvt.gzip_share": max(0.0, 1.0 - t_raw / t_gz)}


def polygon_slice_encode(polys, max_zoom: int) -> dict:
    """render.slice_polygon per (polygon, zoom) call over the whole seeded
    table, then LayerBuilder + encode_tile per tile of the fragments at
    max_zoom."""
    from planetiler_spark.kernels import geom as gk
    from planetiler_spark.kernels import mvt
    from planetiler_spark.operators import render as R

    rings = [gk.parse_wkb(bytes(w))[1] for w in polys["wkb"]]
    calls = len(rings) * (max_zoom + 1)
    frags: dict = {}

    def slice_all():
        frags.clear()
        for k, rs in enumerate(rings):
            for z in range(max_zoom + 1):
                for tx, ty, kind, parts in R.slice_polygon(rs, z):
                    if z == max_zoom and kind != "fill":
                        frags.setdefault((tx, ty), []).append((k, parts))

    t_slice = _median_time(slice_all)
    tiles = list(frags.values())
    zids = polys["zone_id"].tolist()
    kinds = polys["kind"].tolist()

    def encode_all():
        for feats in tiles:
            layer = mvt.LayerBuilder("zones")
            for k, parts in feats:
                layer.add_feature(None, mvt.GEOM_POLYGON,
                                  mvt.encode_geometry(mvt.GEOM_POLYGON, parts),
                                  {"zone_id": zids[k], "kind": kinds[k]})
            mvt.encode_tile([layer])

    t_enc = _median_time(encode_all)
    return {"geom.slice_polygon_us": t_slice / calls * 1e6,
            "mvt.polygon_tile_us": t_enc / max(len(tiles), 1) * 1e6}


def pip_probe(pdf, sample: int = 65_536) -> dict:
    """PolygonIndex.get_containing_or_nearest on one engine-sized batch."""
    from planetiler_spark.sources import images as src
    from . import workloads as W

    idx = src.zones_index(W.PIP_ZONES)
    wx, wy = src.anchor_world(pdf["phash"].to_numpy()[:sample])
    t = _median_time(lambda: idx.get_containing_or_nearest(wx, wy, W.PIP_WITHIN))
    return {"geom.pip_ns_per_point": t / len(wx) * 1e9}


def raster_codecs(pdf, sample: int = 128) -> dict:
    """jpeg.decode_jpeg_batch over the sample's JPEGs, and image.encode_png of
    256x256 RGB canvases holding the sample's decoded pixels."""
    from planetiler_spark.kernels import image as ik
    from planetiler_spark.kernels import jpeg

    jp = pdf[pdf["fmt"] == "jpeg"].iloc[:sample]
    blobs = [bytes(b) for b in jp["bytes"]]
    t_dec = _median_time(lambda: jpeg.decode_jpeg_batch(blobs))
    decoded = jpeg.decode_jpeg_batch(blobs)
    canvases = []
    for k in range(0, len(decoded), 4):
        c = np.zeros((256, 256, 3), dtype=np.uint8)
        for j, img in enumerate(decoded[k:k + 4]):
            h, w = min(img.shape[0], 128), min(img.shape[1], 128)
            y0, x0 = (j // 2) * 128, (j % 2) * 128
            c[y0:y0 + h, x0:x0 + w] = img[:h, :w]
        canvases.append(c)

    def enc():
        for c in canvases:
            ik.encode_png(c)

    t_png = _median_time(enc)
    return {"jpeg.decode_us_per_image": t_dec / len(blobs) * 1e6,
            "image.png_encode_us_per_tile": t_png / len(canvases) * 1e6}
