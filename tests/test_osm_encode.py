"""Golden bytes for the OSM tile encode (plans/osm_pipeline.py): a
hand-built matched-feature frame -> render_osm_features -> encode_osm_tiles
under four line-handling modes. No PBF is needed, so this runs
everywhere; the digests pin every tile's bytes and the archive order."""

import hashlib
import struct

import pytest

from planetiler_spark.plans import osm_pipeline as op

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
P = 4
SCHEMA = ("fid long, layer string, kind string, min_zoom int, max_zoom int, "
          "attrs map<string,string>, lons array<array<double>>, "
          "lats array<array<double>>")

# sha256 over (tile_id, n_features, tile_bytes) of every tile in output order,
# recorded from the encoder's earlier pandas itertuples implementation
DIGESTS = {
    "default": "5d6dfe3c341167bc824598e4dba22fcf0db8a0ba0324eec3bcb2867081ba2fde",
    "feature_per_stroke":
        "951c9706cb625c3bd6370b51d6207a650ff21a9817267f2a29403508c552da6f",
    "no_merge": "c4471efc251b38f63e620fec1da63b13a98589b53ea688e7f7f6c7cf760d0211",
    "drop_lines":
        "059ea18385ad95d58a163f803906f99683c71dd3e9f9b3970c67407d4c1b8446",
}
MODES = {"default": {}, "feature_per_stroke": {"feature_per_stroke": True},
         "no_merge": {"merge_lines": False},
         # every merged line is shorter than this, so line-only tiles
         # keep no feature at all
         "drop_lines": {"merge_min_length": 1e6}}


def _ring(lon, lat, w, h):
    return [[lon, lat], [lon + w, lat], [lon + w, lat + h], [lon, lat + h],
            [lon, lat]]


def _features():
    """29 features around 7.40E 43.72N: points in two layers, a road chain of
    equal-attr pieces crossing z12-14 tiles, a junction of other roads, an
    isolated loop road, small buildings, a landuse polygon large enough for z14
    interior fills, and a water multipolygon whose member ways form a shell
    with a hole."""
    rows = []

    def add(layer, kind, attrs, rings, min_zoom=12):
        lons = [[float(p[0]) for p in r] for r in rings]
        lats = [[float(p[1]) for p in r] for r in rings]
        rows.append((len(rows) + 1, layer, kind, min_zoom, 14, attrs,
                     lons, lats))

    for i in range(5):
        add("poi", "point", {"amenity": "cafe", "name": f"cafe {i}"},
            [[[7.403 + 0.017 * i, 43.722 + 0.011 * i]]])
        add("place", "point", {"place": "square",
                               "name": None if i == 2 else f"sq {i}"},
            [[[7.407 + 0.013 * i, 43.751 - 0.007 * i]]], min_zoom=13)
    add("poi", "point", {}, [[[7.441, 43.733]]])
    # one road split into 8 pieces that share endpoints and attrs
    chain = [[7.400 + 0.010 * k, 43.730 + 0.002 * k + (0.001 if k % 2 else 0)]
             for k in range(9)]
    for k in range(8):
        add("road", "line", {"highway": "primary", "name": "Corniche"},
            [chain[k:k + 2]])
    for a, b in (([7.430, 43.715], [7.433, 43.734]),
                 ([7.433, 43.734], [7.436, 43.752]),
                 ([7.433, 43.734], [7.452, 43.737])):
        add("road", "line", {"highway": "residential"}, [[a, b]])
    # a loop road alone in its z13/z14 tiles: line-only tiles
    add("road", "closed_line", {"highway": "service"},
        [_ring(7.530, 43.800, 0.006, 0.004)])
    for i in range(4):
        add("building", "polygon", {"building": "yes" if i % 2 else "house"},
            [_ring(7.4105 + 0.021 * i, 43.7405 + 0.004 * i, 0.0004, 0.0003)],
            min_zoom=13)
    add("landuse", "polygon", {"landuse": "forest"},
        [[[7.405, 43.700], [7.478, 43.702], [7.482, 43.729], [7.441, 43.748],
          [7.402, 43.731], [7.405, 43.700]]])
    # member ways out of role order: the hole is listed first
    add("water", "multipolygon", {"natural": "water", "name": "Lac"},
        [_ring(7.462, 43.757, 0.010, 0.008), _ring(7.455, 43.752, 0.030, 0.020)])
    assert len(rows) == 29
    return rows


def _run(frags, kwargs):
    tiles = op.encode_osm_tiles(frags, P, **kwargs).collect()
    h = hashlib.sha256()
    for r in tiles:
        h.update(struct.pack("<qqI", r.tile_id, r.n_features, len(r.tile_bytes)))
        h.update(bytes(r.tile_bytes))
    return ([r.tile_id for r in tiles], [r.n_features for r in tiles],
            h.hexdigest())


@pytest.fixture(scope="module")
def frags(spark):
    feats = spark.createDataFrame(_features(), SCHEMA)
    return op.render_osm_features(feats, 12, 14, range_partitions=P)


def test_osm_encode_golden_bytes(spark, frags):
    assert frags.filter("fill AND zoom = 14").count() > 0
    got, nfeat = {}, {}
    for mode, kwargs in MODES.items():
        ids, nfeat[mode], got[mode] = _run(frags, kwargs)
        assert ids == sorted(set(ids)), mode  # total zoom-major order
        assert len(ids) > 20
    # merging shrinks the feature count; one feature per stroke less so
    total = {mode: sum(n) for mode, n in nfeat.items()}
    assert total["default"] < total["feature_per_stroke"] < total["no_merge"]
    # a tile whose features all merge away is still emitted
    assert 0 in nfeat["drop_lines"] and 0 not in nfeat["default"]
    assert got == DIGESTS


def test_osm_encode_tiny_arrow_batches(spark, frags):
    """7-row Arrow batches split tiles across batches in the render, the
    exchange and the reduce; the bytes and order must not move."""
    prev = spark.conf.get(BATCH_CONF, None)
    spark.conf.set(BATCH_CONF, "7")
    try:
        got = {mode: _run(frags, kwargs)[2]
               for mode, kwargs in MODES.items()}
    finally:
        if prev is None:
            spark.conf.unset(BATCH_CONF)
        else:
            spark.conf.set(BATCH_CONF, prev)
    assert got == DIGESTS
