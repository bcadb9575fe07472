"""The one group-by-tile primitive (operators/partitioning.py): the
consecutive-run stream on hand-built Arrow batches, and every tile reduce
giving the same bytes when tiles straddle many Arrow batches."""

import pyarrow as pa
import pytest

from planetiler_spark.kernels import mvt
from planetiler_spark.operators import tile_pipeline as tp
from planetiler_spark.operators.partitioning import consecutive_runs
from planetiler_spark.sources import images as src


def _batches(key_lists):
    """One RecordBatch per key list; `row` numbers the rows globally."""
    out, row = [], 0
    for keys in key_lists:
        out.append(pa.record_batch({
            "tile_id": pa.array(keys, type=pa.int64()),
            "row": pa.array(range(row, row + len(keys)), type=pa.int64())}))
        row += len(keys)
    return out


def test_consecutive_runs_hand_built_batches():
    key_lists = [
        [1, 1, 1],        # tile 1 opens and fills the batch
        [1, 1],           # a batch that only continues the held tile
        [],               # empty batch
        [1, 2, 2],        # tile 1 ends in its third batch; 2 is held
        [2],              # single-row batch continuing the held tile
        [3],              # single-row batch of a new tile: flushes 2
        [4, 4, 5, 6, 6],  # complete runs before the held trailing tile
        [6, 6],           # last tile, flushed at end of input
    ]
    tables = list(consecutive_runs(iter(_batches(key_lists))))
    # rows come out once each, in input order
    rows = [r for t in tables for r in t.column("row").to_pylist()]
    assert rows == list(range(sum(map(len, key_lists))))
    # every tile's rows arrive in exactly one table (complete runs only)
    seen = [sorted(set(t.column("tile_id").to_pylist())) for t in tables]
    flat = [k for s in seen for k in s]
    assert sorted(flat) == [1, 2, 3, 4, 5, 6] and len(flat) == len(set(flat))
    by_tile = {k: t.column("tile_id").to_pylist().count(k)
               for t in tables for k in set(t.column("tile_id").to_pylist())}
    assert by_tile == {1: 6, 2: 3, 3: 1, 4: 2, 5: 1, 6: 4}
    # the trailing tile is flushed last, on its own
    assert seen[-1] == [6]
    assert all(t.num_rows for t in tables)


def test_consecutive_runs_single_and_empty_input():
    assert list(consecutive_runs(iter([]))) == []
    assert list(consecutive_runs(iter(_batches([[], []])))) == []
    (only,) = consecutive_runs(iter(_batches([[7]])))
    assert only.column("tile_id").to_pylist() == [7]


@pytest.mark.parametrize("key_lists", [
    [[1, 3, 2]],          # unsorted inside one batch
    [[1, 2, 5], [4, 6]],  # each batch sorted, but the second starts lower
    [[5, 5], [4]],        # a held tile followed by a lower key
])
def test_consecutive_runs_unsorted_raises(key_lists):
    with pytest.raises(ValueError, match="not sorted by tile_id"):
        list(consecutive_runs(iter(_batches(key_lists))))


def test_consecutive_runs_other_run_column():
    rb = pa.record_batch({"bucket": pa.array([0, 0, 1], type=pa.int32())})
    tables = list(consecutive_runs(iter([rb, rb.slice(2)]), "bucket"))
    assert [t.column("bucket").to_pylist() for t in tables] == [[0, 0], [1, 1]]


N = 48
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def test_tiny_arrow_batches_same_bytes(spark):
    """With 7-row Arrow batches every multi-feature tile straddles batch
    boundaries in the render, the exchange and the reduce; all four tile
    reduces must still give the bytes (and order) of the default size."""
    images = src.images_df(spark, N, partitions=4).cache()
    images.count()

    def rows(df, blob):
        return [(r.tile_id, bytes(r[blob])) for r in df.collect()]

    def run():
        return {
            "row": rows(tp.tileset(spark, images, 0, 8, packed=False), "tile_bytes"),
            "packed": rows(tp.tileset(spark, images, 0, 8, packed=True), "tile_bytes"),
            "zones": rows(tp.zones_tileset(spark, 0, 5, n_zones=96), "tile_bytes"),
            "raster": rows(tp.encode_raster_tiles(tp.render_patches(images)), "raster"),
        }

    want = run()
    prev = spark.conf.get(BATCH_CONF, None)
    spark.conf.set(BATCH_CONF, "7")
    try:
        got = run()
    finally:
        if prev is None:
            spark.conf.unset(BATCH_CONF)
        else:
            spark.conf.set(BATCH_CONF, prev)
        images.unpersist()
    assert want["row"] == want["packed"]
    for name in want:
        assert len(want[name]) > 0
        assert got[name] == want[name], name
    # the z0 point tile holds every image: far more than one 7-row batch
    z0_id, z0_bytes = want["row"][0]
    assert z0_id == 0 and len(mvt.decode_tile(z0_bytes)["images"]) >= N
