"""Checkpoint/resume tests — reference analog Planetiler.java:862-906
(reuse_featuredb manifest): finished partitions are skipped on resume,
changed input invalidates only its bucket."""

import json
import os

import pytest

from planetiler_spark.operators import checkpoint as cp
from planetiler_spark.sources import images as src

N = 48
NB = 4


@pytest.fixture()
def images(spark):
    return src.images_df(spark, N, partitions=4, with_bytes=False)


def test_full_run_then_resume_skips_all(spark, images, tmp_path):
    out = str(tmp_path / "ts")
    ran1 = cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=4)
    assert len(ran1) == NB
    assert all(st["n_tiles"] > 0 for st in ran1)
    # resume: everything checkpointed -> nothing runs
    ran2 = cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=4)
    assert ran2 == []
    # status table has lineage + metrics per bucket (north_rule)
    status = cp.read_status(out)
    assert set(status) == set(range(NB))
    for st in status.values():
        assert st["lineage"] and st["n_features"] > 0 and st["wall_s"] >= 0


def test_killed_run_resumes_partial(spark, images, tmp_path):
    out = str(tmp_path / "ts")
    cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=4)
    # simulate a kill after bucket 0: drop other status files
    sd = os.path.join(out, "status")
    for fn in os.listdir(sd):
        if fn != "0.json":
            os.remove(os.path.join(sd, fn))
    ran = cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=4)
    assert sorted(st["bucket"] for st in ran) == [1, 2, 3]  # 0 skipped


def test_lineage_mismatch_recomputes(spark, images, tmp_path):
    out = str(tmp_path / "ts")
    cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=4)
    # tamper with one bucket's lineage -> that bucket (only) reruns
    p = os.path.join(out, "status", "2.json")
    st = json.load(open(p))
    st["lineage"] = "deadbeef-0"
    json.dump(st, open(p, "w"))
    ran = cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=4)
    assert [st["bucket"] for st in ran] == [2]


def test_tiles_readable_and_complete(spark, images, tmp_path):
    out = str(tmp_path / "ts")
    cp.run_checkpointed(spark, images, out, n_buckets=NB, max_zoom=3)
    tiles = spark.read.parquet(os.path.join(out, "tiles"))
    # every bucket wrote a z0 tile covering its images
    assert tiles.filter("zoom = 0").count() == NB


def test_counters_and_progress_logger(spark):
    """Counters (Spark accumulators, one add per Arrow batch) must equal the
    actual output counts; ProgressLogger emits status lines."""
    import io

    from pyspark.sql import functions as F

    from planetiler_spark.operators import progress as pg
    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import images as src

    counters = pg.Counters(spark.sparkContext, ["features", "tiles"])
    out = io.StringIO()
    with pg.ProgressLogger(spark, counters, interval=0.2, out=out) as pl:
        images = src.images_df(spark, 500, partitions=4, with_bytes=False)
        tiles = tp.tileset(spark, images, 0, 6, counters=counters)
        # ONE action: accumulators meter work done, so a second action over
        # the uncached DAG would re-run the kernels and double the counts
        row = tiles.agg(F.count("*").alias("nt"),
                        F.sum("n_features").alias("nf")).collect()[0]
        n_tiles, n_feats = int(row.nt), int(row.nf)
    snap = counters.snapshot()
    assert snap["tiles"] == n_tiles
    assert snap["features"] == n_feats  # thin cap not hit at this density
    assert pl.lines >= 1
    txt = out.getvalue()
    assert "features:" in txt and "tiles:" in txt
