"""From-scratch Avro codec (kernels/avro.py) and Iceberg v1 table layer
(sources/iceberg.py): spec-anchored byte vectors, container round-trips,
snapshot/time-travel semantics, and metadata-only pruning correctness
(pruned scan == full scan + filter, bit for bit)."""

import os

import pytest

from planetiler_spark.kernels import avro as av
from planetiler_spark.sources import iceberg as ib


# --- Avro: the spec's own worked examples ----------------------------------

def test_zigzag_spec_vectors():
    # Avro 1.11 spec, "Binary Encoding" table
    for n, want in [(0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
                    (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        assert av.zigzag_encode(n) == want
        v, pos = av.zigzag_decode(want, 0)
        assert (v, pos) == (n, len(want))


def test_avro_spec_example_encodings():
    out = bytearray()
    av.encode_datum("foo", "string", out)
    assert bytes(out) == b"\x06foo"                     # spec string example
    rec = {"type": "record", "name": "test",
           "fields": [{"name": "a", "type": "long"},
                      {"name": "b", "type": "string"}]}
    out = bytearray()
    av.encode_datum({"a": 27, "b": "foo"}, rec, out)
    assert bytes(out) == b"\x36\x06foo"                 # spec record example
    out = bytearray()
    av.encode_datum([3, 27], {"type": "array", "items": "long"}, out)
    assert bytes(out) == b"\x04\x06\x36\x00"            # spec array example
    out = bytearray()
    av.encode_datum(None, ["null", "string"], out)
    assert bytes(out) == b"\x00"                        # spec union examples
    out = bytearray()
    av.encode_datum("a", ["null", "string"], out)
    assert bytes(out) == b"\x02\x02a"


def test_avro_container_roundtrip(tmp_path):
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "opt", "type": ["null", "bytes"]},
        {"name": "m", "type": {"type": "map", "values": "long"}},
        {"name": "arr", "type": {"type": "array", "items": {
            "type": "record", "name": "inner",
            "fields": [{"name": "x", "type": "boolean"}]}}},
    ]}
    recs = [{"s": "héllo", "n": -12345678901, "opt": None,
             "m": {"a": 1, "b": 2}, "arr": [{"x": True}, {"x": False}]},
            {"s": "", "n": 0, "opt": b"\x00\xff", "m": {}, "arr": []}]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t-{codec}.avro")
        av.write_container(p, schema, recs, codec=codec,
                           extra_meta={"custom": b"42"})
        sch, got, meta = av.read_container(p, with_meta=True)
        assert got == recs
        assert meta["custom"] == b"42"
        assert meta["avro.codec"] == codec.encode()


def test_avro_container_rejects_garbage(tmp_path):
    p = str(tmp_path / "bad.avro")
    with open(p, "wb") as f:
        f.write(b"PAR1not-avro")
    with pytest.raises(ValueError):
        av.read_container(p)


# --- Iceberg table layer ----------------------------------------------------

@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Two-snapshot image+caption table, identity-partitioned on bucket."""
    from pyspark.sql import functions as F
    t = str(tmp_path_factory.mktemp("ice") / "tbl")

    def rows(a, b):
        return spark.range(a, b).select(
            F.col("id").alias("image_id"),
            (F.col("id") % 8).cast("int").alias("bucket"),
            F.concat(F.lit("cap-"), F.col("id")).alias("caption"))

    s1 = ib.write_iceberg(spark, rows(0, 1000), t,
                          partition_col="bucket", stats_cols=("image_id",))
    s2 = ib.write_iceberg(spark, rows(1000, 1500), t,
                          partition_col="bucket", stats_cols=("image_id",))
    assert (s1, s2) == (1, 2)
    return t


def test_read_current_and_time_travel(spark, table):
    cur = ib.read_iceberg(spark, table)
    assert cur.count() == 1500
    assert sorted(cur.columns) == ["bucket", "caption", "image_id"]
    assert ib.read_iceberg(spark, table, snapshot_id=1).count() == 1000
    # snapshot isolation: reading snap1 after snap2 exists sees old data only
    assert ib.read_iceberg(spark, table, snapshot_id=1) \
             .agg({"image_id": "max"}).collect()[0][0] == 999


def test_partition_pruning_skips_files_and_matches_filter(spark, table):
    plan = ib.plan_scan(table, partition_filter={"bucket": 3})
    assert plan.files_skipped > 0
    assert all(f["partition"]["bucket"] == 3 for f in plan.files)
    got = ib.read_iceberg(spark, table, partition_filter={"bucket": 3})
    want = ib.read_iceberg(spark, table).filter("bucket = 3")
    assert got.count() == want.count() == 188
    assert {r.image_id for r in got.collect()} == \
           {r.image_id for r in want.collect()}


def test_column_range_pruning_with_residual(spark, table):
    plan = ib.plan_scan(table, column_ranges={"image_id": (1200, None)})
    assert plan.files_skipped > 0                  # snap-1 files all pruned
    got = ib.read_iceberg(spark, table, column_ranges={"image_id": (1200, None)})
    want = ib.read_iceberg(spark, table).filter("image_id >= 1200")
    assert got.count() == want.count() == 300      # residual filter applied
    assert got.agg({"image_id": "min"}).collect()[0][0] == 1200


def test_empty_prune_returns_typed_empty(spark, table):
    out = ib.read_iceberg(spark, table, partition_filter={"bucket": 99})
    assert out.count() == 0
    assert sorted(out.columns) == ["bucket", "caption", "image_id"]


def test_table_info_exact_counts_without_scan(table):
    info = ib.table_info(table)
    assert info["current-snapshot-id"] == 2
    assert [s["rows"] for s in info["snapshots"]] == [1000, 1500]


def test_metadata_files_are_versioned(table):
    md = os.path.join(table, "metadata")
    names = sorted(os.listdir(md))
    assert "version-hint.text" in names
    assert "v1.metadata.json" in names and "v2.metadata.json" in names
    assert any(n.startswith("snap-") and n.endswith(".avro") for n in names)
    assert any(n.startswith("m-") and n.endswith(".avro") for n in names)
    with open(os.path.join(md, "version-hint.text")) as f:
        assert f.read().strip() == "2"


def test_manifest_level_pruning(spark, tmp_path):
    """A table where snapshots cover disjoint bucket ranges: the manifest
    list's field summaries must skip whole manifests without opening them."""
    from pyspark.sql import functions as F
    t = str(tmp_path / "tbl2")
    lo = spark.range(0, 200).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 4).cast("int").alias("bucket"))
    hi = spark.range(200, 400).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 4 + 100).cast("int").alias("bucket"))
    ib.write_iceberg(spark, lo, t, partition_col="bucket")
    ib.write_iceberg(spark, hi, t, partition_col="bucket")
    plan = ib.plan_scan(t, partition_filter={"bucket": (100, 103)})
    assert plan.manifests_total == 2
    assert plan.manifests_skipped == 1            # the low-bucket manifest
    got = ib.read_iceberg(spark, t, partition_filter={"bucket": (100, 103)})
    assert got.count() == 200


def test_iceberg_snapshot_drives_checkpoint_resume(spark, tmp_path):
    """The full north-rule loop: an Iceberg table of image+caption rows feeds
    the per-partition checkpointed tileset; appending a NEW SNAPSHOT whose
    rows land in one checkpoint bucket makes resume recompute exactly that
    bucket — snapshot isolation upstream, lineage skip downstream."""
    from pyspark.sql import functions as F

    from planetiler_spark.operators import checkpoint as cp
    from planetiler_spark.sources import images as src

    t = str(tmp_path / "imgtbl")
    out = str(tmp_path / "ts")
    base = (src.images_df(spark, 48, partitions=4, with_bytes=False)
            .withColumn("bucket", F.pmod("phash", F.lit(4)).cast("int")))
    ib.write_iceberg(spark, base, t, partition_col="bucket")
    ran1 = cp.run_checkpointed(spark, ib.read_iceberg(spark, t).drop("bucket"),
                               out, n_buckets=4, max_zoom=4)
    assert len(ran1) == 4

    # append a snapshot whose rows all land in ONE checkpoint bucket
    extra = (src.images_df(spark, 60, partitions=2, with_bytes=False)
             .where(F.col("image_id") > "img000000000047")
             .where(F.pmod("phash", F.lit(4)) == 2)
             .withColumn("bucket", F.pmod("phash", F.lit(4)).cast("int")))
    n_extra = extra.count()
    assert n_extra > 0
    ib.write_iceberg(spark, extra, t, partition_col="bucket")

    ran2 = cp.run_checkpointed(spark, ib.read_iceberg(spark, t).drop("bucket"),
                               out, n_buckets=4, max_zoom=4)
    assert [st["bucket"] for st in ran2] == [2]
    # lineage is "<xorhash>-<rowcount>": the recomputed bucket saw old + new
    assert int(ran2[0]["lineage"].split("-")[1]) == base.where(
        F.pmod("phash", F.lit(4)) == 2).count() + n_extra


def test_read_incremental_exact_delta(spark, table):
    inc = ib.read_incremental(spark, table, from_snapshot=1)
    assert inc.count() == 500
    assert inc.agg({"image_id": "min"}).collect()[0][0] == 1000
    assert ib.read_incremental(spark, table, from_snapshot=2).count() == 0
    bounded = ib.read_incremental(spark, table, from_snapshot=0, to_snapshot=1)
    assert bounded.count() == 1000


def test_incremental_scan_drives_tile_refresh(spark, tmp_path):
    """Iceberg snapshot deltas feed the incremental tileset maintainer:
    after applying the base snapshot and then only the appended delta, the
    maintained tile table equals the batch pipeline over the full current
    snapshot — the 100 TB refresh path (no base rescan)."""
    from pyspark.sql import functions as F

    from planetiler_spark.operators import tile_pipeline as tp
    from planetiler_spark.sources import images as src
    from planetiler_spark.streaming import tiles as stl

    t = str(tmp_path / "tbl")
    out = str(tmp_path / "tiles")

    def bucketed(df):
        return df.withColumn("bucket", F.pmod("phash", F.lit(4)).cast("int"))

    base = src.images_df(spark, 40, partitions=2, with_bytes=False)
    ib.write_iceberg(spark, bucketed(base), t, partition_col="bucket")
    stl.apply_batch(spark, ib.read_iceberg(spark, t, snapshot_id=1)
                    .drop("bucket"), 0, out, 0, 6, 8)

    extra = (src.images_df(spark, 56, partitions=2, with_bytes=False)
             .where(F.col("image_id") > "img000000000039"))
    ib.write_iceberg(spark, bucketed(extra), t, partition_col="bucket")
    delta = ib.read_incremental(spark, t, from_snapshot=1).drop("bucket")
    assert delta.count() == 16
    stl.apply_batch(spark, delta, 1, out, 0, 6, 8)

    def tile_map(rows):
        return {r.tile_id: (r.zoom, r.x, r.y, r.n_features, r.content_hash)
                for r in rows}

    got = tile_map(stl.read_tiles(spark, out).collect())
    full = ib.read_iceberg(spark, t).drop("bucket")
    want = tile_map(tp.tileset(spark, full, 0, 6).collect())
    assert got == want


def test_append_schema_mismatch_rejected(spark, tmp_path):
    from pyspark.sql import functions as F
    t = str(tmp_path / "tbl3")
    df = spark.range(0, 10).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 2).cast("int").alias("bucket"))
    ib.write_iceberg(spark, df, t, partition_col="bucket")
    wrong = df.withColumn("extra", F.lit("x"))
    with pytest.raises(ValueError, match="schema mismatch"):
        ib.write_iceberg(spark, wrong, t, partition_col="bucket")


def test_concurrent_appends_never_lose_a_snapshot(spark, tmp_path):
    """Two appenders racing the SAME base version (aligned with a barrier at
    the commit loop's version read, so the conflict is deterministic): the
    atomic os.link publish lets exactly one win v(N+1); the loser must
    REBASE onto the winner's snapshot and commit v(N+2) — both snapshots
    present, total rows = sum, no lost update, no duplicate version."""
    import threading

    from pyspark.sql import functions as F

    t = str(tmp_path / "race")

    def rows(a, b):
        return spark.range(a, b).select(
            F.col("id").alias("image_id"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            F.concat(F.lit("cap-"), F.col("id")).alias("caption"))

    ib.write_iceberg(spark, rows(0, 100), t, partition_col="bucket")

    real = ib._current_version
    bar = threading.Barrier(2, timeout=120)
    tls = threading.local()

    def aligned(table):
        v = real(table)
        if not getattr(tls, "synced", False):
            tls.synced = True
            bar.wait()       # both threads now hold the SAME base version
            v = real(table)  # (still equal: neither has committed yet)
        return v

    results, errors = {}, []

    def appender(name, lo, hi):
        try:
            results[name] = ib.write_iceberg(spark, rows(lo, hi), t,
                                             partition_col="bucket")
        except Exception as e:  # pragma: no cover - fail loudly below
            errors.append((name, e))

    orig = ib._current_version
    ib._current_version = aligned
    try:
        t1 = threading.Thread(target=appender, args=("a", 100, 250))
        t2 = threading.Thread(target=appender, args=("b", 250, 300))
        t1.start(); t2.start()
        t1.join(timeout=300); t2.join(timeout=300)
    finally:
        ib._current_version = orig

    assert not errors, errors
    # both committed, with distinct snapshot ids 2 and 3 (order either way)
    assert sorted(results.values()) == [2, 3], results
    info = ib.table_info(t)
    assert info["current-snapshot-id"] == 3
    rows = [s["rows"] for s in info["snapshots"]]  # cumulative per snapshot
    assert rows[0] == 100 and rows[2] == 300 and rows[1] in (150, 250), rows
    assert ib.read_iceberg(spark, t).count() == 300
    # snapshot isolation still holds through the rebase
    assert ib.read_iceberg(spark, t, snapshot_id=1).count() == 100
    # exactly one metadata json per version — nobody overwrote anybody
    md = os.listdir(os.path.join(t, "metadata"))
    versions = sorted(n for n in md if n.endswith(".metadata.json"))
    assert versions == ["v1.metadata.json", "v2.metadata.json",
                        "v3.metadata.json"]
