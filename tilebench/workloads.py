"""The four closed-loop workloads: seeded tables in, one public engine call
per repetition, a checked result out.

Each workload class has the same shape:
  prepare(spark)   builds the seeded input tables (and the pip index); set-up
  run(spark)       one timed repetition -> Result
  final_check(spark, results)  untimed checks made once per run
  trace_extra(spark, spans)    extra traced measurements (archive sink)
  micro()          single-threaded kernel microbenchmarks on seeded samples
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from dataclasses import dataclass, field

import numpy as np

from . import inputs

# Fixed sizes: every run of a workload does the same amount of work, whatever
# the seed. Chosen so one repetition takes a few seconds at local[4].
POINT_IMAGES = 20_000
POINT_MAX_ZOOM = 13
POLY_SMALL = 120
POLY_LARGE = 2
POLY_LARGE_VERTICES = 1_000
POLY_LARGE_RADIUS = 0.06
POLY_MAX_ZOOM = 8
PIP_PROBES = 1_000_000
PIP_ZONES = 4_096
PIP_WITHIN = 0.01
RASTER_IMAGES = 320
INPUT_FILES = 8   # parquet files per input table = scan tasks
# Tile-exchange partitions, fixed for every host: the cores of the 4-core
# reference host. Each Python task has a fixed cost: on that host, in
# alternating runs, a polygon repetition took 4.7-6.3 s at 8 partitions and
# 3.4-4.1 s at 4, while point_tiles read the same at 4 and 8.
SHUFFLE_PARTITIONS = 4


@dataclass
class Result:
    n_out: int                 # tiles, or join rows for pip_join
    key: tuple                 # what the output check compares
    extra: dict = field(default_factory=dict)


def _write_parquet(pdf, path: str) -> None:
    """Write a generated table as INPUT_FILES parquet files with the engine's
    images schema (its columns that the table has), without a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([f for f in (
        ("image_id", pa.string()), ("bytes", pa.binary()),
        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
        ("caption", pa.string()), ("phash", pa.int64()))
        if f[0] in pdf.columns])
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), INPUT_FILES)):
        part = pdf.iloc[chunk[0]:chunk[-1] + 1] if len(chunk) else pdf.iloc[:0]
        pq.write_table(pa.Table.from_pandas(part, schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _spark_digest(df, key_col: str, blob_col: str):
    """Aggregate expressions for an order-independent digest of (key, blob):
    sums of the two 32-bit halves of one xxhash64 per row (no overflow below
    2^31 rows)."""
    from pyspark.sql import functions as F
    h = F.xxhash64(key_col, blob_col)
    return [F.count("*").alias("n"),
            F.sum(h.bitwiseAND(0xFFFFFFFF)).alias("lo"),
            F.sum(F.shiftright(h, 32)).alias("hi"),
            F.sum(F.length(blob_col)).alias("bytes")]


class _Workload:
    spans = None         # stages.Spans in a traced run
    readback_key = None  # what final_check read back, when not the result key

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir

    def _span(self, name: str):
        """Driver-side span around one call into a public layer function."""
        if self.spans is None:
            return contextlib.nullcontext()
        return self.spans.span(name)

    def final_check(self, spark, results) -> str | None:
        return None

    def trace_extra(self, spark, spans) -> dict:
        return {}


class _ImagesInput(_Workload):
    """Seeded images table stored as parquet; the engine scans it each
    repetition (the `sources` layer)."""

    n_images = 0
    with_bytes = False
    df = None
    pdf = None

    def _table(self):
        return inputs.images(self.seed, self.n_images, self.with_bytes)

    def prepare(self, spark) -> dict:
        import shutil
        path = os.path.join(self.work_dir, f"{self.name}_input")
        shutil.rmtree(path, ignore_errors=True)
        self.pdf = self._table()
        _write_parquet(self.pdf, path)
        self.df = spark.read.parquet(path)
        return {}


class PointTiles(_ImagesInput):
    """Images without bytes -> tile_pipeline.tileset z0-13 on the default
    transport -> count plus digest: map -> shuffle -> reduce with point
    render, range exchange, the Arrow boundary and PointTileStream+gzip."""

    name = "point_tiles"
    n_images = POINT_IMAGES
    polygons = None  # the seed's PolygonArchive, in a traced run

    def _tiles(self, spark, packed=None):  # None: the engine's default
        from planetiler_spark.operators import tile_pipeline as tp
        with self._span("operators.tile_pipeline.tileset"):
            return tp.tileset(spark, self.df, 0, POINT_MAX_ZOOM, packed=packed)

    def _collect(self, tiles) -> Result:
        from pyspark.sql import functions as F
        r = tiles.agg(*_spark_digest(tiles, "tile_id", "tile_bytes"),
                      F.sum("n_features").alias("nf")).collect()[0]
        return Result(int(r["n"]), (int(r["n"]), f"{r['lo']}:{r['hi']}"),
                      {"features": int(r["nf"]), "out_bytes": int(r["bytes"])})


    def run(self, spark) -> Result:
        return self._collect(self._tiles(spark))

    def reference(self, spark) -> tuple:
        """The transport the default does not pick (row or bucket-packed):
        byte-identical tiles by design."""
        from planetiler_spark.operators import tile_pipeline as tp
        return self._collect(
            self._tiles(spark, packed=not tp._packed_default())).key

    def trace_extra(self, spark, spans) -> dict:
        """The archive sink of polygon_archive (not in BENCHMARK.json), on a
        persisted tileset of this seed's polygon table."""
        self.polygons = PolygonArchive(self.seed, self.work_dir)
        self.polygons.prepare(spark)
        return self.polygons.trace_extra(spark, spans)

    def micro(self) -> dict:
        """Also the polygon and JPEG/PNG kernels (polygon_archive and
        raster_tiles are not in BENCHMARK.json), on this seed's polygon table
        and on seeded images with bytes from this workload's id range."""
        from . import micro
        out = {**micro.point_encode(self.pdf),
               **micro.raster_codecs(inputs.images(self.seed, 256, True))}
        if self.polygons is not None:
            out.update(self.polygons.micro())
        return out


class RasterTiles(_ImagesInput):
    """Images with real JPEG/PNG bytes -> render_patches ->
    encode_raster_tiles; verify_patches checks every patch once per run."""

    name = "raster_tiles"
    n_images = RASTER_IMAGES
    with_bytes = True


    def run(self, spark) -> Result:
        from pyspark.sql import functions as F
        from planetiler_spark.operators import tile_pipeline as tp
        with self._span("operators.tile_pipeline.encode_raster_tiles"):
            tiles = tp.encode_raster_tiles(tp.render_patches(self.df))
        r = tiles.agg(*_spark_digest(tiles, "tile_id", "raster"),
                      F.sum("n_images").alias("np")).collect()[0]
        return Result(int(r["n"]), (int(r["n"]), f"{r['lo']}:{r['hi']}"),
                      {"patches": int(r["np"]), "out_bytes": int(r["bytes"])})

    reference = None

    def final_check(self, spark, results) -> str | None:
        from pyspark.sql import functions as F
        from planetiler_spark.operators import tile_pipeline as tp
        v = tp.verify_patches(tp.render_patches(self.df), self.df).agg(
            F.count("*").alias("n"),
            F.sum(F.col("pixels_ok").cast("long")).alias("px"),
            F.sum(F.col("caption_ok").cast("long")).alias("cap")).collect()[0]
        return verify_error(int(v["n"]), int(v["px"] or 0), int(v["cap"] or 0),
                            results[0].extra["patches"])

    def micro(self) -> dict:
        from . import micro
        return micro.raster_codecs(self.pdf)


def verify_error(rows: int, pixels_ok: int, caption_ok: int,
                 patches: int) -> str | None:
    """verify_patches summary check: one row per patch, all (true, true)."""
    if rows != patches:
        return f"verify_patches gave {rows} rows for {patches} patches"
    if pixels_ok != rows or caption_ok != rows:
        return (f"verify_patches: {rows - pixels_ok} pixel and "
                f"{rows - caption_ok} caption failures")
    return None


class PipJoin(_ImagesInput):
    """Seeded probe points -> spatial.pip_zones(within=0.01, aggregate=True)
    over a 4096-zone index; the index build is set-up."""

    name = "pip_join"

    def _table(self):
        return inputs.probes(self.seed, PIP_PROBES)

    def prepare(self, spark) -> dict:
        from planetiler_spark.sources import images as src
        super().prepare(spark)
        src.zones_pdf.cache_clear()
        src.zones_index.cache_clear()
        t0 = time.perf_counter()
        src.zones_index(PIP_ZONES)
        return {"index_build_s": time.perf_counter() - t0}

    def _join(self, df):
        from planetiler_spark.operators import spatial as sp
        with self._span("operators.spatial.pip_zones"):
            return sp.pip_zones(df, within=PIP_WITHIN, n_zones=PIP_ZONES,
                                aggregate=True)

    def run(self, spark) -> Result:
        from pyspark.sql import functions as F
        j = self._join(self.df)
        r = j.agg(F.sum("n").alias("n"),
                  F.sum(F.when(F.col("fallback"), F.col("n")).otherwise(0))
                  .alias("fb")).collect()[0]
        return Result(int(r["n"]), (int(r["n"]), int(r["fb"])))

    def reference(self, spark) -> tuple:
        """The same probe on the driver, without Spark, broadcast or the
        map-side aggregation."""
        from planetiler_spark.sources import images as src
        idx = src.zones_index(PIP_ZONES)
        wx, wy = src.anchor_world(self.pdf["phash"].to_numpy())
        n = fb = 0
        for s in range(0, len(wx), 65536):
            pt, _, f = idx.get_containing_or_nearest(
                wx[s:s + 65536], wy[s:s + 65536], PIP_WITHIN)
            n += len(pt)
            fb += int(f.sum())
        return (n, fb)

    def micro(self) -> dict:
        from . import micro
        return micro.pip_probe(self.pdf)


class PolygonArchive(_Workload):
    """Seeded polygon table -> zones_tileset z0-8 -> write_pmtiles; the
    archive is read back once per run and every repetition's file must be
    byte-identical."""

    name = "polygon_archive"

    def __init__(self, seed: int, work_dir: str):
        super().__init__(seed, work_dir)
        self.polys = None
        self.path = os.path.join(work_dir, "polygons.pmtiles")

    def prepare(self, spark) -> dict:
        self.polys = inputs.polygons(self.seed, POLY_SMALL, POLY_LARGE,
                                     POLY_LARGE_VERTICES, POLY_LARGE_RADIUS)
        return {}

    def _tiles(self, spark):
        from planetiler_spark.operators import tile_pipeline as tp
        with self._span("operators.tile_pipeline.zones_tileset"):
            return tp.zones_tileset(spark, 0, POLY_MAX_ZOOM,
                                    shuffle_partitions=SHUFFLE_PARTITIONS,
                                    zones_pdf=self.polys)

    def run(self, spark) -> Result:
        from planetiler_spark.sources import archives as ar
        tiles = self._tiles(spark)
        with self._span("sources.archives.write_pmtiles"):
            stats = ar.write_pmtiles(tiles, self.path)
        with open(self.path, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()[:32]
        return Result(int(stats["tiles"]), (int(stats["tiles"]), sha),
                      {"out_bytes": os.path.getsize(self.path)})

    def readback(self) -> tuple:
        from planetiler_spark.sources import archives as ar
        return inputs.tiles_digest(ar.read_pmtiles(self.path).items())

    def reference(self, spark) -> tuple:
        """Digest of the tileset itself, collected without the archive."""
        t = self._tiles(spark).select("zoom", "x", "y", "tile_bytes")
        return inputs.tiles_digest(
            ((int(r.zoom), int(r.x), int(r.y)), r.tile_bytes)
            for r in t.toLocalIterator())

    def final_check(self, spark, results) -> str | None:
        got = self.readback()
        if got[0] != results[-1].n_out:
            return (f"archive reads back {got[0]} tiles, "
                    f"writer said {results[-1].n_out}")
        self.readback_key = got
        return None

    def trace_extra(self, spark, spans) -> dict:
        """The sink alone, on a persisted tileset."""
        from planetiler_spark.sources import archives as ar
        tiles = self._tiles(spark).persist()
        try:
            n = tiles.count()
            with spans.span("sink.write_pmtiles") as s:
                stats = ar.write_pmtiles(tiles, self.path)
        finally:
            tiles.unpersist()
        drain = s.t1 - s.t0
        return {"archives.drain_s": drain,
                "archives.us_per_tile": drain / max(n, 1) * 1e6,
                "archives.unique_blobs": stats["unique_blobs"],
                "archives.dedup_ratio": stats["tiles"] / max(stats["unique_blobs"], 1),
                "archives.archive_bytes": stats["bytes"]}

    def micro(self) -> dict:
        from . import micro
        return micro.polygon_slice_encode(self.polys, POLY_MAX_ZOOM)


WORKLOADS = {w.name: w for w in (PointTiles, PolygonArchive, PipJoin,
                                 RasterTiles)}
