"""Analytic range partitioning — global sort order without a sampling pass.

Spark's `repartitionByRange` / `sort` estimate partition boundaries by
SAMPLING the child plan, which runs the entire upstream pipeline in a
separate job before the real one (measured on the ordered tileset at sf0.1:
every stage executed twice, 5.5s vs 3.8s for the unordered plan).

Planetiler's tile-id space needs no sampling: ids are zoom-major with
analytically-known extents — zoom z occupies [ZOOM_START_INDEX[z],
ZOOM_START_INDEX[z] + 4^z) (reference geo/TileCoord.java:31-44, :86-90) —
and a point feature appears once per zoom, so the expected row mass per
zoom is uniform. `tile_range_boundaries` turns that into contiguous id
buckets, and `partition_tokens` turns a plain hash exchange into an EXACT
range exchange: token[i] is a long whose Murmur3 hash lands on partition i
(HashPartitioning.partitionIdExpression = pmod(murmur3(cols), n), the same
expression `F.hash` exposes), so `df.repartition(p, token_col)` places
bucket-group i on partition index i. Partitions then ascend with tile id
and a per-partition sort yields a TOTAL zoom-major order with zero extra
jobs, zero sampling, and no second pipeline execution.

At 100 TB the same construction holds: boundaries depend only on
(min_zoom, max_zoom, n_buckets), not on data volume. City-skew makes
BUCKETS uneven, but a dense city still spreads over many z12-z14 ids, and
n_buckets (default 8x partitions) exists precisely so AQE-style balance
concerns can be tuned without touching the sort contract. The degenerate
low-zoom tiles (one id = one bucket floor) are exactly as skewed as they
are under hash partitioning — a single tile can never split.

`group_by_tile` is the tile reduce built on this exchange: the point (row
and packed), zones, raster, feature-merge and OSM reducers all stream their
consecutive same-tile runs through it.
"""

from __future__ import annotations

import numpy as np

from ..kernels.tile_math import ZOOM_START_INDEX


def tile_range_partitioning(min_zoom: int, max_zoom: int, p: int,
                            buckets_per_partition: int = 8
                            ) -> tuple[np.ndarray, np.ndarray]:
    """(boundaries, pid): bucket START ids (sorted int64) and the target
    partition index of each bucket (non-decreasing, 0..p-1). Bucket of a
    tile id = searchsorted(boundaries, id, 'right') - 1.

    Buckets are allocated per zoom proportional to expected ROW mass (equal
    per zoom for point features — one slice per zoom), capped at the zoom's
    tile count (a bucket narrower than one id is useless), surplus
    reallocated to the deepest zooms where the ids actually live. Buckets
    then map to partitions by cumulative expected mass, so a partition owns
    ~1/p of the rows, not 1/p of the id space. A low-zoom bucket whose mass
    exceeds 1/p (e.g. the single z0 tile) simply owns its partition alone —
    the same irreducible skew hash partitioning has, with the label-grid
    thin capping what such a tile can hold anyway."""
    zooms = list(range(min_zoom, max_zoom + 1))
    nz = len(zooms)
    n_buckets = p * buckets_per_partition
    tiles_at = {z: 1 << (2 * z) for z in zooms}
    alloc = {z: max(1, n_buckets // nz) for z in zooms}
    for z in zooms:  # cap: can't usefully split fewer ids than buckets
        alloc[z] = min(alloc[z], tiles_at[z])
    surplus = n_buckets - sum(alloc.values())
    for z in reversed(zooms):  # deepest zooms hold the most ids
        if surplus <= 0:
            break
        extra = min(surplus, tiles_at[z] - alloc[z])
        alloc[z] += extra
        surplus -= extra
    starts, weights = [], []
    for z in zooms:
        base = int(ZOOM_START_INDEX[z])
        span = tiles_at[z]
        b = alloc[z]
        starts.append(base + np.arange(b, dtype=np.int64) * span // b)
        weights.append(np.full(b, 1.0 / (nz * b)))
    boundaries = np.concatenate(starts)
    w = np.concatenate(weights)
    mass_before = np.cumsum(w) - w
    pid = np.minimum((mass_before * p).astype(np.int64), p - 1)
    return boundaries, pid


_TOKEN_CACHE: dict[int, np.ndarray] = {}


def partition_tokens(spark, p: int) -> np.ndarray:
    """tokens[i] = a non-negative long whose hash partition under
    HashPartitioning(p) is exactly i, probed from Spark itself (one tiny
    driver-side job, cached per partition count) so the mapping can never
    drift from the JVM's Murmur3 seed/byte-order."""
    hit = _TOKEN_CACHE.get(p)
    if hit is not None:
        return hit
    from pyspark.sql import functions as F

    tokens = np.full(p, -1, dtype=np.int64)
    lo, found = 0, 0
    while found < p:
        probe = (spark.range(lo, lo + 64 * p)
                 .select("id", F.pmod(F.hash("id"), F.lit(p)).alias("pt"))
                 .collect())
        for r in probe:
            i = int(r["pt"])
            if tokens[i] < 0:
                tokens[i] = int(r["id"])
                found += 1
        lo += 64 * p
    _TOKEN_CACHE[p] = tokens
    return tokens


def token_col(p: int) -> str:
    """Column name for range-exchange tokens, carrying the partition count
    they were built for — a consumer repartitioning with a DIFFERENT p must
    fail loudly (see resolve_token_col) instead of silently losing the
    total-order contract."""
    return f"tok_p{p}"


def range_tokens(spark, min_zoom: int, max_zoom: int, p: int,
                 buckets_per_partition: int = 8
                 ) -> tuple[np.ndarray, np.ndarray, str]:
    """(boundaries, token of each bucket, token column name) for a render
    over zooms min_zoom..max_zoom feeding a p-partition tile exchange."""
    boundaries, pid = tile_range_partitioning(min_zoom, max_zoom, p,
                                              buckets_per_partition)
    return boundaries, partition_tokens(spark, p)[pid], token_col(p)


def resolve_token_col(columns, p: int) -> str | None:
    """Return the token column matching partition count p, None if the frame
    carries no token column, and raise if it carries one built for a
    different p (the exchange would still colocate tiles, but the output
    would silently stop being range-ordered)."""
    toks = [c for c in columns if c.startswith("tok_p")]
    if not toks:
        return None
    want = token_col(p)
    if want not in toks:
        raise ValueError(
            f"range-exchange token column {toks} was built for a different "
            f"partition count than {p}; pass matching `partitions` to both "
            "the render and the reduce")
    return want


def run_bounds(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the consecutive equal-key runs of a non-empty
    array."""
    starts = np.nonzero(np.diff(keys, prepend=keys[0] - 1))[0]
    return starts, np.append(starts[1:], len(keys))


def consecutive_runs(batches, run_col: str = "tile_id"):
    """Arrow record batches sorted by `run_col` -> pyarrow Tables that each
    hold only COMPLETE consecutive runs of it — FeatureGroup.groupIntoTiles
    :339-378. A batch's trailing run may continue into the next batch, so it
    is held back as zero-copy RecordBatch.slice chunks and concatenated once
    when a later key shows up: a dense city tile spanning hundreds of
    batches costs linear copies, never quadratic. Raises ValueError on
    unsorted input, which would otherwise silently mis-group."""
    import pyarrow as pa

    held: list = []
    last = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        keys = rb.column(run_col).to_numpy()
        if (last is not None and keys[0] < last) or np.any(keys[1:] < keys[:-1]):
            raise ValueError(f"batch not sorted by {run_col} "
                             "(upstream sortWithinPartitions missing?)")
        cut = int(np.searchsorted(keys, keys[-1], side="left"))
        if cut:
            yield pa.Table.from_batches(held + [rb.slice(0, cut)])
            held = []
        elif held and keys[0] != last:
            yield pa.Table.from_batches(held)
            held = []
        held.append(rb.slice(cut))
        last = keys[-1]
    if held:
        yield pa.Table.from_batches(held)


def group_by_tile(df, partitions: int | None, order_cols: list[str],
                  reduce_fn, schema: str, run_col: str = "tile_id"):
    """The phase-3 tile reduce, Spark-first: one exchange that colocates
    each run of `run_col`, a sort within partitions (the shuffle + sort IS
    ExternalMergeSort.java:168), then `reduce_fn` over the complete runs of
    each Arrow batch (consecutive_runs) inside mapInArrow — orders of
    magnitude less per-group overhead than groupBy().applyInPandas at
    millions of small tiles.

    The exchange rides the frame's range-exchange token column when it has
    one, which makes the output TOTAL zoom-major order with no sampling
    pass; without one it hash-partitions on tile_id. `reduce_fn(table)`
    returns a dict of output columns (anything pa.array accepts) keyed by
    the names of DDL `schema`, or None for no rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    p = int(partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    key = resolve_token_col(df.columns, p)
    if key is None:
        if run_col != "tile_id":
            raise ValueError(f"grouping by {run_col!r} needs a range-exchange "
                             "token column")
        key = "tile_id"
    shuffled = df.repartition(p, key).sortWithinPartitions(run_col, *order_cols)
    out_schema = to_arrow_schema(DataType.fromDDL(schema))

    def reduce_batches(batches):
        for tbl in consecutive_runs(batches, run_col):
            cols = reduce_fn(tbl)
            if cols is not None:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(cols[f.name], type=f.type) for f in out_schema],
                    schema=out_schema)

    return shuffled.mapInArrow(reduce_batches, schema)
