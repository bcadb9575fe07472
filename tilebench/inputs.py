"""Seeded inputs and output digests for the tiling benchmark.

Everything here is a pure function of the seed: the same seed gives the same
tables on every host. The engine never sees the seed, only the tables.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Image ids of different seeds come from disjoint ranges of this width, so two
# seeds never share an image (ids stay below the 12-digit image_id format).
ID_RANGE = 10_000_000
N_ID_RANGES = 100_000


def image_ids(seed: int, n: int) -> np.ndarray:
    """The seed picks the image-id range; every workload with images uses it."""
    if n > ID_RANGE:
        raise ValueError(f"{n} images do not fit one id range of {ID_RANGE}")
    base = (int(seed) % N_ID_RANGES) * ID_RANGE
    return np.arange(base, base + n, dtype=np.int64)


def images(seed: int, n: int, with_bytes: bool) -> pd.DataFrame:
    """Seeded images table (schema of sources.images.IMAGES_SCHEMA): 20% of
    the rows sit in the eight city hotspots, the rest spread over the map."""
    from planetiler_spark.sources import images as src
    return src.images_batch(image_ids(seed, n), with_bytes=with_bytes)


def probes(seed: int, n: int) -> pd.DataFrame:
    """Seeded probe points for the pip join: the phash column of the seed's
    images table (the engine derives each image's geo-anchor from it),
    without the columns the join does not read."""
    from planetiler_spark.sources import images as src
    return pd.DataFrame({"phash": src.phash_of(image_ids(seed, n))})


def _convex_ring(rng, cx: float, cy: float, rx: float, ry: float,
                 n_vertices: int) -> np.ndarray:
    """Closed CCW ring through sorted random angles on an ellipse: convex."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n_vertices))
    ring = np.stack([cx + rx * np.cos(ang), cy + ry * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def _star_ring(rng, cx: float, cy: float, radius: float,
               n_vertices: int) -> np.ndarray:
    """Closed star-shaped ring (simple: one vertex per strictly increasing
    angle) with a wavy outline, so simplification and clipping have work."""
    ang = np.linspace(0.0, 2 * np.pi, n_vertices, endpoint=False)
    ang += rng.uniform(0.0, 0.5 * 2 * np.pi / n_vertices, n_vertices)
    phase = rng.uniform(0.0, 2 * np.pi, 2)
    r = radius * (1.0 + 0.25 * np.sin(7 * ang + phase[0])
                  + 0.08 * np.sin(61 * ang + phase[1])
                  + rng.uniform(-0.01, 0.01, n_vertices))
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def polygons(seed: int, n_small: int, n_large: int, large_vertices: int,
             large_radius: float) -> pd.DataFrame:
    """Seeded polygon table (zone_id, wkb, kind) in world coordinates: many
    small convex zones plus a few large many-vertex polygons. The seed picks
    every site; sizes come from fixed ranges, so the amount of work per seed
    stays close to constant."""
    from planetiler_spark.kernels import geom as gk
    rng = np.random.default_rng([int(seed), 0x706F6C79])
    kinds = ("park", "water", "admin", "landuse")
    rows = []
    for k in range(n_small):
        cx, cy = rng.uniform(0.05, 0.95, 2)
        rx, ry = rng.uniform(0.002, 0.012, 2)
        ring = _convex_ring(rng, cx, cy, rx, ry, int(rng.integers(6, 24)))
        rows.append((f"small{k:05d}", gk.wkb_polygon([ring]), kinds[k % 4]))
    for k in range(n_large):
        cx, cy = rng.uniform(0.2, 0.8, 2)
        ring = _star_ring(rng, cx, cy, large_radius, large_vertices)
        rows.append((f"large{k:03d}", gk.wkb_polygon([ring]), kinds[k % 4]))
    return pd.DataFrame(rows, columns=["zone_id", "wkb", "kind"])


def frame_digest(df: pd.DataFrame) -> str:
    """Digest of a generated table's content (row order included): the
    same seed must reproduce it bit for bit."""
    h = hashlib.sha256()
    for name in df.columns:
        h.update(name.encode())
        col = df[name]
        if col.dtype == object:
            for v in col:
                h.update(v if isinstance(v, bytes) else str(v).encode())
                h.update(b"\0")
        else:
            h.update(np.ascontiguousarray(col.to_numpy()).tobytes())
    return h.hexdigest()[:32]


def tiles_digest(tiles) -> tuple[int, str]:
    """Order-independent (count, digest) of (tile key, tile bytes) pairs:
    the sum modulo 2^64 of one 64-bit hash per tile. Used on archives read
    back on the driver."""
    total = 0
    n = 0
    for key, blob in tiles:
        h = hashlib.blake2b(repr(key).encode() + b"\0" + bytes(blob),
                            digest_size=8).digest()
        total = (total + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, f"{total:016x}"
