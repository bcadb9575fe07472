"""Mapbox Vector Tile (MVT) codec — hand-rolled protobuf, no dependencies.

Byte-level reimplementation of the reference's tile encoding
(VectorTile.java:1105 encode, :697 command enum, :202-210 zigzag;
vector_tile.proto spec v2.1):

  Tile            { repeated Layer layers = 3 }
  Layer           { version=15(=2), name=1, repeated Feature=2,
                    keys=3, values=4, extent=5(=4096) }
  Feature         { id=1, tags=2 packed, type=3, geometry=4 packed }
  Value           { string=1, float=2, double=3, int64=4, uint64=5,
                    sint64=6, bool=7 }

Geometry commands (VectorTile.java:697-713): command integer =
(id & 0x7) | (count << 3) with MOVE_TO=1, LINE_TO=2, CLOSE_PATH=7;
coordinate deltas zigzag-encoded (VectorTile.java:202-210).

The encoder is deterministic: keys/values are interned in first-seen order
(mirrors VectorTile.Layer keys/values LinkedHashMaps, VectorTile.java:100).
"""

from __future__ import annotations

import gzip
import struct

import numpy as np

EXTENT = 4096  # VectorTile.java:97
GEOM_POINT = 1
GEOM_LINESTRING = 2
GEOM_POLYGON = 3

_MOVE_TO = 1
_LINE_TO = 2
_CLOSE_PATH = 7


def _varint_slow(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# LEB128 lookup for 0..2^16-1: geometry command streams and length prefixes
# are almost always small ints, and the per-call bytearray loop was the top
# cost of polygon tile encoding (7M calls per ~200k features)
_VTAB = [_varint_slow(i) for i in range(1 << 16)]


def _varint(n: int) -> bytes:
    if 0 <= n < (1 << 16):
        return _VTAB[n]
    return _varint_slow(n)


def _tag(field: int, wire: int) -> bytes:
    return _VTAB[(field << 3) | wire]


def _len_delim(field: int, payload: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(payload)) + payload


def _packed(field: int, ints) -> bytes:
    # inline bounds check: a bare table lookup would silently WRAP negative
    # values to _VTAB[-k]; commands are non-negative by construction but this
    # helper is generic
    body = b"".join([_VTAB[v] if 0 <= v < (1 << 16) else _varint_slow(int(v))
                     for v in ints])
    return _len_delim(field, body)


def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def encode_value(v) -> bytes:
    """MVT Value message for the 4 intermediate-supported types (string, long,
    double, bool — collection/FeatureGroup.java:290-298; others stringified)."""
    if isinstance(v, bool):
        return _tag(7, 0) + _varint(1 if v else 0)
    if isinstance(v, (int, np.integer)):
        return _tag(6, 0) + _varint(zigzag(int(v)))
    if isinstance(v, (float, np.floating)):
        return _tag(3, 1) + struct.pack("<d", float(v))
    return _len_delim(1, str(v).encode("utf-8"))


def encode_geometry(geom_type: int, parts: list[np.ndarray]) -> list[int]:
    """Tile-local integer coordinates -> MVT command stream.

    parts: list of (N,2) int arrays — points (one part, N points), line pieces,
    or polygon rings (closed; closing vertex dropped, CLOSE_PATH emitted),
    matching VectorTile.encodeGeometry:426-480 cursor semantics."""
    cmds: list[int] = []
    cx = cy = 0
    if geom_type == GEOM_POINT:
        pts = parts[0]
        cmds.append(_MOVE_TO | (len(pts) << 3))
        for x, y in pts:
            cmds.append(zigzag(int(x) - cx))
            cmds.append(zigzag(int(y) - cy))
            cx, cy = int(x), int(y)
        return cmds
    for part in parts:
        p = part
        if geom_type == GEOM_POLYGON and len(p) > 1 and p[0][0] == p[-1][0] and p[0][1] == p[-1][1]:
            p = p[:-1]
        if len(p) < (3 if geom_type == GEOM_POLYGON else 2):
            continue
        cmds.append(_MOVE_TO | (1 << 3))
        x0, y0 = int(p[0][0]), int(p[0][1])
        cmds.append(zigzag(x0 - cx))
        cmds.append(zigzag(y0 - cy))
        cx, cy = x0, y0
        cmds.append(_LINE_TO | ((len(p) - 1) << 3))
        for x, y in p[1:]:
            cmds.append(zigzag(int(x) - cx))
            cmds.append(zigzag(int(y) - cy))
            cx, cy = int(x), int(y)
        if geom_type == GEOM_POLYGON:
            cmds.append(_CLOSE_PATH | (1 << 3))
    return cmds


def encode_fill(buffer_px: float = 4.0) -> list[int]:
    """Constant full-tile fill square (VectorTile.encodeFill:481-489):
    one rect covering the tile + buffer, reused for every filled interior tile."""
    b = int(round(buffer_px * EXTENT / 256.0))
    ring = np.array([[-b, -b], [EXTENT + b, -b], [EXTENT + b, EXTENT + b], [-b, EXTENT + b], [-b, -b]])
    return encode_geometry(GEOM_POLYGON, [ring])


class LayerBuilder:
    """One MVT layer under construction; interns keys/values first-seen."""

    def __init__(self, name: str):
        self.name = name
        self.keys: dict[str, int] = {}
        self.values: dict[bytes, int] = {}
        self.features: list[bytes] = []

    def add_feature(self, fid: int | None, geom_type: int, commands: list[int],
                    attrs: dict | None = None):
        self.add_feature_rawgeom(fid, geom_type, _packed(4, commands), attrs)

    def add_feature_rawgeom(self, fid: int | None, geom_type: int,
                            geom_field: bytes, attrs: dict | None = None):
        """add_feature for a PRE-ENCODED geometry field (tag 0x22 + length +
        command varints), e.g. one slice of polygon_geom_stream's output;
        add_feature(fid, geom_type, commands, attrs) is this with
        geom_field = _packed(4, commands)."""
        tags: list[int] = []
        for k, v in (attrs or {}).items():
            if v is None:
                continue
            ki = self.keys.setdefault(k, len(self.keys))
            vb = encode_value(v)
            vi = self.values.setdefault(vb, len(self.values))
            tags.append(ki)
            tags.append(vi)
        body = b""
        if fid is not None:
            body += _tag(1, 0) + _varint(int(fid))
        if tags:
            body += _packed(2, tags)
        body += _tag(3, 0) + _varint(geom_type) + geom_field
        self.features.append(body)

    def build(self) -> bytes:
        parts = [_tag(15, 0) + _varint(2),  # version 2
                 _len_delim(1, self.name.encode("utf-8"))]
        parts.extend(_len_delim(2, f) for f in self.features)
        parts.extend(_len_delim(3, k.encode("utf-8")) for k in self.keys)
        parts.extend(_len_delim(4, vb) for vb in self.values)
        parts.append(_tag(5, 0) + _varint(EXTENT))
        return b"".join(parts)


def encode_tile(layers: list[LayerBuilder], compress: bool = True) -> bytes:
    raw = b"".join(_len_delim(3, lb.build()) for lb in layers)
    if compress:
        # fixed mtime -> deterministic bytes (tile content-hash dedup relies on it)
        return gzip.compress(raw, compresslevel=6, mtime=0)
    return raw


# ---------------------------------------------------------------------------
# vectorized point-layer encoder — the tiles/sec hot path
#
# Encodes EVERY single-point feature of an Arrow batch in one shot with numpy
# (varint matrices + offset scatter), then slices per tile; per-tile Python
# work collapses to a few buffer joins + gzip. Byte-identical to the
# LayerBuilder path modulo value interning (this path emits per-feature
# values; MVT permits duplicate value entries).
# ---------------------------------------------------------------------------

def varint_matrix(a: np.ndarray):
    """Vectorized LEB128: int64 array (non-negative, < 2^63) ->
    (bytes (n,W) uint8, lengths (n,)) where W is the max width actually
    needed — the common all-below-128 case (string lengths, small deltas)
    collapses to a single (n,1) pass."""
    a = np.asarray(a, dtype=np.int64)
    if len(a) == 0:
        return np.zeros((0, 1), dtype=np.uint8), np.zeros(0, dtype=np.int64)
    mx = int(a.max())
    w = max(1, (mx.bit_length() + 6) // 7)
    if w == 1:
        return a.astype(np.uint8)[:, None], np.ones(len(a), dtype=np.int64)
    ln = np.ones(len(a), dtype=np.int64)
    for k in range(1, w):
        ln += a >= (1 << (7 * k))
    out = np.zeros((len(a), w), dtype=np.uint8)
    v = a.copy()
    for k in range(w):
        more = (k + 1) < ln
        out[:, k] = (v & 0x7F) | np.where(more, 0x80, 0)
        v >>= 7
    return out, ln


def _lit_col(n: int, *vals: int):
    """Constant literal column: (n, len(vals)) bytes + constant lengths."""
    b = np.tile(np.array(vals, dtype=np.uint8), (n, 1))
    return b, np.full(n, len(vals), dtype=np.int64)


def _pack_rows(parts, n: int):
    """[(B (n,w) uint8, L (n,))] -> (offsets (n+1,), flat uint8 data): the
    per-row concatenation of variable-length segments via ONE boolean-mask
    compaction (an order of magnitude faster than per-segment scatters)."""
    Bs = np.concatenate([B for B, _ in parts], axis=1)
    mask = np.concatenate(
        [np.arange(B.shape[1])[None, :] < L[:, None] for B, L in parts], axis=1)
    total = parts[0][1].copy()
    for _, L in parts[1:]:
        total += L
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(total, out=off[1:])
    return off, Bs[mask]


def polygon_geom_stream(rings: list[np.ndarray], ring_feat, n_features: int):
    """Vectorized polygon command-stream encoder — the polygon twin of
    PointTileStream (VERDICT r2 #3).

    rings: every ring of every feature in the batch, feature-major
    ((N,2) int arrays, closed or open); ring_feat: feature index per ring
    (non-decreasing, in [0, n_features)).

    Returns (off (n_features+1,) int64, flat bytes) where
    flat[off[f]:off[f+1]] is feature f's COMPLETE Feature.geometry protobuf
    field (tag 0x22 + length varint + command varints) — byte-identical to
    _packed(4, encode_geometry(GEOM_POLYGON, parts)) (asserted in test_mvt).
    Features whose rings all degenerate get an empty slice.

    All per-vertex work (cursor deltas with per-feature reset, zigzag,
    LEB128, MOVE/LINE/CLOSE headers, per-feature length prefixes) happens in
    whole-batch numpy; the single boolean-mask compaction in _pack_rows does
    the ragged interleave."""
    kept, kfeat = [], []
    for r, f in zip(rings, ring_feat):
        p = np.asarray(r)
        if len(p) > 1 and p[0][0] == p[-1][0] and p[0][1] == p[-1][1]:
            p = p[:-1]
        if len(p) < 3:
            continue
        kept.append(p)
        kfeat.append(f)
    off_out = np.zeros(n_features + 1, dtype=np.int64)
    if not kept:
        return off_out, b""
    rlen = np.array([len(p) for p in kept], dtype=np.int64)
    feat = np.repeat(np.array(kfeat, dtype=np.int64), rlen)
    X = np.concatenate([np.asarray(p[:, 0], dtype=np.int64) for p in kept])
    Y = np.concatenate([np.asarray(p[:, 1], dtype=np.int64) for p in kept])
    n = len(X)
    rstart = np.zeros(len(kept), dtype=np.int64)
    np.cumsum(rlen[:-1], out=rstart[1:])
    featfirst = np.zeros(n, dtype=bool)
    featfirst[0] = True
    featfirst[1:] = feat[1:] != feat[:-1]
    # cursor deltas: previous vertex in the flat stream (rings of one feature
    # are adjacent and closing vertices dropped), reset to (0,0) per feature
    prevX = np.empty(n, dtype=np.int64); prevX[0] = 0; prevX[1:] = X[:-1]
    prevY = np.empty(n, dtype=np.int64); prevY[0] = 0; prevY[1:] = Y[:-1]
    prevX[featfirst] = 0; prevY[featfirst] = 0
    dx = X - prevX
    dy = Y - prevY
    Bzx, Lzx = varint_matrix(2 * np.abs(dx) - (dx < 0))
    Bzy, Lzy = varint_matrix(2 * np.abs(dy) - (dy < 0))
    # MOVE_TO|1 on ring-first, LINE_TO|(len-1) on ring-second, CLOSE on last
    Lm = np.zeros(n, dtype=np.int64); Lm[rstart] = 1
    Bm = np.full((n, 1), _MOVE_TO | (1 << 3), dtype=np.uint8)
    lva = np.zeros(n, dtype=np.int64)
    lva[rstart + 1] = _LINE_TO | ((rlen - 1) << 3)
    Bl, Ll = varint_matrix(lva)
    Ll = np.where(lva > 0, Ll, 0)
    Lc = np.zeros(n, dtype=np.int64); Lc[rstart + rlen - 1] = 1
    Bc = np.full((n, 1), _CLOSE_PATH | (1 << 3), dtype=np.uint8)
    # per-feature payload length -> field header attached to the first vertex
    vlen = Lm + Ll + Lzx + Lzy + Lc
    ffidx = np.nonzero(featfirst)[0]
    paylen = np.add.reduceat(vlen, ffidx)
    Bh, Lh = varint_matrix(paylen)
    Bhdr = np.zeros((n, Bh.shape[1]), dtype=np.uint8)
    Bhdr[ffidx] = Bh
    Lhdr = np.zeros(n, dtype=np.int64)
    Lhdr[ffidx] = Lh
    Ltag = featfirst.astype(np.int64)
    Btag = np.full((n, 1), 0x22, dtype=np.uint8)  # field 4, wire 2
    _, flat = _pack_rows([(Btag, Ltag), (Bhdr, Lhdr), (Bm, Lm), (Bl, Ll),
                          (Bzx, Lzx), (Bzy, Lzy), (Bc, Lc)], n)
    pres = feat[ffidx]
    off_out[pres + 1] = paylen + 1 + Lh
    np.cumsum(off_out, out=off_out)
    return off_out, flat.tobytes()


class PointTileStream:
    """Encode sorted single-point features (3 attrs: image_id, caption,
    sort_key) into per-tile MVT blobs, vectorized across the whole batch."""

    KEYS = b"".join(_len_delim(3, k.encode()) for k in ("image_id", "caption", "sort_key"))
    VER_NAME = _tag(15, 0) + _varint(2) + _len_delim(1, b"images")
    EXTENT_TRAILER = _tag(5, 0) + _varint(EXTENT)

    def __init__(self, ex, ey, sort_key, image_id, caption):
        self._n = len(ex)
        self._ex = np.asarray(ex, dtype=np.int64)
        self._ey = np.asarray(ey, dtype=np.int64)
        self._sk = np.asarray(sort_key, dtype=np.int64)
        self._ids = image_id    # numpy object array OR pyarrow (large_)string
        self._caps = caption

    def build(self, tile_starts: np.ndarray):
        """tile_starts: start index of each tile group (sorted). Returns
        (feat_offsets, feat_flat, val_offsets, val_flat) with offsets of
        length n+1."""
        n = self._n
        group_of = np.searchsorted(tile_starts, np.arange(n), side="right") - 1
        j = np.arange(n, dtype=np.int64) - tile_starts[group_of]  # local feature idx
        zx = 2 * np.abs(self._ex) - (self._ex < 0)  # zigzag vectorized
        zy = 2 * np.abs(self._ey) - (self._ey < 0)

        Bzx, Lzx = varint_matrix(zx)
        Bzy, Lzy = varint_matrix(zy)
        Bt1, Lt1 = varint_matrix(3 * j)
        Bt2, Lt2 = varint_matrix(3 * j + 1)
        Bt3, Lt3 = varint_matrix(3 * j + 2)

        geomlen = 1 + Lzx + Lzy
        taglen = 3 + Lt1 + Lt2 + Lt3
        featmsg = (2 + taglen) + 2 + (2 + geomlen)
        Bfl, Lfl = varint_matrix(featmsg)
        Btl, Ltl = varint_matrix(taglen)
        Bgl, Lgl = varint_matrix(geomlen)

        off, buf = _pack_rows([
            _lit_col(n, 0x12),            # Layer.features field
            (Bfl, Lfl),                   # feature msg length
            _lit_col(n, 0x12),            # Feature.tags
            (Btl, Ltl),
            _lit_col(n, 0x00), (Bt1, Lt1),   # key 0
            _lit_col(n, 0x01), (Bt2, Lt2),   # key 1
            _lit_col(n, 0x02), (Bt3, Lt3),   # key 2
            _lit_col(n, 0x18, 0x01, 0x22),   # type=1, Feature.geometry
            (Bgl, Lgl),
            _lit_col(n, 0x09),            # MOVE_TO | 1<<3
            (Bzx, Lzx), (Bzy, Lzy),
        ], n)

        val_off, val_flat = self._build_values(n)
        return off, buf.tobytes(), val_off, val_flat

    def _build_values(self, n: int):
        """Value stream, fully vectorized: 3 entries per feature (image_id
        string, caption string, sort_key sint).

        UTF-8 encoding happens ONCE per batch via pyarrow's C-level object ->
        large_string conversion; the per-feature protobuf headers are packed
        from varint matrices by boolean-mask compaction into three
        LargeBinary segment arrays; pyarrow's binary_join_element_wise then
        interleaves header/string/header/string/sk-entry row-wise in C.
        Replaces the former ~1.25us/row Python join loop at ~0.3us/row (the
        earlier np.char attempt lost 11x because per-element string ufuncs
        re-encode per row; a per-byte fancy-index scatter lost 8x — arrow
        does both the encode and the interleave once per batch)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        def as_binary(col):
            # pyarrow input (the mapInArrow path): offsets already built, the
            # cast to large_binary is an offset-width change at most; numpy
            # object input pays ONE C-level encode for the whole batch.
            # SLICED arrays (nonzero offset, e.g. rb.column() of a sliced
            # RecordBatch) must be re-materialized first: the offsets buffer
            # below is read from index 0, which would yield wrong lengths
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            if isinstance(col, pa.Array):
                if col.offset:
                    col = pa.concat_arrays([col])
                return col.cast(pa.large_binary())
            return pa.array(col, type=pa.large_string()).cast(pa.large_binary())

        ids = as_binary(self._ids)
        caps = as_binary(self._caps)
        Li = np.diff(np.frombuffer(ids.buffers()[1], dtype=np.int64, count=n + 1))
        Lc = np.diff(np.frombuffer(caps.buffers()[1], dtype=np.int64, count=n + 1))

        ones = np.ones(n, dtype=np.int64)

        def lit(b):
            return np.full((n, 1), b, dtype=np.uint8), ones

        def seg_binary(parts):
            """[(B (n,w), L)] -> LargeBinaryArray of the per-row
            concatenation (_pack_rows)."""
            offs, data = _pack_rows(parts, n)
            return pa.LargeBinaryArray.from_buffers(
                pa.large_binary(), n,
                [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data.tobytes())])

        BLi, nLi = varint_matrix(Li)            # inner string-length varint
        BLc, nLc = varint_matrix(Lc)
        BOi, nOi = varint_matrix(1 + nLi + Li)  # outer Value-message length
        BOc, nOc = varint_matrix(1 + nLc + Lc)
        zz = 2 * np.abs(self._sk) - (self._sk < 0)
        Bsk, Lsk = varint_matrix(zz)

        hdr_i = seg_binary([lit(0x22), (BOi, nOi), lit(0x0A), (BLi, nLi)])
        hdr_c = seg_binary([lit(0x22), (BOc, nOc), lit(0x0A), (BLc, nLc)])
        sk_seg = seg_binary([lit(0x22),
                             ((1 + Lsk).astype(np.uint8)[:, None], ones),
                             lit(0x30), (Bsk, Lsk)])
        joined = pc.binary_join_element_wise(
            hdr_i, ids, hdr_c, caps, sk_seg,
            pa.scalar(b"", type=pa.large_binary()))
        val_off = np.frombuffer(joined.buffers()[1], dtype=np.int64,
                                count=n + 1).copy()
        val_flat = joined.buffers()[2].to_pybytes()[:int(val_off[-1])]
        return val_off, val_flat

    def encode_tiles(self, tile_starts: np.ndarray, tile_ends: np.ndarray,
                     compress: bool = True, compresslevel: int = 6):
        """Yield one MVT blob per tile group."""
        foff, fflat, voff, vflat = self.build(tile_starts)
        ver = self.VER_NAME
        keys = self.KEYS
        ext = self.EXTENT_TRAILER
        for s, e in zip(tile_starts, tile_ends):
            body = (ver + fflat[foff[s]:foff[e]] + keys +
                    vflat[voff[s]:voff[e]] + ext)
            raw = _tag(3, 2) + _varint(len(body)) + body
            yield gzip.compress(raw, compresslevel=compresslevel, mtime=0) if compress else raw


# --- decoder (for tests / archive verification, mirrors VectorTile.decode:365) ---

def _read_varint(buf: memoryview, off: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[off]
        off += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, off
        shift += 7


def _decode_value(buf: bytes):
    mv = memoryview(buf)
    off = 0
    key, off = _read_varint(mv, off)
    field, wire = key >> 3, key & 7
    if field == 1:
        ln, off = _read_varint(mv, off)
        return bytes(mv[off:off + ln]).decode("utf-8")
    if field == 3:
        return struct.unpack_from("<d", mv, off)[0]
    if field == 6:
        v, off = _read_varint(mv, off)
        return unzigzag(v)
    if field == 7:
        v, off = _read_varint(mv, off)
        return bool(v)
    if field in (4, 5):
        v, off = _read_varint(mv, off)
        return v
    if field == 2:
        return struct.unpack_from("<f", mv, off)[0]
    raise ValueError(f"bad value field {field}")


def decode_tile(data: bytes) -> dict:
    """MVT bytes (gzip or raw) -> {layer: [{id, type, geometry, attrs}]} with
    geometry as list of (N,2) int arrays (commands replayed)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    mv = memoryview(data)
    off = 0
    out: dict = {}
    while off < len(mv):
        key, off = _read_varint(mv, off)
        field, wire = key >> 3, key & 7
        ln, off = _read_varint(mv, off)
        payload = mv[off:off + ln]
        off += ln
        if field == 3:
            name, feats = _decode_layer(payload)
            out[name] = feats
    return out


def _decode_layer(mv: memoryview):
    off = 0
    name = ""
    keys: list[str] = []
    values: list = []
    raw_feats: list[memoryview] = []
    while off < len(mv):
        key, off = _read_varint(mv, off)
        field, wire = key >> 3, key & 7
        if wire == 0:
            _, off = _read_varint(mv, off)
            continue
        ln, off = _read_varint(mv, off)
        payload = mv[off:off + ln]
        off += ln
        if field == 1:
            name = bytes(payload).decode("utf-8")
        elif field == 2:
            raw_feats.append(payload)
        elif field == 3:
            keys.append(bytes(payload).decode("utf-8"))
        elif field == 4:
            values.append(_decode_value(bytes(payload)))
    feats = []
    for fm in raw_feats:
        feats.append(_decode_feature(fm, keys, values))
    return name, feats


def _decode_feature(mv: memoryview, keys, values):
    off = 0
    fid = None
    gtype = 0
    tags: list[int] = []
    cmds: list[int] = []
    while off < len(mv):
        key, off = _read_varint(mv, off)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, off = _read_varint(mv, off)
            if field == 1:
                fid = v
            elif field == 3:
                gtype = v
        else:
            ln, off = _read_varint(mv, off)
            end = off + ln
            while off < end:
                v, off = _read_varint(mv, off)
                (tags if field == 2 else cmds).append(v)
    # replay commands -> list of parts
    parts: list[np.ndarray] = []
    cur: list[tuple[int, int]] = []
    x = y = 0
    i = 0
    while i < len(cmds):
        cmd = cmds[i]
        i += 1
        op, count = cmd & 7, cmd >> 3
        if op == _MOVE_TO:
            for _ in range(count):
                if cur:
                    parts.append(np.array(cur))
                    cur = []
                x += unzigzag(cmds[i]); y += unzigzag(cmds[i + 1]); i += 2
                cur.append((x, y))
                if gtype == GEOM_POINT:
                    parts.append(np.array(cur))
                    cur = []
        elif op == _LINE_TO:
            for _ in range(count):
                x += unzigzag(cmds[i]); y += unzigzag(cmds[i + 1]); i += 2
                cur.append((x, y))
        elif op == _CLOSE_PATH:
            if cur:
                cur.append(cur[0])
                parts.append(np.array(cur))
                cur = []
    if cur:
        parts.append(np.array(cur))
    attrs = {keys[tags[j]]: values[tags[j + 1]] for j in range(0, len(tags), 2)}
    return {"id": fid, "type": gtype, "geometry": parts, "attrs": attrs}


def compute_tile_stats(data: bytes) -> list[dict]:
    """Per-layer size statistics of an encoded tile — the exact semantics of
    the reference's TileSizeStats.computeTileStats (TileSizeStats.java:
    229-258), validated against TileSizeStatsTest's golden numbers:

      layer_bytes      serialized size of the layer message body
      layer_features   feature count
      layer_geometries sum of MoveTo command lengths per feature
                       (VectorTile.countGeometries:458-475)
      layer_attr_bytes sum of raw key byte lengths + serialized Value
                       message sizes
      layer_attr_keys / layer_attr_values  interned counts

    Result sorted by layer name (LayerStats.compareTo)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    mv = memoryview(data)
    off = 0
    out = []
    while off < len(mv):
        key, off = _read_varint(mv, off)
        field = key >> 3
        ln, off = _read_varint(mv, off)
        payload = mv[off:off + ln]
        off += ln
        if field != 3:
            continue
        name = ""
        n_feat = n_geom = n_keys = n_vals = attr_bytes = 0
        p = 0
        while p < len(payload):
            k, p = _read_varint(payload, p)
            f, wire = k >> 3, k & 7
            if wire == 0:
                _, p = _read_varint(payload, p)
                continue
            l2, p = _read_varint(payload, p)
            body = payload[p:p + l2]
            p += l2
            if f == 1:
                name = bytes(body).decode("utf-8")
            elif f == 2:
                n_feat += 1
                n_geom += _count_geometries(body)
            elif f == 3:
                n_keys += 1
                attr_bytes += l2
            elif f == 4:
                n_vals += 1
                attr_bytes += l2
        out.append({"layer": name, "layer_bytes": int(ln),
                    "layer_features": n_feat, "layer_geometries": n_geom,
                    "layer_attr_bytes": attr_bytes, "layer_attr_keys": n_keys,
                    "layer_attr_values": n_vals})
    out.sort(key=lambda s: s["layer"])
    return out


def _count_geometries(feature: memoryview) -> int:
    """MoveTo-length sum over the feature's geometry commands
    (VectorTile.countGeometries:458-475)."""
    off = 0
    total = 0
    while off < len(feature):
        key, off = _read_varint(feature, off)
        field, wire = key >> 3, key & 7
        if wire == 0:
            _, off = _read_varint(feature, off)
            continue
        ln, off = _read_varint(feature, off)
        end = off + ln
        if field != 4:
            off = end
            continue
        cmds = []
        while off < end:
            v, off = _read_varint(feature, off)
            cmds.append(v)
        i = 0
        while i < len(cmds):
            cmd = cmds[i]
            op, count = cmd & 7, cmd >> 3
            if op == _MOVE_TO:
                total += count
            i += 1
            if op != _CLOSE_PATH:
                i += count * 2
    return total
