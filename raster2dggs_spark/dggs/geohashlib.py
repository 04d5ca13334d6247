"""Pure-NumPy geohash library — exact published geohash system.

Replaces the reference's ``geohash`` backend
(/root/reference/raster2dggs/indexers/geohashrasterindexer.py): base-32
Z-order bisection of (lon, lat), precision 1..12 characters.

Int64 packing (engine-internal; strings at the output edge):

    id = (bits << 4) | precision        bits = 5*precision interleaved
                                        bits, left-aligned at bit 5p-1..0

so parent = drop characters = shift right 5*k then adjust the precision
nibble — pure bit arithmetic, expressible as a native Spark Column like
H3/S2 parents.  Known-vector pinned: geohash(57.64911N, 10.40744E, 11)
== "u4pruydqqvj" (the canonical example).
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs._bits import compress, spread

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32_INV = {c: i for i, c in enumerate(_B32)}
MAX_PRECISION = 12
MAX_RES = MAX_PRECISION
MIN_RES = 1
PARENT_OFFSET = 3  # 32^3 = 33K subcells per parent partition
AREA_FRACTION = 1.0
AREA_BY_RES = False
COVER = "lattice"
COVER_HALO = 2.0
LEVEL_BITS = 5  # one base-32 character per level


def lonlat_to_cell(lon_deg, lat_deg, precision: int):
    """Vectorized encode to packed int64 geohash ids."""
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError("precision 1..12")
    lon = np.asarray(lon_deg, dtype=np.float64).ravel()
    lat = np.asarray(lat_deg, dtype=np.float64).ravel()
    nbits = 5 * precision
    nlon = (nbits + 1) // 2  # lon gets the first (even) bit positions
    nlat = nbits // 2
    # quantized fractions
    fx = np.clip((lon + 180.0) / 360.0, 0.0, np.nextafter(1.0, 0.0))
    fy = np.clip((lat + 90.0) / 180.0, 0.0, np.nextafter(1.0, 0.0))
    ix = (fx * (1 << nlon)).astype(np.uint64)
    iy = (fy * (1 << nlat)).astype(np.uint64)
    # interleave: bit k of the hash (from the MSB, k=0..nbits-1) is a lon
    # bit for even k, lat bit for odd k.  Magic-mask spread
    # (dggs/_bits.py) replaces the former per-bit loop bit-identically:
    # for even nbits lon bit m (from the LSB) lands at 2m+1, for odd
    # nbits at 2m (and lat at the complementary parity).
    sx, sy = spread(ix), spread(iy)
    if nbits % 2 == 0:
        bits = (sx << np.uint64(1)) | sy
    else:
        bits = sx | (sy << np.uint64(1))
    return ((bits << np.uint64(4)) | np.uint64(precision)).astype(np.int64)


def cell_from_indices(ix, iy, precision: int):
    """Pack integer (lon, lat) quantizer indices straight into ids —
    the same interleave as :func:`lonlat_to_cell` minus the float
    quantization (exact-supercover constructor)."""
    if not 1 <= precision <= MAX_PRECISION:
        raise ValueError("precision 1..12")
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    ix = np.asarray(ix, dtype=np.uint64).ravel()
    iy = np.asarray(iy, dtype=np.uint64).ravel()
    sx, sy = spread(ix), spread(iy)
    # same parity rule as lonlat_to_cell (bit-identical to the loop)
    if nbits % 2 == 0:
        bits = (sx << np.uint64(1)) | sy
    else:
        bits = sx | (sy << np.uint64(1))
    return ((bits << np.uint64(4)) | np.uint64(precision)).astype(np.int64)


def get_precision(cells):
    c = np.asarray(cells).astype(np.uint64)
    return (c & np.uint64(0xF)).astype(np.int64)


get_resolution = get_precision


def lattice_shape(precision):
    """(nx, ny) lon/lat quantizer extents: 5p bits, lon takes the extra."""
    nbits = 5 * precision
    return 1 << ((nbits + 1) // 2), 1 << (nbits // 2)


def cell_spans(precision: int) -> tuple[float, float]:
    """(lon_span, lat_span) of a cell in degrees."""
    nx, ny = lattice_shape(precision)
    return 360.0 / nx, 180.0 / ny


def row_of_lat(lat, precision: int):
    """Continuous lat-quantizer coordinate (row ``iy`` spans [iy, iy+1))."""
    return (np.asarray(lat, dtype=np.float64) + 90.0) / cell_spans(precision)[1]


def lat_of_row(v, precision: int):
    return np.asarray(v, dtype=np.float64) * cell_spans(precision)[1] - 90.0


def cell_to_parent(cells, parent_precision: int):
    """Drop trailing characters — prefix truncation exactly as the
    reference does (geohashrasterindexer.py:58-65)."""
    c = np.asarray(cells).astype(np.uint64)
    p = get_precision(c)
    if np.any(np.int64(parent_precision) > p):
        raise ValueError("parent_precision coarser than cell precision required")
    shift = (np.uint64(5) * (p.astype(np.uint64) - np.uint64(parent_precision)))
    bits = (c >> np.uint64(4)) >> shift
    return ((bits << np.uint64(4)) | np.uint64(parent_precision)).astype(np.int64)


def parent_expr(c, parent_res: int, from_res: int | None = None):
    """Column twin of :func:`cell_to_parent` (prefix truncation); needs
    ``from_res``, the cells' uniform precision."""
    from pyspark.sql import functions as F

    if from_res is None:
        raise ValueError("geohash parent_expr needs from_res")
    drop = 5 * (from_res - parent_res)
    bits = F.shiftrightunsigned(c, 4 + drop)
    return F.shiftleft(bits, 4).bitwiseOR(F.lit(parent_res))


def cell_to_children(cells):
    """(n, 32) direct children: append one base-32 character."""
    c = np.asarray(cells, dtype=np.int64).ravel()
    p1 = get_precision(c) + 1
    if p1.size and int(p1.max()) > MAX_PRECISION:
        raise ValueError("children would exceed MAX_RES")
    kids = ((c >> 4)[:, None] << 5) | np.arange(32, dtype=np.int64)[None, :]
    return (kids << 4) | p1[:, None]


def get_num_children(parent_res: int, child_res: int) -> int:
    return 32 ** (child_res - parent_res)


def pitch_deg(precision: int) -> float:
    return min(cell_spans(precision))


def n_cells(precision: int) -> int:
    nx, ny = lattice_shape(precision)
    return nx * ny


def cell_to_indices(cells):
    """(ix, iy) lon/lat quantizer indices of packed ids — the inverse of
    :func:`cell_from_indices` (magic-mask compress of the interleave)."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    p = get_precision(c)
    ix = np.empty(c.shape[0], dtype=np.int64)
    iy = np.empty(c.shape[0], dtype=np.int64)
    for prec in np.unique(p):
        m = p == prec
        bits = c[m] >> np.uint64(4)
        # inverse of the encode parity rule
        if (5 * prec) % 2 == 0:
            ix[m] = compress(bits >> np.uint64(1))
            iy[m] = compress(bits)
        else:
            ix[m] = compress(bits)
            iy[m] = compress(bits >> np.uint64(1))
    return ix, iy


def cell_to_lonlat(cells):
    """Bbox-center lon/lat of packed geohash ids (vectorized)."""
    ix, iy = cell_to_indices(cells)
    nx, ny = lattice_shape(get_precision(np.asarray(cells).ravel()))
    lon = (ix.astype(np.float64) + 0.5) / nx * 360.0 - 180.0
    lat = (iy.astype(np.float64) + 0.5) / ny * 180.0 - 90.0
    return lon, lat


def cells_to_string(cells):
    """Packed ids -> canonical geohash strings."""
    c = np.asarray(cells).astype(np.uint64).ravel()
    out = []
    for v in c:
        prec = int(v & np.uint64(0xF))
        bits = int(v >> np.uint64(4))
        s = []
        for i in range(prec):
            s.append(_B32[(bits >> (5 * (prec - 1 - i))) & 0x1F])
        out.append("".join(s))
    return out


def strings_to_cells(strs):
    out = np.empty(len(strs), dtype=np.int64)
    for i, s in enumerate(strs):
        bits = 0
        for ch in s:
            bits = (bits << 5) | _B32_INV[ch]
        v = ((bits << 4) | len(s)) & 0xFFFFFFFFFFFFFFFF
        out[i] = v - (1 << 64) if v >= (1 << 63) else v
    return out


def cell_to_boundary(cells):
    """(vlon, vlat) (n, 4) exact rectangle corners from center ± span/2,
    spans per each cell's own packed precision (compacted frames mix
    precisions)."""
    return _rect_boundary(cells, get_precision, cell_to_lonlat, cell_spans)


def _rect_boundary(cells, get_res, center, spans):
    c = np.asarray(cells, dtype=np.int64)
    res_of = get_res(c)
    lon, lat = center(c)
    vlon = np.empty((c.shape[0], 4), dtype=np.float64)
    vlat = np.empty((c.shape[0], 4), dtype=np.float64)
    for r in np.unique(res_of):
        m = res_of == r
        w, h = spans(int(r))
        vlon[m] = lon[m, None] + np.array(
            [-w / 2, w / 2, w / 2, -w / 2])[None, :]
        vlat[m] = lat[m, None] + np.array(
            [-h / 2, -h / 2, h / 2, h / 2])[None, :]
    return vlon, vlat


def cell_area_m2(cells, radius_m: float = 6371007.1809):
    """EXACT per-cell spherical areas: geohash cells are lon/lat
    rectangles, so area = R² · Δλ · (sin φ_top − sin φ_bottom) —
    closed form, per each cell's own packed precision."""
    c = np.asarray(cells, dtype=np.int64)
    lon, lat = cell_to_lonlat(c)
    p = get_precision(c)
    out = np.empty(c.shape[0], dtype=np.float64)
    for pr in np.unique(p):
        m = p == pr
        w, h = cell_spans(int(pr))
        top = np.radians(np.minimum(lat[m] + h / 2.0, 90.0))
        bot = np.radians(np.maximum(lat[m] - h / 2.0, -90.0))
        out[m] = np.radians(w) * (np.sin(top) - np.sin(bot))
    return out * radius_m * radius_m
