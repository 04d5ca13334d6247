"""Grid-generic cell enumeration (cells_in_bbox) for every backend.

Reference parity: each indexer enumerates cells whose *center* falls in
a WGS84 bbox (s2rasterindexer.py:88-134, geohashrasterindexer.py:87-119,
rhprasterindexer.py cells_in_bbox).  One implementation per cover kind
(the grid module's ``COVER``): exact index enumeration on the lon/lat
rectangle grids, and on the curved grids dense lattice sampling at 0.35x
the cell pitch (guarantees every center-inside cell is hit), encode,
unique, strict center filter.

Antimeridian: bboxes crossing +-180 are expressed unwrapped
(lon_max > 180); encodes are periodic and centers are unwrapped into the
bbox frame before filtering.
"""

from __future__ import annotations

import numpy as np

from raster2dggs_spark.dggs import grid_lib


def wrap_lon(lon):
    """Canonicalize longitudes into [-180, 180).  Every backend needs
    this: the flat grids CLAMP out-of-range lon to the last cell column
    and the curved grids are only periodic within one turn — so 181.3°
    encodes wrongly everywhere unless wrapped first (F14 antimeridian
    semantics).  No-op (no copy) when already canonical."""
    lon = np.asarray(lon, dtype=np.float64)
    if lon.size and (lon.min() < -180.0 or lon.max() >= 180.0):
        lon = np.mod(lon + 180.0, 360.0) - 180.0
    return lon


def encode(lon, lat, res: int, dggs: str):
    lib = grid_lib(dggs)
    return lib.lonlat_to_cell(wrap_lon(lon), lat, res)


def cell_center(cells, dggs: str):
    return grid_lib(dggs).cell_to_lonlat(cells)


def cell_parent(cells, parent_res: int, dggs: str):
    return grid_lib(dggs).cell_to_parent(cells, parent_res)


def cell_children(cells, child_res: int, dggs: str):
    """All descendants at ``child_res`` of same-resolution ``cells`` —
    the grid's one-level ``cell_to_children`` applied level by level;
    flat, cell-major, coarser digits first."""
    lib = grid_lib(dggs)
    cells = np.asarray(cells, dtype=np.int64).ravel()
    if cells.size == 0:
        return cells
    res = lib.get_resolution(cells)
    r0 = int(res[0])
    if np.any(res != r0):
        raise ValueError("cell_children needs one input resolution")
    if child_res < r0:
        raise ValueError("child_res coarser than cell res")
    for _ in range(r0, child_res):
        cells = lib.cell_to_children(cells).ravel()
    return cells


def cell_spans(res: int, dggs: str) -> tuple[float, float]:
    """(lon_span, lat_span) in degrees for the FIXED-degree-rectangle
    grids (geohash/maidenhead)."""
    lib = grid_lib(dggs)
    spans = None if lib.COVER == "sample" else lib.cell_spans(res)
    if spans is None:
        raise ValueError(f"{dggs} cells are not lon/lat rectangles")
    return spans


def pitch_deg(res: int, dggs: str) -> float:
    """Conservative cell pitch (the smaller cell dimension) in degrees."""
    return grid_lib(dggs).pitch_deg(res)


def _keep_centers(cand, lon_min, lat_min, lon_max, lat_max, dggs: str):
    """Exact center-in-bbox filter, centers unwrapped into the bbox
    longitude frame (F14: a ±180-crossing bbox lives in the unwrapped
    frame, lon_max > 180 allowed)."""
    clon, clat = cell_center(cand, dggs)
    mid = 0.5 * (lon_min + lon_max)
    clon = clon + 360.0 * np.round((mid - clon) / 360.0)
    keep = ((clon >= lon_min) & (clon < lon_max)
            & (clat >= lat_min) & (clat < lat_max))
    return cand[keep]


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int,
               dggs: str = "hex7", max_samples: int = 4_000_000):
    """All cells (any grid) whose center lies in [lon_min,lon_max) x
    [lat_min,lat_max) — reference cells_in_bbox semantics."""
    lib = grid_lib(dggs)
    if lib.COVER != "sample":
        # EXACT enumeration — the cells are an analytic lon x lat (or
        # Mercator-lat) lattice: index ranges ±1, no density sampling
        # (and quadkey's degree pitch is latitude-dependent, so
        # sampling would be wrong near ±85°)
        nx, ny = lib.lattice_shape(res)
        # unwrapped frame: enumerate raw column indices then wrap mod nx
        cx0 = int(np.floor((lon_min + 180.0) / 360.0 * nx)) - 1
        cx1 = int(np.floor((lon_max + 180.0) / 360.0 * nx)) + 1
        rows = np.clip(np.floor(lib.row_of_lat(
            np.array([lat_min, lat_max]), res)), 0, ny - 1).astype(np.int64)
        txs = np.arange(cx0, cx1 + 1, dtype=np.int64)
        tys = np.arange(max(0, int(rows.min()) - 1),
                        min(ny - 1, int(rows.max()) + 1) + 1, dtype=np.int64)
        if txs.size * tys.size > max_samples:
            raise ValueError(
                f"bbox cover at res {res} needs {txs.size * tys.size} "
                "tiles > cap; use a coarser res or split the bbox")
        cand = np.unique(lib.cell_from_indices(
            np.repeat(np.mod(txs, nx), tys.size), np.tile(tys, txs.size),
            res))
        return _keep_centers(cand, lon_min, lat_min, lon_max, lat_max, dggs)
    # Guaranteed-density lattice sampling.  A hierarchical children-
    # expansion cover (coarse cover → bit expansion → exact filter,
    # prototyped round 4 on hex7) was REJECTED: the curved encoders are
    # not canonical near icosahedron face seams — one physical cell can
    # carry two ids (one per adjacent face, each owning part of it), so
    # the cover's id universe is the ENCODER IMAGE, and only sampling at
    # guaranteed density enumerates it; the bit-tree ancestor of a seam
    # id can itself be a sliver id no coarse cover finds (~1 cell per
    # 10⁵ silently lost — tests/test_cover.py pins the battery).
    # Coarse res: projection distortion shrinks the worst-case cell
    # inradius well below the nominal pitch (the hex7 round-4 battery
    # measured ~0.25× at res ≤ 3) — sample denser there.
    f = 0.18 if res <= 3 else 0.35
    step = lib.pitch_deg(res) * f
    lat_lo = max(-90.0, lat_min - step)
    lat_hi = min(90.0, lat_max + step)
    # cell lon extent in degrees is ~pitch/cos(lat), narrowest at the
    # lowest |lat| in the bbox — stretch by that cos (conservative at
    # every other latitude; the extreme lat instead skips whole cell
    # columns on the equatorial side of a wide-lat bbox)
    if lat_lo <= 0.0 <= lat_hi:
        coslat = 1.0
    else:
        coslat = max(
            0.05, float(np.cos(np.radians(min(abs(lat_lo), abs(lat_hi)))))
        )
    lon_step = step / coslat
    lons = np.arange(lon_min - lon_step, lon_max + 2 * lon_step, lon_step)
    lats = np.arange(lat_lo, lat_hi + step, step)
    if lons.size * lats.size > max_samples:
        raise ValueError(
            f"bbox cover at res {res} needs {lons.size * lats.size} "
            "samples > cap; use a coarser res or split the bbox"
        )
    glon = np.repeat(lons, lats.size)
    glat = np.tile(lats, lons.size)
    # wrap samples into valid ranges for the encode (periodic in lon)
    wlon = np.mod(glon + 180.0, 360.0) - 180.0
    cand = np.unique(encode(wlon, np.clip(glat, -90.0, 90.0), res, dggs))
    return _keep_centers(cand, lon_min, lat_min, lon_max, lat_max, dggs)
