"""The grid backends, one module per grid key.

Every ``*lib`` module IS its grid: callers look the module up once with
:func:`grid_lib` and call the same contract on all of them, never a
per-grid branch.  The contract (module-level names):

- ``lonlat_to_cell(lon, lat, res)``, ``cell_to_lonlat(cells)``,
  ``cell_to_parent(cells, parent_res)``, ``cell_to_children(cells)``
  (one level down, an ``(n, k)`` array), ``get_resolution(cells)``,
  ``cell_to_boundary(cells)`` and ``cell_area_m2(cells)`` (rhp:
  ``cell_area_m2(res)`` — see ``AREA_BY_RES``);
- ``parent_expr(col, parent_res, from_res)``: the native Spark Column
  twin of ``cell_to_parent`` — ``None`` for the multi-parent i3h grid,
  whose centroid parent is hex rounding and runs as a vectorized UDF.
  ``parent_expr is None`` is how callers recognize a hierarchy whose
  children are shared, not a partition of their parent;
- ``get_num_children(parent_res, child_res)``: the nested hierarchy's
  arity, ``None`` where single-arity compaction does not apply
  (maidenhead mixes 10/24-ary levels, i3h shares vertex children);
- ``pitch_deg(res)`` (the smaller cell dimension, degrees),
  ``n_cells(res)``, ``MAX_RES``, ``MIN_RES``, ``PARENT_OFFSET`` (the
  default ``parent_res = res - PARENT_OFFSET``, ~64K subcells per
  partition), ``AREA_FRACTION`` (share of the sphere the cells
  partition) and ``AREA_BY_RES``;
- the cover kind ``COVER``: ``"sample"`` for curved grids, whose
  encoders are not canonical at face seams, so covers enumerate the
  encoder image by guaranteed-density sampling with ``COVER_HALO``
  pitches of halo; ``"rect"`` / ``"lattice"`` for lon/lat-rectangle
  grids, enumerated exactly through ``lattice_shape(res)``,
  ``row_of_lat``/``lat_of_row`` and ``cell_from_indices``, with
  ``cell_spans(res)`` the fixed (lon, lat) cell size in degrees
  (``None`` for quadkey, whose Mercator rows vary in degrees).
  ``"lattice"`` grids (geohash, quadkey) are power-of-two lattices
  (``LEVEL_BITS`` id bits per level, ``cell_to_indices``) whose float
  scaling is exact, so lines, polygon fills and focal windows run on
  the lattice too.

Adding a grid is one module implementing this contract, one ``_LIBS``
entry and its tests.
"""

from raster2dggs_spark.dggs import (
    a5lib,
    quadkeylib,
    e4rlib,
    e9rlib,
    i4rlib,
    i9rlib,
    geohashlib,
    h3lib,
    i3hlib,
    maidenheadlib,
    rhplib,
    s2lib,
)

__all__ = ["h3lib", "s2lib", "geohashlib", "maidenheadlib", "rhplib",
           "i3hlib", "a5lib", "i4rlib", "i9rlib", "e4rlib", "e9rlib",
           "check_grid", "grid_lib"]

# i3h: aperture-3 hex (ISEA3H layout, multi-parent hierarchy) — encode/
# cover/A17 surfaces; ids are this repo's own (see i3hlib), like hex7.
# a5: pentagonal dodecahedron, aperture 5 then 4 (A5 layout, see a5lib);
# i4r: icosahedral aperture-4 rhombus (ISEA4R layout, see i4rlib)
# i9r: the aperture-9 sibling on the same 10-diamond layout (ISEA9R,
# see i9rlib); e4r: the EQUAL-AREA aperture-4 sibling (IVEA/ISEA class,
# see e4rlib; e9r its aperture-9 twin) — same honest own-id contract.
_LIBS = {"hex7": h3lib, "s2": s2lib, "geohash": geohashlib,
         "maidenhead": maidenheadlib, "rhp": rhplib, "i3h": i3hlib,
         "a5": a5lib, "i4r": i4rlib, "i9r": i9rlib, "e4r": e4rlib,
         "e9r": e9rlib, "quadkey": quadkeylib}
GRIDS = tuple(_LIBS)


def check_grid(dggs: str) -> str:
    """Validate a grid key at the output-contract level.

    ``"h3"`` is rejected loudly: the hexagonal grid here is an
    H3-*layout* grid (same bit layout, aperture-7 hierarchy, 122 base
    cells) whose base-cell numbering is derived geometrically, NOT
    libh3's — its ids do not join against real-world H3-indexed data, so
    no output may claim the ``h3`` label (grid key and output columns
    are ``hex7``)."""
    if dggs == "h3":
        raise ValueError(
            "grid 'h3' is not available: cell ids here use an H3-layout "
            "geometry but are NOT libh3-interoperable. Use dggs='hex7' "
            "(outputs hex7_NN columns) — joining hex7 ids against "
            "genuine H3 indexes would silently mismatch."
        )
    if dggs not in _LIBS:
        raise ValueError(f"unknown dggs {dggs!r}; expected one of {GRIDS}")
    return dggs


def grid_lib(dggs: str):
    """The backend module (the grid contract above) for a grid key."""
    return _LIBS[check_grid(dggs)]
