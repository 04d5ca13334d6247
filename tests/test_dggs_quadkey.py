"""Quadkey (Web-Mercator quadtree / Bing tile) backend
(dggs/quadkeylib.py): known vectors from the public Bing tile-system
spec, round-trips, hierarchy, exact area closure, boundary geometry,
pole clamping, and Spark parent_expr parity."""

import numpy as np
import pytest

from raster2dggs_spark.dggs import cover
from raster2dggs_spark.dggs import quadkeylib as qk


def test_known_bing_vectors():
    """Public Bing spec examples: (lat 47.61, lon -122.33) at level 3
    is quadkey '021'; tile (3, 5) level 3 is '213'."""
    c = qk.lonlat_to_cell(np.array([-122.33]), np.array([47.61]), 3)
    assert qk.cells_to_string(c) == ["021"]
    s = qk.strings_to_cells(["213"])
    tx, ty, lvl = qk.cell_to_tile(s)
    assert (int(tx[0]), int(ty[0]), int(lvl[0])) == (3, 5, 3)


def test_equator_origin_quadrants():
    """The four level-1 tiles split at (0, 0): NW=0, NE=1, SW=2, SE=3."""
    lon = np.array([-90.0, 90.0, -90.0, 90.0])
    lat = np.array([45.0, 45.0, -45.0, -45.0])
    c = qk.lonlat_to_cell(lon, lat, 1)
    assert qk.cells_to_string(c) == ["0", "1", "2", "3"]


def test_center_reencodes_to_self():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180.0, 180.0, 500)
    lat = rng.uniform(-84.0, 84.0, 500)
    for level in (1, 5, 12, 23):
        c = qk.lonlat_to_cell(lon, lat, level)
        lo, la = qk.cell_to_lonlat(c)
        assert np.array_equal(qk.lonlat_to_cell(lo, la, level), c)
        assert qk.is_valid_cell(c).all()


def test_string_roundtrip_and_parent_prefix():
    rng = np.random.default_rng(9)
    lon = rng.uniform(-180.0, 180.0, 200)
    lat = rng.uniform(-84.0, 84.0, 200)
    c = qk.lonlat_to_cell(lon, lat, 10)
    strs = qk.cells_to_string(c)
    assert np.array_equal(qk.strings_to_cells(strs), c)
    p = qk.cell_to_parent(c, 4)
    pstrs = qk.cells_to_string(p)
    # Bing contract: the parent quadkey is the string prefix
    assert all(s.startswith(ps) for s, ps in zip(strs, pstrs))


def test_children_partition_and_containment():
    c = qk.lonlat_to_cell(np.array([13.4]), np.array([52.5]), 6)
    kids = cover.cell_children(c, 9, "quadkey")
    assert kids.shape[0] == 4 ** 3
    assert np.unique(kids).size == kids.size
    assert (qk.cell_to_parent(kids, 6) == c[0]).all()
    # every child's center encodes back into itself and into the parent
    lo, la = qk.cell_to_lonlat(kids)
    assert np.array_equal(qk.lonlat_to_cell(lo, la, 9), kids)
    assert (qk.lonlat_to_cell(lo, la, 6) == c[0]).all()


def test_area_closure_and_children_sum():
    """Σ areas over a full level = the |lat|<=85.05° band area; a
    parent's area equals the sum of its children's."""
    import itertools

    all3 = qk.strings_to_cells(
        ["".join(t) for t in itertools.product("0123", repeat=3)])
    band = 4 * np.pi * qk.EARTH_R ** 2 * np.sin(np.radians(qk.MAX_LAT))
    assert qk.cell_area_m2(all3).sum() == pytest.approx(band, rel=1e-12)
    c = qk.lonlat_to_cell(np.array([-60.0]), np.array([-33.0]), 5)
    kids = cover.cell_children(c, 8, "quadkey")
    assert qk.cell_area_m2(kids).sum() == pytest.approx(
        float(qk.cell_area_m2(c)[0]), rel=1e-12)


def test_boundary_rectangles_contain_center():
    c = qk.lonlat_to_cell(np.array([174.8, -0.01]), np.array([-36.9, 0.01]), 9)
    vlon, vlat = qk.cell_to_boundary(c)
    assert vlon.shape == (2, 4) and vlat.shape == (2, 4)
    lo, la = qk.cell_to_lonlat(c)
    for i in range(2):
        assert vlon[i].min() < lo[i] < vlon[i].max()
        assert vlat[i].min() < la[i] < vlat[i].max()


def test_pole_clamp_into_edge_rows():
    """|lat| > 85.05° clamps into row 0 / n-1 (slippy behavior)."""
    c = qk.lonlat_to_cell(np.array([10.0, 10.0]), np.array([89.9, -89.9]), 7)
    _, ty, _ = qk.cell_to_tile(c)
    assert int(ty[0]) == 0 and int(ty[1]) == (1 << 7) - 1


def test_level_bounds():
    with pytest.raises(ValueError):
        qk.lonlat_to_cell(np.array([0.0]), np.array([0.0]), 0)
    with pytest.raises(ValueError):
        qk.lonlat_to_cell(np.array([0.0]), np.array([0.0]), 24)


def test_parent_expr_matches_lib(spark):
    from pyspark.sql import functions as F

    from raster2dggs_spark.operators.joins import parent_expr

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180.0, 180.0, 300)
    lat = rng.uniform(-84.0, 84.0, 300)
    c = qk.lonlat_to_cell(lon, lat, 14)
    df = spark.createDataFrame([(int(x),) for x in c], "cell long")
    got = [r[0] for r in df.select(
        parent_expr("cell", 6, "quadkey", from_res=14)).collect()]
    assert np.array_equal(np.array(got), qk.cell_to_parent(c, 6))


def test_resolution_automodes():
    from raster2dggs_spark.functions.resolution import (
        cell_area_m2_mean, resolve_resolution,
    )

    a10 = cell_area_m2_mean(10, "quadkey")
    assert cell_area_m2_mean(11, "quadkey") == pytest.approx(a10 / 4)
    r = resolve_resolution("min-diff", a10, dggs="quadkey")
    assert r == 10
