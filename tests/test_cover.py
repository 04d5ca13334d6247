"""Grid-generic cells_in_bbox (dggs.cover): soundness (every returned
center strictly inside) and completeness (every cell containing a random
in-bbox point whose center is in the bbox is returned) on all 5 grids."""

import numpy as np
import pytest

from raster2dggs_spark.dggs import cover

GRIDS_RES = [("hex7", 6), ("s2", 11), ("geohash", 4), ("maidenhead", 3),
             ("rhp", 6), ("i3h", 10), ("a5", 9), ("i4r", 10),
             ("quadkey", 11)]

BBOX = (12.3, 41.2, 14.1, 42.6)  # ~1.8 x 1.4 degrees


@pytest.mark.parametrize("dggs,res", GRIDS_RES)
def test_cover_bbox_sound_and_complete(dggs, res):
    lon_min, lat_min, lon_max, lat_max = BBOX
    cells = cover.cover_bbox(lon_min, lat_min, lon_max, lat_max, res, dggs)
    assert cells.size > 20
    assert np.unique(cells).size == cells.size
    clon, clat = cover.cell_center(cells, dggs)
    assert ((clon >= lon_min) & (clon < lon_max)).all()
    assert ((clat >= lat_min) & (clat < lat_max)).all()
    # completeness: encode random interior points; any whose cell center
    # is inside the bbox must appear in the cover
    rng = np.random.default_rng(3)
    plon = rng.uniform(lon_min, lon_max, 3000)
    plat = rng.uniform(lat_min, lat_max, 3000)
    pcells = np.unique(cover.encode(plon, plat, res, dggs))
    pclon, pclat = cover.cell_center(pcells, dggs)
    inside = ((pclon >= lon_min) & (pclon < lon_max)
              & (pclat >= lat_min) & (pclat < lat_max))
    missing = set(pcells[inside].tolist()) - set(cells.tolist())
    assert not missing, f"{dggs}: {len(missing)} center-inside cells missed"


@pytest.mark.parametrize("dggs,res",
                         [("hex7", 5), ("s2", 9), ("rhp", 4), ("i3h", 8),
                          ("a5", 8), ("i4r", 9), ("quadkey", 9)])
def test_cover_bbox_antimeridian(dggs, res):
    """Unwrapped-frame bbox across +-180 (reference F14 semantics)."""
    cells = cover.cover_bbox(178.5, -20.0, 181.5, -18.0, res, dggs)
    assert cells.size > 3
    clon, clat = cover.cell_center(cells, dggs)
    clon = clon + 360.0 * np.round((180.0 - clon) / 360.0)
    assert ((clon >= 178.5) & (clon < 181.5)).all()
    assert ((clat >= -20.0) & (clat < -18.0)).all()


def test_sample_cells_s2(spark):
    """Sample transfer runs on S2: values come from the right tiles
    (nearest kernel at a constant tile reproduces the constant)."""
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.sample import sample_cells

    imgs = images_spark_df(spark, 8, seed=42, scenarios=("uniform42",),
                           size_range=(12, 20))
    out = sample_cells(imgs, res=10, kernel="nearest", dggs="s2").toPandas()
    assert len(out) > 0
    vals = out["band_1"].dropna().unique()
    assert set(np.round(vals, 6)) <= {42.0, -9999.0}


def test_cover_bbox_wide_lat_no_skipped_columns():
    """Regression: scaling the lon sampling step by 1/cos(EXTREME bbox
    lat) skipped whole cell columns near the equatorial side of a
    wide-latitude bbox (geohash res 1: a 90-deg-tall bbox lost the cell
    containing an interior point).  Every interior probe point's cell
    must be in the cover, for every grid."""
    import numpy as np

    from raster2dggs_spark.dggs import cover

    rng = np.random.default_rng(5)
    cases = [
        ("geohash", 1), ("geohash", 2), ("maidenhead", 1),
        ("s2", 3), ("rhp", 2), ("hex7", 1),
    ]
    lon_min, lon_max = -102.23, -10.72
    lat_min, lat_max = -59.02, 32.50
    for dggs, res in cases:
        cells = set(cover.cover_bbox(
            lon_min, lat_min, lon_max, lat_max, res, dggs=dggs
        ).tolist())
        plon = rng.uniform(lon_min + 0.5, lon_max - 0.5, 300)
        plat = rng.uniform(lat_min + 0.5, lat_max - 0.5, 300)
        pc = cover.encode(plon, plat, res, dggs)
        clon, clat = cover.cell_center(pc, dggs)
        inside = ((clon >= lon_min) & (clon < lon_max)
                  & (clat >= lat_min) & (clat < lat_max))
        missing = set(pc[inside].tolist()) - cells
        assert not missing, f"{dggs} res {res}: cover missed {missing}"


def test_encode_wraps_longitudes_every_grid():
    """F14: lons outside [-180, 180) must encode to the same cell as
    their canonical equivalent on EVERY grid (the flat grids used to
    CLAMP 181.3 into the last cell column; curved grids are only
    periodic within one turn)."""
    import numpy as np

    from raster2dggs_spark.dggs import cover

    for dggs, res in [("hex7", 7), ("s2", 12), ("geohash", 6),
                      ("maidenhead", 3), ("rhp", 6), ("i3h", 10)]:
        lon = np.array([181.3, -178.7, 541.3, -180.0, 180.0])
        lat = np.full(5, 10.0)
        c = cover.encode(lon, lat, res, dggs)
        assert c[0] == c[1] == c[2], f"{dggs}: wrap mismatch {c[:3]}"
        assert c[3] == c[4], f"{dggs}: ±180 seam mismatch {c[3:]}"


def test_index_point_antimeridian_tile(spark):
    """A tile whose pixels straddle ±180 must index to the same cells as
    the identical tile expressed in the wrapped frame."""
    import numpy as np
    import pandas as pd

    from raster2dggs_spark.codecs import encode_image, average_hash64
    from raster2dggs_spark.operators.indexing import index_point_agg
    from raster2dggs_spark.sources.images import IMAGE_SCHEMA

    def tile(image_id, c_lon):
        w, h = 20, 12
        arr = np.arange(h * w, dtype=np.float32).reshape(1, h, w)
        return {
            "image_id": image_id, "bytes": encode_image(arr, "raw"),
            "w": w, "h": h, "fmt": "raw", "caption": "am",
            "phash": int(average_hash64(arr[0])),
            "affine_a": 0.05, "affine_b": 0.0, "affine_c": c_lon,
            "affine_d": 0.0, "affine_e": -0.05, "affine_f": 5.0,
            "crs": "EPSG:4326", "nodata": None, "bands": 1,
            "band_names": None,
        }

    for dggs, res in [("geohash", 5), ("hex7", 6)]:
        # tile from 179.5 unwrapped (lons run to 180.5)
        a = spark.createDataFrame(pd.DataFrame([tile("t", 179.5)]),
                                  IMAGE_SCHEMA)
        got = index_point_agg(a, res=res, dggs=dggs, agg="mean",
                              n_bands=1).toPandas()
        # split into the two canonical halves: [179.5,180) and [-180,-179.5)
        cells = set(got["cell"])
        from raster2dggs_spark.dggs import cover

        lons = 179.5 + 0.05 * (np.arange(20) + 0.5)
        lats = 5.0 - 0.05 * (np.arange(12) + 0.5)
        glon = np.tile(lons, 12)
        glat = np.repeat(lats, 20)
        exp = set(cover.encode(glon, glat, res, dggs).tolist())
        assert cells == exp, f"{dggs}: {len(cells)} vs {len(exp)}"
        # both sides of the seam are present
        clon, _ = cover.cell_center(np.array(sorted(cells)), dggs)
        assert clon.min() < -179 and clon.max() > 179


def test_hex7_dense_cover_density_battery():
    """Round-4 battery: the 0.35-pitch sampling guarantee BREAKS at
    coarse res (gnomonic distortion shrinks worst-case inradius to
    ~0.25 pitch; real cells were missed at res 2-3 before the 0.18
    coarse factor).  Pin: the production sampler finds every cell a 3x
    denser reference lattice finds, across uniform/pole/antimeridian
    bboxes at coarse and fine res."""
    from raster2dggs_spark.dggs import h3lib

    rng = np.random.default_rng(123)
    trials = 0
    for res in (2, 3, 6, 9):
        pitch = np.degrees(h3lib.cell_pitch_rad(res))
        for t in range(24):
            kind = t % 3
            if kind == 0:
                lat0 = np.degrees(np.arcsin(rng.uniform(-1, 1)))
                lon0 = rng.uniform(-180, 180)
            elif kind == 1:
                lat0 = rng.uniform(80, 89.5) * rng.choice([-1, 1])
                lon0 = rng.uniform(-180, 180)
            else:
                lat0 = rng.uniform(-60, 60)
                lon0 = rng.uniform(175, 180)  # unwrapped seam crossing
            w = rng.uniform(2, 25) * pitch
            h = rng.uniform(2, 25) * pitch
            lon_min, lon_max = lon0, lon0 + w
            lat_min = max(-90, lat0 - h / 2)
            lat_max = min(90, lat0 + h / 2)
            try:
                got = cover.cover_bbox(lon_min, lat_min, lon_max, lat_max,
                                       res, "hex7", max_samples=8_000_000)
            except ValueError:
                continue
            # 3x denser reference lattice (same filter)
            step = np.degrees(h3lib.cell_pitch_rad(res)) * 0.11
            lat_lo = max(-90.0, lat_min - step)
            lat_hi = min(90.0, lat_max + step)
            if lat_lo <= 0.0 <= lat_hi:
                coslat = 1.0
            else:
                coslat = max(0.05, np.cos(np.radians(
                    min(abs(lat_lo), abs(lat_hi)))))
            lons = np.arange(lon_min - step / coslat,
                             lon_max + 2 * step / coslat, step / coslat)
            lats = np.arange(lat_lo, lat_hi + step, step)
            if lons.size * lats.size > 12_000_000:
                continue
            cand = np.unique(h3lib.latlng_to_cell(
                np.repeat(lons, lats.size), np.tile(lats, lons.size), res))
            ref = cover._keep_centers(cand, lon_min, lat_min,
                                      lon_max, lat_max, "hex7")

            # compare PHYSICAL hexes, not raw ids: near icosahedron
            # face seams the encoder is not canonical (one hex, two
            # ids — each id owning a part); re-encoding each id's
            # nominal center collapses twins to the center-owning id
            def canon(ids):
                if ids.size == 0:
                    return ids
                clon, clat = h3lib.cell_to_latlng(ids)
                return np.unique(h3lib.latlng_to_cell(clon, clat, res))

            missing = np.setdiff1d(canon(ref), canon(got))
            assert missing.size == 0, (
                f"res={res} kind={kind} bbox=({lon_min:.3f},{lat_min:.3f},"
                f"{lon_max:.3f},{lat_max:.3f}): {missing.size} physical "
                f"cells the denser lattice finds are missing")
            trials += 1
    assert trials > 50


def test_hex7_cell_to_children():
    """Uniform 7-ary children enumeration: count, parent round-trip,
    center-child consistency, res annotation."""
    from raster2dggs_spark.dggs import h3lib

    rng = np.random.default_rng(9)
    lon = rng.uniform(-180, 180, 50)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 50)))
    cells = np.unique(h3lib.latlng_to_cell(lon, lat, 5))
    for dr in (1, 2):
        ch = cover.cell_children(cells, 5 + dr, "hex7")
        assert ch.size == cells.size * 7 ** dr
        assert np.unique(ch).size == ch.size
        assert (h3lib.get_resolution(ch.astype(np.uint64)) == 5 + dr).all()
        back = h3lib.cell_to_parent(ch, 5)
        assert np.array_equal(np.unique(back), np.sort(cells))
        # the all-zero-digit child IS the center child
        cc = h3lib.cell_to_center_child(cells, 5 + dr)
        assert np.isin(cc, ch).all()
