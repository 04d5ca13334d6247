"""Cell areas (F7), antimeridian covers (F14), S2 uncompact."""

import numpy as np
import pandas as pd

from raster2dggs_spark.dggs import cover
from raster2dggs_spark.dggs import h3lib as h3
from raster2dggs_spark.dggs import s2lib as s2

R = 6371007.1809


def _all_res1_cells():
    base = np.array(
        [(1 << 59) | (int(b) << 45) | (2**45 - 1) for b in range(122)],
        dtype=np.int64,
    )
    kids = []
    for d in range(7):
        u = base.astype(np.uint64)
        u = (u & ~(np.uint64(0xF) << np.uint64(52))) | (np.uint64(1) << np.uint64(52))
        sh = np.uint64(3 * (15 - 1))
        kids.append(((u & ~(np.uint64(7) << sh)) | (np.uint64(d) << sh)).astype(np.int64))
    return np.concatenate(kids)


def test_cell_areas_partition_sphere():
    kids = _all_res1_cells()
    areas = h3.cell_area_m2(kids)
    sphere = 4 * np.pi * R * R
    # planar-boundary approximation: total within 1%, and all but a
    # handful of seam cells within sane bounds
    assert abs(areas.sum() / sphere - 1.0) < 0.01
    frac_sane = ((areas > 0.3 * areas.mean()) & (areas < 2 * areas.mean())).mean()
    assert frac_sane > 0.99


def test_cell_area_matches_mean():
    from raster2dggs_spark.functions import cell_area_m2_mean

    rng = np.random.default_rng(9)
    lon = rng.uniform(-170, 170, 300)
    lat = rng.uniform(-70, 70, 300)
    for res in (2, 5):
        cells = np.unique(h3.latlng_to_cell(lon, lat, res))
        a = h3.cell_area_m2(cells)
        m = cell_area_m2_mean(res)
        # hex areas vary ~±40% around the mean across the icosahedron
        assert 0.4 * m < np.median(a) < 1.6 * m


def test_antimeridian_cover():
    cells = cover.cover_bbox(176.0, -45.0, 184.0, -40.0, 5, "hex7")
    assert len(cells) > 100
    clon, clat = h3.cell_to_latlng(cells)
    # cells on both sides of the wrap, all inside the unwrapped bbox
    assert (clon > 170).any() and (clon < -170).any()
    un = clon + 360.0 * np.round((180.0 - clon) / 360.0)
    assert ((un >= 176.0) & (un < 184.0)).all()
    assert ((clat >= -45) & (clat < -40)).all()
    # completeness vs dense sampling across the wrap
    rng = np.random.default_rng(10)
    slon = np.mod(rng.uniform(176, 184, 100000) + 180, 360) - 180
    slat = rng.uniform(-45, -40, 100000)
    hit = np.unique(h3.latlng_to_cell(slon, slat, 5))
    hlon, hlat = h3.cell_to_latlng(hit)
    hun = hlon + 360.0 * np.round((180.0 - hlon) / 360.0)
    inside = (hun >= 176) & (hun < 184) & (hlat >= -45) & (hlat < -40)
    assert not (set(hit[inside].tolist()) - set(cells.tolist()))


def test_s2_uncompact_roundtrip(spark):
    from raster2dggs_spark.operators.compaction import uncompact_cells

    c = s2.lonlat_to_cell(np.array([10.0, -60.0]), np.array([45.0, 20.0]), 8)
    df = spark.createDataFrame(pd.DataFrame({"cell": c, "v": [1.0, 2.0]}))
    out = uncompact_cells(df, res=10, dggs="s2").toPandas()
    assert len(out) == 2 * 16
    assert (s2.cell_level(out["cell"].values) == 10).all()
    assert s2.contains(s2.cell_to_parent(out["cell"].values, 8),
                       out["cell"].values).all()
    # values replicated per parent
    assert set(out.groupby("v")["cell"].count()) == {16}


def test_lsh_bucket_cap(spark):
    from raster2dggs_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "common shared words everywhere") for i in range(20)]
    rows += [(100, "totally unique text one"), (101, "totally unique text one")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    capped = minhash_lsh_pairs(df, "doc_id", "text", 8, 4, max_bucket=5).collect()
    pairs = {(r.id_a, r.id_b) for r in capped}
    assert (100, 101) in pairs            # small bucket survives
    assert not any(a < 20 and b < 20 for a, b in pairs)  # mega-bucket skipped
