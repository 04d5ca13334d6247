"""Geohash: exact published-system parity (hard-coded known vectors —
FIXTURES.md §4.3 strategy) + pipeline integration."""

import numpy as np

from raster2dggs_spark.dggs import geohashlib as gh


def test_known_vectors():
    # canonical example + Wikipedia's ezs42
    c = gh.lonlat_to_cell(np.array([10.40744]), np.array([57.64911]), 11)
    assert gh.cells_to_string(c)[0] == "u4pruydqqvj"
    c2 = gh.lonlat_to_cell(np.array([-5.6]), np.array([42.6]), 5)
    assert gh.cells_to_string(c2)[0] == "ezs42"
    # string -> id -> string round trip
    assert gh.cells_to_string(gh.strings_to_cells(["u4pruydqqvj", "ezs42"])) == [
        "u4pruydqqvj", "ezs42"
    ]


def test_roundtrip_and_prefix_parent():
    rng = np.random.default_rng(0)
    lon = rng.uniform(-180, 180, 20000)
    lat = rng.uniform(-90, 90, 20000)
    for p in (1, 5, 9, 12):
        cc = gh.lonlat_to_cell(lon, lat, p)
        assert (gh.get_precision(cc) == p).all()
        clon, clat = gh.cell_to_lonlat(cc)
        assert (gh.lonlat_to_cell(clon, clat, p) == cc).all()
        par = gh.cell_to_parent(cc, max(1, p - 2))
        s_full = gh.cells_to_string(cc[:64])
        s_par = gh.cells_to_string(par[:64])
        assert all(f.startswith(q) for f, q in zip(s_full, s_par))


def test_cell_to_indices_matches_bitwise_deinterleave():
    """The lattice indices (magic-mask compress) equal a per-bit
    de-interleave of the hash — lon bits at even positions from the
    MSB — and round-trip through cell_from_indices, for odd and even
    bit counts."""
    rng = np.random.default_rng(4)
    lon = rng.uniform(-180.0, 180.0, 500)
    lat = rng.uniform(-90.0, 90.0, 500)
    for prec in (1, 2, 5, 8, 12):
        c = gh.lonlat_to_cell(lon, lat, prec)
        nbits = 5 * prec
        bits = [int(v) >> 4 & ((1 << nbits) - 1) for v in c]
        ref_x, ref_y = [], []
        for b in bits:
            x = y = 0
            for k in range(nbits):
                bit = (b >> (nbits - 1 - k)) & 1
                if k % 2 == 0:
                    x = (x << 1) | bit
                else:
                    y = (y << 1) | bit
            ref_x.append(x)
            ref_y.append(y)
        ix, iy = gh.cell_to_indices(c)
        assert ix.tolist() == ref_x and iy.tolist() == ref_y
        assert np.array_equal(gh.cell_from_indices(ix, iy, prec), c)


def test_geohash_pipeline(spark):
    from raster2dggs_spark.sources import images_spark_df
    from raster2dggs_spark.operators.indexing import index_point_agg

    imgs = images_spark_df(spark, 8, seed=41, scenarios=("uniform42",))
    out = index_point_agg(imgs, res=6, dggs="geohash", agg="mean").toPandas()
    assert len(out) > 0
    assert (gh.get_precision(out["cell"].values) == 6).all()
    assert (gh.get_precision(out["parent"].values) == 3).all()
    np.testing.assert_allclose(out["band_1"].dropna().values, 42.0)
    # parent prefixes
    s_c = gh.cells_to_string(out["cell"].values[:50])
    s_p = gh.cells_to_string(out["parent"].values[:50])
    assert all(c.startswith(p) for c, p in zip(s_c, s_p))
