"""Z7-style compact id recoding for hex7 (round 6, VERDICT #7).

The recoding must be a bijection between valid hex7 ids at a res and
the compact base-7 positional id space, expressible as pure Column
arithmetic (no Python in the plan)."""

import numpy as np

from raster2dggs_spark.dggs import h3lib
from raster2dggs_spark.functions.z7 import (
    hex7_to_z7,
    hex7_to_z7_np,
    z7_to_hex7,
    z7_to_hex7_np,
)

RNG = np.random.default_rng(11)


def _cells(n, res):
    lon = RNG.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(RNG.uniform(-1.0, 1.0, n)))
    return h3lib.latlng_to_cell(lon, lat, res)


def test_roundtrip_bijection_all_res():
    for res in (0, 1, 5, 9, 15):
        c = _cells(20000, res)
        z = hex7_to_z7_np(c, res)
        assert np.array_equal(z7_to_hex7_np(z, res), c)
        assert np.unique(z).size == np.unique(c).size
        assert z.min() > 0  # mode tag: no id 0, no bit-63 negatives
        assert (z & 0xF == res).all()  # res rides in the low nibble


def test_order_isomorphism_within_res():
    """z7 is the base-7 positional reading — sibling order under a
    common parent is preserved (children of one parent are contiguous)."""
    c = np.unique(_cells(5000, 4))
    kids = np.sort(h3lib.cell_to_children(c[:50]).ravel())
    z = hex7_to_z7_np(kids, 5)
    blocks = np.sort(z).reshape(-1, 7)
    assert (np.diff(blocks, axis=1) == (1 << 4)).all()


def test_column_matches_numpy(spark):
    import pandas as pd

    for res in (0, 9, 15):
        c = _cells(3000, res)
        df = spark.createDataFrame(pd.DataFrame({"cell": c}), "cell long")
        got = df.select(
            hex7_to_z7("cell", res).alias("z"),
        ).withColumn("back", z7_to_hex7("z", res)).toPandas()
        assert np.array_equal(got["z"].values, hex7_to_z7_np(c, res))
        assert np.array_equal(got["back"].values, c)
