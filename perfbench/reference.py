"""Single-process NumPy references for the benchmark's checks.

Each reference is built from the same generated inputs the engine reads,
without Spark.  The hex7 encoder itself has no independent implementation
offline, so the raster references call the engine's cell kernels directly
and check the distributed plumbing around them (decode, affine, partial
reduce, exchange, final combine); the vector references (ray cast,
haversine top-k) share no code with the engine.
"""

from __future__ import annotations

import numpy as np

N_BUCKETS = 4093  # digest buckets (prime, so cell ids spread evenly)
_P = 65521


# ---- index_agg: bucketed value digest ------------------------------------

def cell_mean_table(pdf, res: int, n_bands: int = 4):
    """(cell, npx, means[n_bands, m]) of ``index_point_agg(agg="mean",
    nodata_policy="omit")`` over an image table given as pandas rows."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import h3lib
    from raster2dggs_spark.geo import pixel_centers_lonlat

    lons, lats, vals = [], [], []
    for r in pdf.itertuples(index=False):
        arr = decode_image(r.bytes)
        k, h, w = arr.shape
        if r.nodata is not None and not np.isnan(r.nodata):
            arr = np.where(arr == np.float32(r.nodata), np.nan, arr)
        v = arr.reshape(k, h * w).astype(np.float64)
        keep = ~np.all(np.isnan(v), axis=0)
        lon, lat = pixel_centers_lonlat(
            (r.affine_a, r.affine_b, r.affine_c, r.affine_d, r.affine_e,
             r.affine_f), w, h, r.crs)
        pad = np.full((n_bands, int(keep.sum())), np.nan)
        pad[:k] = v[:, keep][:n_bands]
        lons.append(lon[keep])
        lats.append(lat[keep])
        vals.append(pad)
    lon = np.concatenate(lons)
    lon = np.where((lon < -180.0) | (lon >= 180.0),
                   np.mod(lon + 180.0, 360.0) - 180.0, lon)
    cell = h3lib.latlng_to_cell(lon, np.concatenate(lats), res)
    v = np.concatenate(vals, axis=1)
    ucell, inv = np.unique(cell, return_inverse=True)
    m = ucell.shape[0]
    npx = np.bincount(inv, minlength=m).astype(np.int64)
    means = np.full((n_bands, m), np.nan)
    for b in range(n_bands):
        ok = ~np.isnan(v[b])
        cnt = np.bincount(inv[ok], minlength=m)
        s = np.bincount(inv[ok], weights=v[b][ok], minlength=m)
        with np.errstate(invalid="ignore", divide="ignore"):
            means[b] = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
    return ucell, npx, means


def cell_digest(cell, npx, means) -> np.ndarray:
    """Per-bucket (rows, Σnpx, Σ cell·npx, Σ cell·mean) integer digest,
    shape (N_BUCKETS, 4).  Counts are exact; means enter quantized to
    4 dp as floor(mean·1e4), null means as -1.  ``spark_digest`` computes
    the same numbers from the engine's output."""
    cell = np.asarray(cell, dtype=np.int64)
    b = cell % N_BUCKETS
    cm = cell % _P
    hv = np.zeros(cell.shape[0], dtype=np.int64)
    for i in range(means.shape[0]):
        with np.errstate(invalid="ignore"):
            q = np.where(np.isnan(means[i]), -1,
                         np.floor(means[i] * 1e4)).astype(np.int64)
        hv += cm * ((q + 7 * (i + 1)) % _P)
    out = np.zeros((N_BUCKETS, 4), dtype=np.int64)
    np.add.at(out[:, 0], b, 1)
    np.add.at(out[:, 1], b, npx)
    np.add.at(out[:, 2], b, cm * npx)
    np.add.at(out[:, 3], b, hv)
    return out


def spark_digest(df, n_bands: int = 4) -> np.ndarray:
    """The ``cell_digest`` of an engine output frame, computed in Spark
    (one small aggregation; only N_BUCKETS rows come back)."""
    from pyspark.sql import functions as F

    cm = F.pmod(F.col("cell"), F.lit(_P))
    hv = F.lit(0).cast("long")
    for i in range(n_bands):
        q = F.coalesce(F.floor(F.col(f"band_{i + 1}") * F.lit(1e4)),
                       F.lit(-1).cast("long"))
        hv = hv + cm * F.pmod(q + F.lit(7 * (i + 1)), F.lit(_P))
    rows = (df.groupBy(F.pmod(F.col("cell"), F.lit(N_BUCKETS)).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("npx").alias("npx"),
                 F.sum(cm * F.col("npx")).alias("c"), F.sum(hv).alias("h"))
            .collect())
    out = np.zeros((N_BUCKETS, 4), dtype=np.int64)
    for r in rows:
        out[r["b"]] = (r["n"], r["npx"], r["c"], r["h"])
    return out


def digest_scores(got: np.ndarray, ref: np.ndarray) -> dict:
    """Recall/precision of cell counts per bucket and the share of buckets
    whose whole digest is exact."""
    inter = np.minimum(got[:, 0], ref[:, 0]).sum()
    used = (got[:, 0] > 0) | (ref[:, 0] > 0)
    exact = np.all(got == ref, axis=1) & used
    return {"recall": inter / max(1, ref[:, 0].sum()),
            "precision": inter / max(1, got[:, 0].sum()),
            "exact_ratio": exact.sum() / max(1, used.sum())}


# ---- vector_join: brute-force ray cast and haversine top-k ---------------

def _inside(lon, lat, vx, vy):
    """Even-odd ray cast of points against one closed polygon ring."""
    inside = np.zeros(lon.shape, dtype=bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        xi, yi, xj, yj = vx[i], vy[i], vx[j], vy[j]
        crosses = (yi > lat) != (yj > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= crosses & (lon < xint)
        j = i
    return inside


def pip_pairs(lon, lat, zones) -> np.ndarray:
    """Sorted pair keys point_id·2^16 + poly_id of every (point, zone) with
    the point inside the zone; point ids are row positions."""
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    keys = []
    for z in zones.itertuples(index=False):
        vx, vy = np.asarray(z.xs), np.asarray(z.ys)
        a = np.searchsorted(slon, vx.min(), side="left")
        b = np.searchsorted(slon, vx.max(), side="right")
        idx = order[a:b]
        idx = idx[(lat[idx] >= vy.min()) & (lat[idx] <= vy.max())]
        hit = idx[_inside(lon[idx], lat[idx], vx, vy)]
        keys.append(hit.astype(np.int64) * 65536 + int(z.poly_id))
    return np.sort(np.concatenate(keys))


def zone_members(lon, lat, zones) -> tuple[np.ndarray, np.ndarray]:
    """(row index, poly_id) of every point inside every zone."""
    keys = pip_pairs(lon, lat, zones)
    return keys // 65536, keys % 65536


EARTH_R = 6371007.1809  # the engine's kNN distance radius (joins.EARTH_R)


def haversine_m(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2 - lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(a))


def knn_topk(q_lon, q_lat, t_lon, t_lat, k: int, chunk: int = 1024):
    """(ids[nq, k], dist[nq, k]) of the k nearest targets by haversine,
    ties broken by target id.  Candidates come from a chord-distance
    shortlist of k+8 (monotone in great-circle distance), then exact
    haversine decides the order."""
    def xyz(lon, lat):
        lo, la = np.radians(lon), np.radians(lat)
        return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo),
                         np.sin(la)], axis=1)

    qx, tx = xyz(q_lon, q_lat), xyz(t_lon, t_lat)
    short = k + 8
    ids = np.empty((len(q_lon), k), dtype=np.int64)
    dist = np.empty((len(q_lon), k))
    for a in range(0, len(q_lon), chunk):
        dot = qx[a:a + chunk] @ tx.T
        cand = np.argpartition(-dot, short, axis=1)[:, :short]
        d = haversine_m(q_lon[a:a + chunk, None], q_lat[a:a + chunk, None],
                        t_lon[cand], t_lat[cand])
        order = np.lexsort((cand, d))[:, :k]
        ids[a:a + chunk] = np.take_along_axis(cand, order, axis=1)
        dist[a:a + chunk] = np.take_along_axis(d, order, axis=1)
    return ids, dist
