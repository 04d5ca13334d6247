"""The benchmark's workloads.

Each workload generates its inputs and its NumPy reference from the seed
(``generate``, no Spark: it runs while the session starts), loads what needs
the session (``load``), runs one pass of the engine (``run_pass``, the timed
region), checks the pass against the reference (``check``), and, in a traced
run, times single layers with probes of its own (``probes``).

Sizes are fixed here, not by flags: a run on 4 cores must set up, warm up
and measure several passes inside the run length.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import reference as ref

# the image columns index_point_agg's UDF receives (indexing._prune with
# keep_image_id=False); the UDF-boundary probe moves exactly these
UDF_COLS = ["bytes", "fmt", "nodata", "affine_a", "affine_b", "affine_c",
            "affine_d", "affine_e", "affine_f", "crs"]

# Floors for two known engine defects the benchmark reports, not hides:
# the hex7 polygon cover misses about 1e-4 of the true PIP pairs on the
# fixed zone layer (interior points of zones 52, 205 and 228 near 8°W 0°),
# and knn_join misses a true neighbour for 0-3 of 2000 queries (one seen at
# 5.2°W 64.7°N).  A pass fails when either gets clearly worse.
PIP_RECALL_FLOOR = 0.999
KNN_EXACT_FLOOR = 0.995
# The same defect drops whole res-4 cells from the zonal join.  Near
# icosahedron face seams the hex7 ids are not unique: the encoder,
# cell_to_parent and the cover can give one cell two ids (0x841c225ffffffff
# and 0x841c2edffffffff at 142.94°W 51.66°N in zone 214; four res-4 cells
# near 6°W 1°N in zone 228).  ZONAL_SEAM_ZONES are the zones of the fixed
# layer whose res-4 cover holds such ids; in a NumPy simulation of 1,201
# seeds every dropped cell lay in one of them (13, 52, 200, 205, 214 or
# 228), and no seed gained a cell.  A zonal result must hold only
# reference cells, with the reference's rows and pixels for each, and may
# miss whole cells only in these zones.
ZONAL_SEAM_ZONES = frozenset(
    (13, 18, 23, 28, 37, 52, 120, 193, 199, 200, 205, 214, 224, 228, 254))


class Ctx:
    def __init__(self, spark, run_dir: str, seed: int, tracer, cores: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer
        self.cores = cores

    def path(self, *parts) -> str:
        return os.path.join(self.run_dir, *parts)


def _timed(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kernel_probes(ctx: Ctx, res: int) -> dict:
    """Single-threaded kernel timings in the benchmark process over a fixed
    sample of generated image payloads (64 tiles of the index_agg mix)."""
    from raster2dggs_spark.codecs import decode_image
    from raster2dggs_spark.dggs import cover
    from raster2dggs_spark.geo import pixel_centers_lonlat
    from raster2dggs_spark.sources import generate_images_pdf

    sample = generate_images_pdf(64, seed=ctx.seed, size_range=(32, 96))
    arrs = [decode_image(b) for b in sample["bytes"]]
    mpx = sum(a.shape[1] * a.shape[2] for a in arrs) / 1e6
    affines = sample[["affine_a", "affine_b", "affine_c", "affine_d",
                      "affine_e", "affine_f"]].to_numpy()
    crs = sample["crs"].tolist()
    tr = ctx.tracer
    with tr.span("codecs.decode_image"):
        dec = _timed(lambda: [decode_image(b) for b in sample["bytes"]])
    lonlat = [None]

    def centres():
        lonlat[0] = [pixel_centers_lonlat(tuple(af), a.shape[2], a.shape[1], c)
                     for af, a, c in zip(affines, arrs, crs)]

    with tr.span("geo.pixel_centers_lonlat"):
        geo = _timed(centres)
    lon = np.concatenate([p[0] for p in lonlat[0]])
    lat = np.concatenate([p[1] for p in lonlat[0]])
    with tr.span("dggs.encode"):
        enc = _timed(lambda: cover.encode(lon, lat, res, "hex7"))
    return {"codecs.decode_s_per_mpx": dec / mpx,
            "geo.lonlat_s_per_mpx": geo / mpx,
            "dggs.encode_s_per_mpt": enc / (lon.size / 1e6)}


def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


# ---------------------------------------------------------------------------

class IndexAgg:
    """Flagship: index_point_agg(res=9, hex7, mean) over the synthetic image
    table.  Decode → affine/CRS → encode → in-UDF reduce are dense inside
    one mapInPandas; one small shuffle follows; nothing is written."""

    name = "index_agg"
    N_TILES = 1024
    SIZE = (32, 96)
    RES = 9

    def generate(self, ctx: Ctx) -> None:
        """Reference from the single-process generator, which yields the rows
        ``write_images_table`` writes for the same seed."""
        from raster2dggs_spark.sources import generate_images_pdf

        t0 = time.perf_counter()
        pdf = generate_images_pdf(self.N_TILES, seed=ctx.seed,
                                  size_range=self.SIZE)
        self.gen_s = time.perf_counter() - t0
        cell, npx, means = ref.cell_mean_table(pdf, self.RES)
        self.ref = ref.cell_digest(cell, npx, means)
        self.units = int(npx.sum())

    def load(self, ctx: Ctx) -> None:
        from raster2dggs_spark.sources import write_images_table

        self.path = ctx.path("images")
        t0 = time.perf_counter()
        with ctx.tracer.span("sources.write_images_table"):
            write_images_table(ctx.spark, self.path, self.N_TILES,
                               seed=ctx.seed, size_range=self.SIZE,
                               chunk=max(8, self.N_TILES // (4 * ctx.cores)))
        self.gen_s += time.perf_counter() - t0

    def run_pass(self, ctx: Ctx):
        from raster2dggs_spark.operators.indexing import index_point_agg

        imgs = ctx.spark.read.parquet(self.path)
        with ctx.tracer.span("operators.indexing.index_point_agg"):
            out = index_point_agg(imgs, res=self.RES, dggs="hex7", agg="mean")
            return ref.spark_digest(out)

    def check(self, ctx: Ctx, got) -> dict:
        s = ref.digest_scores(got, self.ref)
        guard = int(got[:, 1].sum()) == self.units
        s["ok"] = guard and s["exact_ratio"] == 1.0
        return s

    def probes(self, ctx: Ctx) -> dict:
        from raster2dggs_spark.operators.indexing import cell_partials
        from pyspark.sql import types as T

        spark, tr = ctx.spark, ctx.tracer
        imgs = spark.read.parquet(self.path)
        out = kernel_probes(ctx, self.RES)
        with tr.span("sources.scan"):
            t0 = time.perf_counter()
            _noop(imgs.select(*UDF_COLS))
            out["sources.scan_s"] = time.perf_counter() - t0
        pruned = imgs.select(*UDF_COLS)
        schema = T.StructType([pruned.schema[c] for c in UDF_COLS])
        with tr.span("udf.boundary"):
            t0 = time.perf_counter()
            _noop(pruned.mapInPandas(lambda it: it, schema))
            out["udf.boundary_s"] = time.perf_counter() - t0
        with tr.span("operators.indexing.cell_partials"):
            rows = cell_partials(imgs, self.RES, dggs="hex7",
                                 stats=("cnt", "sum")).count()
        out["indexing.partial_rows"] = rows
        out["indexing.combine_ratio"] = self.units / max(1, rows)
        self.ingest = IngestProbe(ctx)
        out.update(self.ingest.run(ctx))
        return out


# ---------------------------------------------------------------------------

class IngestProbe:
    """The write path as layer probes: a GeoTIFF corpus → read_geotiff →
    pixel_cells(res=10) → checkpointed_write into an IceTable partitioned
    by parent cell, plus a crash-and-resume of that write.  Every pixel
    becomes an output row, with no map-side combine and no exchange."""

    N_FILES = 16
    PX = 512
    RES = 10
    PIXEL_DEG = 2e-4

    def __init__(self, ctx: Ctx):
        from raster2dggs_spark.sources.geotiff import write_geotiff

        d = ctx.path("tiffs")
        os.makedirs(d, exist_ok=True)
        self.paths = []
        yy, xx = np.mgrid[0:self.PX, 0:self.PX] / self.PX
        for i in range(self.N_FILES):
            rng = np.random.default_rng(
                np.random.SeedSequence([ctx.seed, 31, i]))
            ph = rng.uniform(0, 2 * np.pi, 2)
            field = (np.sin(6 * xx + ph[0]) * np.cos(4 * yy + ph[1])
                     + rng.normal(0, 0.05, xx.shape))
            affine = (self.PIXEL_DEG, 0.0, float(rng.uniform(-170, 170)),
                      0.0, -self.PIXEL_DEG, float(rng.uniform(-60, 60)))
            p = os.path.join(d, f"t{i:02d}.tiff")
            write_geotiff(p, field.astype(np.float32)[None], affine,
                          "EPSG:4326", compression="deflate", predictor=2)
            self.paths.append(p)
        self.units = self.N_FILES * self.PX * self.PX

    def _frame(self, ctx: Ctx):
        from raster2dggs_spark.operators.indexing import pixel_cells
        from raster2dggs_spark.sources.geotiff import read_geotiff

        g = read_geotiff(ctx.spark, self.paths)
        return pixel_cells(g, res=self.RES, dggs="hex7", n_bands=1,
                           keep_image_id=False)

    def _write(self, ctx: Ctx, df, name: str, **kw) -> dict:
        from raster2dggs_spark.plans.checkpoint import checkpointed_write
        from raster2dggs_spark.sources import IceTable

        self.table = IceTable(ctx.path("tables", name))
        return checkpointed_write(df, self.table, "parent", **kw)

    def _check(self, ctx: Ctx, snap) -> None:
        if (snap["total_rows"] != self.units
                or not self.table.verify_counts(ctx.spark)):
            raise RuntimeError(f"{self.table.root} does not hold every pixel row")

    def run(self, ctx: Ctx) -> dict:
        from raster2dggs_spark.sources.geotiff import read_geotiff

        tr, out = ctx.tracer, {}
        with tr.span("sources.geotiff_decode"):
            t0 = time.perf_counter()
            _noop(read_geotiff(ctx.spark, self.paths))
            out["sources.geotiff_decode_s"] = time.perf_counter() - t0

        # the write alone: checkpointed_write over already-persisted rows
        px = self._frame(ctx).persist()
        px.count()
        with tr.span("checkpoint.write"):
            t0 = time.perf_counter()
            snap = self._write(ctx, px, "write")
            out["checkpoint.write_s"] = time.perf_counter() - t0
        px.unpersist()
        self._check(ctx, snap)
        files = [f for m in snap["manifests"] for f in m["files"]]
        out["checkpoint.files"] = len(files)
        out["checkpoint.partitions"] = len(snap["manifests"])
        out["checkpoint.bytes_per_px"] = sum(
            os.path.getsize(os.path.join(self.table.root, f)) for f in files
        ) / self.units

        # resume: commit half the partitions, crash, resume from the source
        half = max(1, len(snap["manifests"]) // 2)
        with tr.span("checkpoint.partial"):
            try:
                self._write(ctx, self._frame(ctx), "resume",
                            fail_after_partitions=half)
            except RuntimeError:
                pass
        self.pending = self.units - self.table.snapshot()["total_rows"]
        with tr.span("checkpoint.resume") as self.resume_span:
            t0 = time.perf_counter()
            snap = self._write(ctx, self._frame(ctx), "resume")
            out["checkpoint.resume_s"] = time.perf_counter() - t0
        self._check(ctx, snap)
        return out


# ---------------------------------------------------------------------------

class VectorJoin:
    """Cell-index joins on one input set: point_in_polygon_join(res=6) of
    seeded points against a fixed 256-zone layer, zonal_join of the zones
    against an index_point_agg cell table cached in setup, and
    knn_join(k=5).  Touches neither codecs nor geo."""

    name = "vector_join"
    N_ZONES = 256
    ZONE_SEED = 42  # the zone layer is fixed, like a real boundary layer
    N_POINTS = 300_000
    PIP_RES = 6
    N_QUERIES = 2_000
    N_TARGETS = 20_000
    K = 5
    ZONAL_TILES = 64
    ZONAL_RES = 4

    def generate(self, ctx: Ctx) -> None:
        from raster2dggs_spark.dggs import h3lib
        from raster2dggs_spark.sources import generate_images_pdf
        from raster2dggs_spark.sources.vectors import (
            generate_points_pdf, generate_zones_pdf)

        d = ctx.path("vectors")
        os.makedirs(d, exist_ok=True)
        t0 = time.perf_counter()
        self.zones = generate_zones_pdf(self.N_ZONES, seed=self.ZONE_SEED)
        points = generate_points_pdf(self.N_POINTS, seed=ctx.seed,
                                     zones=self.zones)
        rng = np.random.default_rng(np.random.SeedSequence([ctx.seed, 53]))

        def sphere(n, id_col):
            return pd.DataFrame({
                id_col: np.arange(n, dtype=np.int64),
                "lon": rng.uniform(-180, 180, n),
                "lat": np.degrees(np.arcsin(rng.uniform(-1, 1, n)))})

        self.queries = sphere(self.N_QUERIES, "q_id")
        self.targets = sphere(self.N_TARGETS, "t_id")
        self.files = {}
        for name, pdf in (("points", points),
                          ("zones", self.zones[["poly_id", "xs", "ys"]]),
                          ("queries", self.queries),
                          ("targets", self.targets)):
            self.files[name] = os.path.join(d, f"{name}.parquet")
            _write_parquet(pdf, self.files[name])
        self.images = generate_images_pdf(self.ZONAL_TILES, seed=ctx.seed,
                                          size_range=(32, 96))
        self.gen_s = time.perf_counter() - t0
        self.units = self.N_POINTS

        self.pip_ref = ref.pip_pairs(points["lon"].to_numpy(),
                                     points["lat"].to_numpy(), self.zones)
        cell, npx, _means = ref.cell_mean_table(self.images, 9)
        par = h3lib.cell_to_parent(cell, self.ZONAL_RES)
        self.zonal_cells = pd.DataFrame({"cell": par, "npx": npx})
        clon, clat = h3lib.cell_to_latlng(par)
        rows, zid = ref.zone_members(clon, clat, self.zones)
        # per zone, {cell: (rows, Σnpx)} of the res-4 cells whose centre is in it
        members = pd.DataFrame({"zone": zid, "cell": par[rows],
                                "npx": npx[rows]})
        per_cell = members.groupby(["zone", "cell"])["npx"].agg(["size", "sum"])
        self.zonal_ref = {}
        for (z, c), (n, p) in per_cell.iterrows():
            self.zonal_ref.setdefault(int(z), {})[int(c)] = (int(n), int(p))
        self.knn_ids, self.knn_dist = ref.knn_topk(
            self.queries["lon"].to_numpy(), self.queries["lat"].to_numpy(),
            self.targets["lon"].to_numpy(), self.targets["lat"].to_numpy(),
            self.K)

    def load(self, ctx: Ctx) -> None:
        """Cache the zonal side: index_agg's cell table for this seed's
        tiles (the rows index_point_agg returns, which the index_agg
        workload checks), rolled up to the zonal resolution.  It is built
        from the reference, not by a cold Spark job, to keep set-up short."""
        self.cells = ctx.spark.createDataFrame(self.zonal_cells).persist()
        self.cells.count()

    def _inputs(self, ctx: Ctx):
        from raster2dggs_spark.operators.joins import POLY_SCHEMA

        spark = ctx.spark
        return (spark.read.parquet(self.files["points"]),
                spark.read.schema(POLY_SCHEMA).parquet(self.files["zones"]),
                spark.read.parquet(self.files["queries"]),
                spark.read.parquet(self.files["targets"]))

    def run_pass(self, ctx: Ctx):
        from pyspark.sql import functions as F
        from raster2dggs_spark.operators.joins import (
            knn_join, point_in_polygon_join, zonal_join)

        tr = ctx.tracer
        points, zones, queries, targets = self._inputs(ctx)
        with tr.span("operators.joins.point_in_polygon_join"):
            pip = point_in_polygon_join(points, zones, res=self.PIP_RES,
                                        dggs="hex7").select(
                "point_id", "poly_id").toArrow()
        with tr.span("operators.joins.zonal_join"):
            zonal = zonal_join(self.cells, zones, res=self.ZONAL_RES,
                               agg_exprs=[F.collect_set("cell").alias("cells"),
                                          F.count(F.lit(1)).alias("n"),
                                          F.sum("npx").alias("npx")],
                               dggs="hex7").collect()
        with tr.span("operators.joins.knn_join"):
            knn = knn_join(queries, targets, k=self.K, res=9,
                           dggs="hex7").select("q_id", "t_id",
                                               "rank").toArrow()
        return pip, zonal, knn

    def check(self, ctx: Ctx, got) -> dict:
        pip, zonal, knn = got
        keys = (pip.column("point_id").to_numpy().astype(np.int64) * 65536
                + pip.column("poly_id").to_numpy().astype(np.int64))
        uniq = np.unique(keys)
        hit = np.isin(uniq, self.pip_ref, assume_unique=True).sum()
        recall = hit / max(1, self.pip_ref.size)
        precision = hit / max(1, keys.size)  # duplicates count against it
        self.pip_rows = keys.size
        pip_ok = (keys.size > 0 and precision == 1.0
                  and recall >= PIP_RECALL_FLOOR)

        missed, zonal_ok = self._zonal(zonal)

        exact = self._knn_exact(knn)
        return {"recall": recall, "precision": precision,
                "exact_ratio": exact["ratio"], "zonal_missed_cells": missed,
                "ok": pip_ok and zonal_ok and exact["full"]
                and exact["ratio"] >= KNN_EXACT_FLOOR}

    def _zonal(self, zonal) -> tuple[int, bool]:
        """(reference cells missing from the zonal result, whether the
        result is the reference less whole cells of seam zones).  Every
        returned cell must be a reference cell of its zone, and each zone's
        rows and pixels must be the reference's for the cells returned."""
        got = {int(r["poly_id"]): r for r in zonal}
        missed, ok = 0, bool(got)
        for z in set(got) | set(self.zonal_ref):
            ref_cells = self.zonal_ref.get(z, {})
            r = got.get(z)
            cells = set() if r is None else {int(c) for c in r["cells"]}
            lost = len(ref_cells.keys() - cells)
            missed += lost
            if cells - ref_cells.keys() or (lost and z not in ZONAL_SEAM_ZONES):
                ok = False
            elif r is not None and [int(r["n"]), int(r["npx"])] != [
                    sum(v) for v in zip(*(ref_cells[c] for c in cells))]:
                ok = False
        return missed, ok

    def _knn_exact(self, knn) -> dict:
        q = knn.column("q_id").to_numpy()
        t = knn.column("t_id").to_numpy()
        r = knn.column("rank").to_numpy()
        nq = self.N_QUERIES
        counts = np.bincount(q, minlength=nq)
        full = bool(np.all(counts == self.K))
        ids = np.full((nq, self.K), -1, dtype=np.int64)
        ok_rows = (r >= 1) & (r <= self.K)
        ids[q[ok_rows], r[ok_rows] - 1] = t[ok_rows]
        same = np.all(ids == self.knn_ids, axis=1)
        # a different order is still exact when it swaps equidistant targets
        diff = np.flatnonzero(~same & np.all(ids >= 0, axis=1))
        if diff.size:
            qq = self.queries.iloc[diff]
            tt = self.targets.set_index("t_id").loc[ids[diff].ravel()]
            d = ref.haversine_m(
                np.repeat(qq["lon"].to_numpy(), self.K),
                np.repeat(qq["lat"].to_numpy(), self.K),
                tt["lon"].to_numpy(), tt["lat"].to_numpy()).reshape(-1, self.K)
            same[diff] = np.all(np.abs(d - self.knn_dist[diff]) <= 1e-6, axis=1)
        return {"full": full, "ratio": float(same.mean())}

    def probes(self, ctx: Ctx) -> dict:
        from raster2dggs_spark.operators.joins import (
            index_points, polygon_cells, polygon_cover_cells)

        tr = ctx.tracer
        out = kernel_probes(ctx, self.PIP_RES)
        with tr.span("dggs.cover"):
            t0 = time.perf_counter()
            for z in self.zones.itertuples(index=False):
                polygon_cover_cells(np.asarray(z.xs), np.asarray(z.ys),
                                    self.PIP_RES, "hex7")
            out["dggs.cover_s"] = time.perf_counter() - t0
        points, zones, _q, _t = self._inputs(ctx)
        with tr.span("joins.pip_candidates"):
            out["joins.pip_candidates"] = (
                index_points(points, self.PIP_RES, "hex7")
                .join(polygon_cells(zones, self.PIP_RES, "hex7"), "cell")
                .count())
        return out


WORKLOADS = {w.name: w for w in (IndexAgg, VectorJoin)}
