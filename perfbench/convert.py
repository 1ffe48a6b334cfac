"""``convert``: the raster write path, then reads of what it wrote.

Each pass converts three seeded sources — a north-up EPSG:4326 GeoTIFF
(fused-gather import), a UTM 326xx GeoTIFF (join-path warp) and a
3-step classic NetCDF — through import → ``build_pyramid`` →
``write_raquet``, exports the 4326 table with ``write_geotiff``, and
then serves a seeded, interleaved request mix from that table:
``serve.render_tile`` over a skewed popular-tile set across every
pyramid level (some tiles absent), ``point_query.raster_value`` batches
of clustered points, and ``region_stats`` over random bboxes.

The imported tiles are persisted and counted (``import.<src>.exec``)
before the pyramid, so the import executes once and is not recomputed by
the layers after it. ``build_pyramid`` executes its levels eagerly
(``pyramid.build``); ``write_raquet`` executes the rest.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np

from perfbench import inputs, reference
from perfbench.harness import Bench
from perfbench.trace import median, tail_percentile

SOURCES = ("geotiff4326", "geotiffutm", "netcdf")
NC_STEPS = 3
# top-left corners: lon/lat degrees, UTM metres
GEO_ORIGIN, UTM_ZONE, UTM_ORIGIN, NC_ORIGIN = (8.3, 46.9), 32, (480000.0, 5200000.0), (-3.7, 40.9)
PYRAMID_LEVELS = 3
SIZES = {"geotiff4326": (1024, 1024), "geotiffutm": (128, 128), "netcdf": (256, 256)}
RENDERS, POINT_BATCHES, POINTS_PER_BATCH, REGIONS = 40, 3, 64, 3
SAMPLE_PIXELS = 200
ABSENT_EVERY = 8


@dataclass
class Source:
    name: str
    path: str
    grid: np.ndarray  # (steps, rows, cols) source values
    to_src: object  # (lon, lat) -> fractional (col, row) source coords
    bounds: tuple[float, float, float, float] | None = None  # geographic sources

    @property
    def pixels(self) -> int:
        return int(self.grid.size)


@dataclass
class Written:
    op_id: int
    source: Source
    path: str
    meta: dict
    nbytes: int


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path) if f.endswith(".parquet")
    )


class Convert:
    def __init__(self, bench: Bench, work: str, seed: int):
        self.b = bench
        self.dir = work
        self.seed = seed
        self.sources: dict[str, Source] = {}
        self.written: list[Written] = []
        self.exports: list[tuple[int, str, dict]] = []
        self.renders: list[tuple[int, str, int, int, int, bytes | None]] = []
        self.points: list[tuple[int, str, np.ndarray, np.ndarray, list]] = []
        self.regions: list[tuple[int, str, tuple, dict]] = []
        self.work_px = 0

    def reset(self) -> None:
        """Forget the outputs of the passes so far (after a warm-up)."""
        self.written, self.exports = [], []
        self.renders, self.points, self.regions = [], [], []
        self.work_px = 0

    # -- inputs ------------------------------------------------------------
    def synthesize(self) -> None:
        """Write the three sources under ``work/inputs``. Their
        georeferencing is fixed, so every seed converts the same tile set;
        the seed draws the pixel values (and, in a pass, the requests and
        check samples)."""
        from raquet_spark.testing import write_netcdf_classic

        rng = np.random.default_rng(self.seed)
        d = os.path.join(self.dir, "inputs")
        os.makedirs(d, exist_ok=True)
        srcs = {}

        h, w = SIZES["geotiff4326"]
        res = 1.0 / 1200.0
        lon0, lat0 = GEO_ORIGIN
        grid = inputs.smooth_field(rng, h, w)
        path = os.path.join(d, "geotiff4326.tif")
        inputs.write_geotiff(path, grid, (lon0, lat0), res, inputs.geographic_keys())
        srcs["geotiff4326"] = Source(
            "geotiff4326", path, grid[None],
            lambda lon, lat, lon0=lon0, lat0=lat0, res=res: ((lon - lon0) / res, (lat0 - lat) / res),
            bounds=(lon0, lat0 - h * res, lon0 + w * res, lat0),
        )

        h, w = SIZES["geotiffutm"]
        res = 30.0
        zone, (e0, n0) = UTM_ZONE, UTM_ORIGIN
        grid = inputs.smooth_field(rng, h, w)
        path = os.path.join(d, "geotiffutm.tif")
        inputs.write_geotiff(path, grid, (e0, n0), res, inputs.utm_keys(32600 + zone))

        def utm_src(lon, lat, zone=zone, e0=e0, n0=n0, res=res):
            e, n = reference.utm_forward(lon, lat, zone)
            return (e - e0) / res, (n0 - n) / res

        srcs["geotiffutm"] = Source("geotiffutm", path, grid[None], utm_src)

        h, w = SIZES["netcdf"]
        step = 0.01
        lon0, lat0 = NC_ORIGIN
        lats = lat0 - (np.arange(h) + 0.5) * step
        lons = lon0 + (np.arange(w) + 0.5) * step
        grid = np.stack([inputs.smooth_field(rng, h, w) for _ in range(NC_STEPS)])
        path = os.path.join(d, "netcdf.nc")
        write_netcdf_classic(path, lats, lons, grid, times=np.arange(NC_STEPS, dtype=np.float64), nc_type=3)
        srcs["netcdf"] = Source(
            "netcdf", path, grid,
            lambda lon, lat, lon0=lon0, lat0=lat0, s=step: ((lon - lon0) / s, (lat0 - lat) / s),
        )
        self.sources = srcs

    # -- one pass ----------------------------------------------------------
    def run_pass(self, n: int) -> None:
        from raquet_spark.operators.pyramid import build_pyramid
        from raquet_spark.sources.netcdf import netcdf_to_raquet
        from raquet_spark.sources.raquet import write_raquet
        from raquet_spark.sources.tiff_reader import geotiff_to_raquet

        spark, b = self.b.spark, self.b
        out_dir = os.path.join(self.dir, "tables", f"pass{n}")
        table_4326 = None
        for name in SOURCES:
            src = self.sources.get(name)
            if src is None or not os.path.exists(src.path):
                b.failed_op(f"missing input for {name}")
                continue
            importer = netcdf_to_raquet if name == "netcdf" else geotiff_to_raquet
            cached = []
            with b.op(f"convert.{name}") as op_id:
                try:
                    with b.timed(f"import.{name}.build", op_id):
                        tiles, meta = importer(spark, src.path)
                    with b.timed(f"import.{name}.exec", op_id):
                        tiles = tiles.persist()
                        cached.append(tiles)
                        tiles.count()
                    z = meta["tiling"]["max_zoom"]
                    with b.timed("pyramid.build", op_id):
                        pyr, pmeta = build_pyramid(tiles, meta, max(0, z - PYRAMID_LEVELS))
                    path = os.path.join(out_dir, f"{name}.parquet")
                    with b.timed("raquet.write", op_id):
                        write_raquet(pyr, path, pmeta)
                finally:
                    for df in cached:
                        df.unpersist()
                self.work_px += src.pixels
                self.written.append(Written(op_id, src, path, pmeta, _parquet_bytes(path)))
                if name == "geotiff4326":
                    table_4326 = path
        if table_4326 is not None:
            self._export(table_4326, os.path.join(out_dir, "export.tif"))
            self._reads(table_4326, n)

    def _export(self, table: str, out: str) -> None:
        from raquet_spark.sources.geotiff import write_geotiff
        from raquet_spark.sources.raquet import read_raquet, read_raquet_metadata

        spark, b = self.b.spark, self.b
        with b.op("export") as op_id:
            with b.timed("geotiff.export", op_id):
                meta = read_raquet_metadata(spark, table)
                write_geotiff(read_raquet(spark, table), meta, out)
            self.exports.append((op_id, out, meta))

    def _reads(self, table: str, n: int) -> None:
        import pandas as pd

        from raquet_spark import serve
        from raquet_spark.operators.point_query import raster_value
        from raquet_spark.operators.region_stats import region_stats
        from raquet_spark.sources.raquet import read_raquet, read_raquet_metadata

        spark, b = self.b.spark, self.b
        rng = np.random.default_rng([self.seed, n])
        meta = read_raquet_metadata(spark, table)
        tiling = meta["tiling"]
        west, south, east, north = self.sources["geotiff4326"].bounds

        # popular tiles: every tile of every level over the footprint in a
        # seeded order, Zipf-skewed; one render in ABSENT_EVERY asks for a
        # tile just outside the covering grid, which must come back empty
        present, absent = [], []
        for z in range(tiling["min_zoom"], tiling["max_zoom"] + 1):
            x0, y0 = reference.lonlat_to_tile(west, north, z)
            x1, y1 = reference.lonlat_to_tile(east, south, z)
            present += [(z, x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]
            absent += [(z, x1 + 2, y0), (z, x0, y1 + 2)]
        present = [present[i] for i in rng.permutation(len(present))]
        weights = 1.0 / np.arange(1, len(present) + 1) ** 1.1
        picks = [
            absent[rng.integers(len(absent))] if rng.random() < 1.0 / ABSENT_EVERY
            else present[rng.choice(len(present), p=weights / weights.sum())]
            for _ in range(RENDERS)
        ]

        kinds = ["tile"] * RENDERS + ["point"] * POINT_BATCHES + ["region"] * REGIONS
        kinds = [kinds[i] for i in rng.permutation(len(kinds))]
        pick_iter = iter(picks)
        lon_span, lat_span = east - west, north - south
        for kind in kinds:
            if kind == "tile":
                z, x, y = next(pick_iter)
                with b.op("render_tile") as op_id:
                    with b.timed("serve.render_tile", op_id):
                        img = serve.render_tile(table, z, x, y, None)
                    self.renders.append((op_id, table, z, x, y, img))
            elif kind == "point":
                centers = np.column_stack([
                    rng.uniform(west + 0.05 * lon_span, east - 0.05 * lon_span, 4),
                    rng.uniform(south + 0.05 * lat_span, north - 0.05 * lat_span, 4),
                ])
                pts = centers[rng.integers(0, 4, POINTS_PER_BATCH)] + rng.normal(
                    0, 0.01 * min(lon_span, lat_span), (POINTS_PER_BATCH, 2))
                with b.op("raster_value") as op_id:
                    with b.timed("point_query.build", op_id):
                        pdf = pd.DataFrame({"pid": np.arange(len(pts)), "lon": pts[:, 0], "lat": pts[:, 1]})
                        df = raster_value(read_raquet(spark, table), spark.createDataFrame(pdf), meta)
                    with b.timed("point_query.exec", op_id):
                        rows = df.select("pid", "value").collect()
                    self.points.append((op_id, table, pts[:, 0], pts[:, 1], rows))
            else:
                cx = rng.uniform(west + 0.1 * lon_span, east - 0.1 * lon_span)
                cy = rng.uniform(south + 0.1 * lat_span, north - 0.1 * lat_span)
                hx, hy = rng.uniform(0.05, 0.3) * lon_span, rng.uniform(0.05, 0.3) * lat_span
                bbox = (cx - hx, cy - hy, cx + hx, cy + hy)
                with b.op("region_stats") as op_id:
                    with b.timed("region_stats.exec", op_id):
                        row = region_stats(read_raquet(spark, table), meta, bbox).collect()[0]
                    self.regions.append((op_id, table, bbox, row.asDict()))

    # -- output checks (outside the timed window) --------------------------
    def check(self) -> None:
        import pyarrow.parquet as pq

        from raquet_spark.sources.validate import validate_raquet

        spark, b = self.b.spark, self.b
        rng = np.random.default_rng([self.seed, 7])
        tables: dict[str, object] = {}

        def table(path):
            if path not in tables:
                tables[path] = pq.read_table(path).to_pandas()
            return tables[path]

        # validations are independent small-job chains: run them side by side
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(self.written) or 1) as pool:
            results = list(pool.map(
                lambda wr: validate_raquet(spark, wr.path, check_band_data=True), self.written))
        for wr, res in zip(self.written, results):
            if not res.is_valid:
                b.fail(wr.op_id, f"validate_raquet {wr.path}: {res.errors}")
                continue
            bad = _native_sample_mismatches(table(wr.path), wr, rng)
            if bad:
                b.fail(wr.op_id, f"{wr.source.name}: {bad} sampled native pixels differ from the source")

        from raquet_spark.sources.tiff_reader import read_tiff_structure

        for op_id, out, meta in self.exports:
            info = read_tiff_structure(out)
            if (info["width"], info["height"]) != (meta["width"], meta["height"]):
                b.fail(op_id, f"export is {info['width']}x{info['height']}, table is {meta['width']}x{meta['height']}")

        from raquet_spark.functions.quadbin import py_tile_to_cell
        from raquet_spark.functions.webp import vp8l_decode

        verified: set[tuple] = set()  # a popular tile renders to the same bytes every time
        for op_id, path, z, x, y, img in self.renders:
            if (path, z, x, y, img) in verified:
                continue
            df = table(path)
            bs = _block_size(df)
            hit = df[df["block"] == py_tile_to_cell(x, y, z)]
            if hit.empty:
                if img is not None:
                    b.fail(op_id, f"tile {z}/{x}/{y} rendered but absent from the table")
                continue
            if img is None:
                b.fail(op_id, f"tile {z}/{x}/{y} present but not rendered")
                continue
            got = vp8l_decode(img)
            want = reference.display_uint8(reference.decode_blob(hit.iloc[0]["band_1"], "int16")).reshape(bs, bs)
            if got.shape[:2] != (bs, bs) or not np.array_equal(got[..., 1], want):  # [A, R, G, B]
                b.fail(op_id, f"tile {z}/{x}/{y} does not round-trip to its pixels")
            else:
                verified.add((path, z, x, y, img))

        src = self.sources["geotiff4326"]
        for op_id, path, lons, lats, rows in self.points:
            df = table(path)
            meta = _meta(df)
            z, bs = meta["tiling"]["max_zoom"], meta["tiling"]["block_width"]
            got = {r["pid"]: r["value"] for r in rows}
            gx, gy = reference.lonlat_to_global_pixel(lons, lats, z, bs)
            blocks = _native_blocks(df, z)
            for i in range(len(lons)):
                v = _pixel(blocks, z, bs, int(gx[i]), int(gy[i]))
                clon, clat = reference.pixel_center_lonlat(z, bs, gx[i], gy[i])
                cands = reference.nearest_source_index(*src.to_src(clon, clat), src.grid.shape[1:])[0]
                want = {float(src.grid[0][c]) for c in cands}
                if got.get(i) != v or (cands and v not in want):
                    b.fail(op_id, f"point {i}: value {got.get(i)}, table {v}, source {sorted(want)}")
                    break

        for op_id, path, bbox, row in self.regions:
            df = table(path)
            meta = _meta(df)
            z = meta["tiling"]["max_zoom"]
            x0, y0 = reference.lonlat_to_tile(bbox[0], bbox[3], z)
            x1, y1 = reference.lonlat_to_tile(bbox[2], bbox[1], z)
            blocks = _native_blocks(df, z)
            vals = [reference.decode_blob(blob, "int16") for (x, y), blob in blocks.items()
                    if x0 <= x <= x1 and y0 <= y <= y1]
            want = reference.pooled_stats(np.concatenate(vals))
            ok = all(
                math.isclose(float(row[k]), want[k], rel_tol=1e-9, abs_tol=1e-9)
                for k in ("count", "min", "max", "sum", "mean")
            )
            if not ok:
                b.fail(op_id, f"region {bbox}: {row} != {want}")

    # -- metrics -------------------------------------------------------------
    def end_to_end(self) -> dict[str, float | None]:
        """The headline metrics of this workload (printed by name);
        None where no op of the kind succeeded."""
        b = self.b
        convert_s = b.total(*(f"import.{s}.{p}" for s in SOURCES for p in ("build", "exec")),
                            "pyramid.build", "raquet.write")
        exported_px = sum(m["width"] * m["height"] for _, _, m in self.exports)
        tiles_ms = [s * 1e3 for s in b.seconds["serve.render_tile"]]
        tail = tail_percentile(tiles_ms) or (100.0, max(tiles_ms, default=None))
        point_ms = [(x + y) * 1e3 for x, y in zip(b.seconds["point_query.build"], b.seconds["point_query.exec"])]
        return {
            "convert_mpx_per_s": self.work_px / 1e6 / convert_s if self.work_px else None,
            "export_mpx_per_s": exported_px / 1e6 / b.total("geotiff.export") if exported_px else None,
            "stored_bytes_per_px": sum(w.nbytes for w in self.written) / self.work_px if self.work_px else None,
            "tile_p50_ms": median(tiles_ms),
            "tile_tail_ms": tail[1],
            "tile_tail_pct": tail[0],
            "point_query_p50_ms": median(point_ms),
            "region_query_p50_ms": median([s * 1e3 for s in b.seconds["region_stats.exec"]]),
        }

    def layer_metrics(self, folded: dict[str, dict[str, float]] | None, passes: int) -> dict[str, float]:
        """Layer figures only this workload knows: the render hit ratio,
        parquet bytes written per pass, and (from the folded event log)
        rows read per point and per region query."""
        m = {
            "serve.tile_hit_ratio": sum(r[-1] is not None for r in self.renders) / max(len(self.renders), 1),
            "raquet.bytes_written": sum(w.nbytes for w in self.written) / passes,
        }
        if folded is not None:
            n_points = sum(len(p[2]) for p in self.points)
            m["point_query.records_read"] = folded.get("point_query", {}).get("records_read", 0) / max(n_points, 1)
            m["region_stats.records_read"] = (
                folded.get("region_stats", {}).get("records_read", 0) / max(len(self.regions), 1))
        return m


def _meta(df) -> dict:
    import json

    return json.loads(df.loc[df["block"] == 0, "metadata"].iloc[0])


def _block_size(df) -> int:
    return _meta(df)["tiling"]["block_width"]


def _native_blocks(df, z: int, time_value=None) -> dict[tuple[int, int], bytes]:
    from raquet_spark.functions.quadbin import py_cell_to_tile

    out = {}
    rows = df[df["block"] != 0]
    if time_value is not None:
        rows = rows[rows["time_cf"] == time_value]
    for blk, blob in zip(rows["block"], rows["band_1"]):
        x, y, zz = py_cell_to_tile(int(blk))
        if zz == z:
            out[(x, y)] = blob
    return out


def _pixel(blocks, z: int, bs: int, gx: int, gy: int) -> float | None:
    blob = blocks.get((gx // bs, gy // bs))
    if blob is None:
        return None
    return float(reference.decode_blob(blob, "int16")[(gy % bs) * bs + gx % bs])


def _native_sample_mismatches(df, wr: Written, rng: np.random.Generator) -> int:
    """Sampled native pixels whose value is not the nearest source pixel
    (or either neighbour, within float tolerance of a cell edge).
    Samples whose target-pixel centre falls outside the source are
    skipped: their value is the dense nodata fill, not a source pixel."""
    meta = wr.meta
    z, bs = meta["tiling"]["max_zoom"], meta["tiling"]["block_width"]
    src = wr.source
    steps = sorted(df["time_cf"].dropna().unique()) if "time_cf" in df else [None]
    per_step = [_native_blocks(df, z, s) for s in steps]
    bad = 0
    for _ in range(SAMPLE_PIXELS):
        t = int(rng.integers(0, len(steps)))
        blocks = per_step[t]
        (tx, ty) = list(blocks)[int(rng.integers(0, len(blocks)))]
        gx = tx * bs + int(rng.integers(0, bs))
        gy = ty * bs + int(rng.integers(0, bs))
        lon, lat = reference.pixel_center_lonlat(z, bs, gx, gy)
        cands = reference.nearest_source_index(*src.to_src(lon, lat), src.grid.shape[1:])[0]
        if not cands:
            continue
        if _pixel(blocks, z, bs, gx, gy) not in {float(src.grid[t][c]) for c in cands}:
            bad += 1
    return bad
