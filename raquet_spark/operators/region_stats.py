"""Region analytics: aggregate statistics over a bbox at a resolution
(reference ST_RegionStats semantics, format-specs/raquet.md:310-316).

Runs entirely on per-tile statistics columns — zero pixel decode. The
bbox becomes a handful of contiguous Morton ``block`` ranges computed on
the driver, so the predicate pushes down to parquet row-group pruning on
the block-sorted files. Resolution accepts int / 'auto' / 'min' / 'max'
with spec clamping.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from raquet_spark.operators.tile_stats import aggregate_band_stats
from raquet_spark.sources.raquet import filter_blocks_bbox


def resolve_resolution(
    resolution: int | str, metadata: dict, bbox: tuple[float, float, float, float] | None = None
) -> int:
    t = metadata["tiling"]
    lo, hi = t["min_zoom"], t["max_zoom"]
    if resolution == "min":
        return lo
    if resolution == "max":
        return hi
    if resolution == "auto":
        if not bbox:
            return hi
        # pick the zoom where the bbox spans ~O(100) tiles
        west, south, east, north = bbox
        span = max(east - west, north - south, 1e-9)
        z = int(math.log2(360.0 / span)) + 4
        return max(lo, min(hi, z))
    return max(lo, min(hi, int(resolution)))


def region_stats(
    tiles_with_stats: DataFrame,
    metadata: dict,
    bbox: tuple[float, float, float, float],
    band: str = "band_1",
    resolution: int | str = "max",
) -> DataFrame:
    """One-row DataFrame: count/min/max/sum/mean/stddev over tiles
    intersecting ``bbox`` at the resolved zoom."""
    z = resolve_resolution(resolution, metadata, bbox)
    west, south, east, north = bbox
    sel = filter_blocks_bbox(tiles_with_stats, west, south, east, north, z)
    return aggregate_band_stats(sel, band)


def region_stats_polygon(
    tiles_with_stats: DataFrame,
    metadata: dict,
    polygon_lonlat: list[tuple[float, float]],
    band: str = "band_1",
    resolution: int | str = "max",
) -> DataFrame:
    """Exact pixel-masked statistics within an arbitrary polygon —
    reference benchmark Query A semantics (ST_RegionStats over
    read_raquet(file, polygon, zoom), scripts/benchmark.py:114-131).

    Plan, cheapest tier first:
    1. **Prune**: polygon bbox → contiguous Morton block ranges pushed
       to the parquet scan (row-group pruning) — at 100 TB only the
       tiles near the polygon are ever read.
    2. **Classify + mask in ONE Arrow pass**: per tile (numpy,
       vectorized over the batch): Morton-decode block → (tx, ty), test
       the 4 tile corners against the polygon (driver-computed
       Mercator-fraction vertex constants). Fully-interior tiles emit
       their precomputed stats columns — zero pixel decode; only
       boundary tiles are decoded and pixel-center-masked. Per-tile
       work, embarrassingly parallel, no shuffle until the final
       six-column pooled aggregation.

    (Classification is deliberately NOT a Catalyst expression: the
    Morton squash would be re-inlined into every corner-test reference,
    exploding codegen; per-tile numpy in the already-required Arrow
    pass is strictly cheaper.)
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from raquet_spark.core.metadata import parse_nodata
    from raquet_spark.functions import geom
    from raquet_spark.functions.bands import decode_block
    from raquet_spark.functions.quadbin import np_cells_to_tiles
    from raquet_spark.operators.tile_stats import tile_stats_arrays
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(tiles_with_stats.sparkSession)

    z = resolve_resolution(resolution, metadata, None)
    polygon_lonlat = geom.coerce_polygon(polygon_lonlat)
    bbox = geom.poly_bbox_lonlat(polygon_lonlat)
    verts = geom.poly_to_fractions(polygon_lonlat)
    m = float(1 << z)
    bs = metadata["tiling"]["block_width"]
    n_px = float((1 << z) * bs)

    stat_names = ("count", "min", "max", "sum", "mean", "stddev")
    stat_cols = [f"{band}_{s}" for s in stat_names]
    cand = filter_blocks_bbox(tiles_with_stats, *bbox, z).select(
        "block", band, *stat_cols
    )

    btype = next(b["type"] for b in metadata["bands"] if b["name"] == band)
    nodata = parse_nodata(
        next(b.get("nodata") for b in metadata["bands"] if b["name"] == band)
    )

    vx_arr = np.array([v[0] for v in verts])
    vy_arr = np.array([v[1] for v in verts])

    def classify_and_mask(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {f"{band}_{s}": pd.Series(dtype="float64")
                     for s in stat_names}
                )
                continue
            # classify the WHOLE batch in one vectorized pass (r15:
            # the per-tile corner loop was the line's measured floor):
            # Morton-decode every block at once, then ONE
            # point_in_poly_np call over all 4N tile corners
            tx, ty, _ = np_cells_to_tiles(
                pdf["block"].to_numpy(dtype=np.int64)
            )
            x0, x1 = tx / m, (tx + 1) / m
            y0, y1 = ty / m, (ty + 1) / m
            corners_in = geom.point_in_poly_np(
                np.stack([x0, x0, x1, x1]),
                np.stack([y0, y1, y0, y1]),
                verts,
            ).all(axis=0)
            vert_in_tile = (
                (x0[:, None] <= vx_arr) & (vx_arr <= x1[:, None])
                & (y0[:, None] <= vy_arr) & (vy_arr <= y1[:, None])
            ).any(axis=1)
            interior = corners_in & ~vert_in_tile

            out = {s: np.full(n, np.nan) for s in stat_names}
            # interior tiles: stats columns verbatim, no decode; a tile
            # with no write-time stats (NaN count) stays an all-null row
            stats_np = {
                s: pdf[f"{band}_{s}"].to_numpy(dtype="float64",
                                               na_value=np.nan)
                for s in stat_names
            }
            ivalid = interior & ~np.isnan(stats_np["count"])
            for s in stat_names:
                out[s][ivalid] = stats_np[s][ivalid]
            # boundary tiles: per-tile pixel decode + center mask —
            # unavoidable per-tile work, now only on the boundary set
            blobs = pdf[band]
            for i in np.nonzero(~interior)[0]:
                blob = blobs.iloc[int(i)]
                if blob is None:
                    continue
                vals = decode_block(blob, btype).reshape(bs, bs)
                txv, tyv = int(tx[i]), int(ty[i])
                gx = np.arange(txv * bs, (txv + 1) * bs, dtype=np.float64)
                gy = np.arange(tyv * bs, (tyv + 1) * bs, dtype=np.float64)
                px, py = np.meshgrid((gx + 0.5) / n_px, (gy + 0.5) / n_px)
                mask = geom.point_in_poly_np(px, py, verts)
                if mask.any():
                    st = tile_stats_arrays(vals[mask], nodata)
                    if st is not None:
                        for s in stat_names:
                            out[s][i] = st[s]
            res = pd.DataFrame({f"{band}_{s}": out[s] for s in stat_names})
            res[f"{band}_count"] = res[f"{band}_count"].astype("Int64")
            yield res

    schema = ", ".join(
        f"{band}_{s} {'bigint' if s == 'count' else 'double'}" for s in stat_names
    )
    per_tile = cand.mapInPandas(classify_and_mask, schema=schema)
    return aggregate_band_stats(per_tile, band)


def zonal_stats(
    tiles_with_stats: DataFrame,
    metadata: dict,
    zones: list[tuple[str, tuple[float, float, float, float]]],
    band: str = "band_1",
    resolution: int | str = "max",
) -> DataFrame:
    """Per-zone statistics for many regions in ONE pass (the multi-AOI
    generalization of ``region_stats`` — reference ST_RegionStats runs
    once per region, format-specs/raquet.md:310-316; here N zones cost
    one scan + one tiny shuffle).

    Plan: each zone's bbox cover is enumerated driver-side into quadbin
    cells (cheap — covers are small at the query zoom), the (zone, block)
    mapping becomes a broadcast dimension table, and the fact scan joins
    it on ``block`` — so tiles prune via the overall Morton block ranges,
    the join is broadcast (no fact shuffle), and the only shuffle is the
    final per-zone six-column aggregation, O(zones) rows. A tile spanning
    two zones contributes to both (bbox-intersection semantics, matching
    region_stats per zone)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from raquet_spark.functions import quadbin as qb_fns

    spark = tiles_with_stats.sparkSession
    zone_ids: list[str] = []
    blocks: list[int] = []
    all_cells: set[int] = set()
    for zone_id, (west, south, east, north) in zones:
        z = resolve_resolution(resolution, metadata, (west, south, east, north))
        cells = qb_fns.py_bbox_to_cells(west, south, east, north, z)
        all_cells.update(cells)
        # ids normalized to string: the column is typed by the schema
        zone_ids.extend([str(zone_id)] * len(cells))
        blocks.extend(int(c) for c in cells)
    # the (zone, block) map is driver-known and usually tiny (bbox
    # covers at the query zoom): it enters the plan through Arrow as a
    # JVM LocalRelation — no Python worker at execution, any size, and
    # an empty zone set is just an empty relation
    zone_map = spark.createDataFrame(
        pa.table({
            "zone_id": pa.array(zone_ids, pa.string()),
            "block": pa.array(blocks, pa.int64()),
        }),
        "zone_id string, block bigint",
    )

    # prune the fact scan to the union cover before the broadcast join
    lo, hi = (min(all_cells), max(all_cells)) if all_cells else (0, -1)
    sel = tiles_with_stats.where(F.col("block").between(lo, hi))
    joined = sel.join(F.broadcast(zone_map), "block")

    cnt, mn, mx, sm, mean, sd = (
        F.col(f"{band}_{s}") for s in ("count", "min", "max", "sum", "mean", "stddev")
    )
    # pooled stddev from per-tile moments: E[x^2] via stddev & mean
    sumsq = (sd * sd + mean * mean) * cnt
    return (
        joined.groupBy("zone_id")
        .agg(
            F.sum(cnt).alias("count"),
            F.min(mn).alias("min"),
            F.max(mx).alias("max"),
            F.sum(sm).alias("sum"),
            F.sum(sumsq).alias("_sumsq"),
        )
        .select(
            "zone_id",
            "count",
            "min",
            "max",
            "sum",
            (F.col("sum") / F.col("count")).alias("mean"),
            F.sqrt(
                F.greatest(
                    F.col("_sumsq") / F.col("count")
                    - (F.col("sum") / F.col("count")) ** 2,
                    F.lit(0.0),
                )
            ).alias("stddev"),
        )
    )


def suitable_cells(
    tiles_with_stats: DataFrame,
    metadata: dict,
    bbox: tuple[float, float, float, float],
    band: str = "band_1",
    threshold: float = 3.0,
    resolution: int | str = "max",
) -> DataFrame:
    """Site-suitability count: cells in ``bbox`` whose per-tile mean is
    below ``threshold`` (reference benchmark Query B,
    scripts/benchmark.py:158-199 — `count(*) FILTER (mean < t)` over
    `read_raquet(file, area, zoom)`).

    Pure stats-column aggregation: the bbox becomes Morton block ranges
    (parquet row-group pruning) and no pixel is decoded, so at 100 TB
    this scans six DOUBLE columns of the pruned tiles only."""
    from pyspark.sql import functions as F

    z = resolve_resolution(resolution, metadata, bbox)
    west, south, east, north = bbox
    sel = filter_blocks_bbox(tiles_with_stats, west, south, east, north, z)
    mean = F.col(f"{band}_mean")
    agg = sel.agg(
        F.count(F.lit(1)).alias("total_cells"),
        F.count(F.when(mean < threshold, 1)).alias("suitable_cells"),
    )
    return agg.select(
        "total_cells",
        "suitable_cells",
        F.round(F.col("suitable_cells") * 100.0 / F.col("total_cells"), 1).alias(
            "pct_suitable"
        ),
    )


def suitable_cells_detail(
    tiles_with_stats: DataFrame,
    metadata: dict,
    bbox: tuple[float, float, float, float],
    band: str = "band_1",
    threshold: float = 3.0,
    limit: int = 20,
    resolution: int | str = "max",
) -> DataFrame:
    """Top-N most suitable cells with their stats (reference benchmark
    Query B detail, scripts/benchmark.py:205-253). Deterministic order:
    mean ascending, then block."""
    from pyspark.sql import functions as F

    z = resolve_resolution(resolution, metadata, bbox)
    west, south, east, north = bbox
    sel = filter_blocks_bbox(tiles_with_stats, west, south, east, north, z)
    mean = F.col(f"{band}_mean")
    cnt = F.col(f"{band}_count")
    return (
        sel.where((mean < threshold) & (cnt > 0))
        .select(
            "block",
            F.round(mean, 6).alias("mean_val"),
            F.col(f"{band}_max").alias("max_val"),
            cnt.alias("pixel_count"),
        )
        .orderBy(F.col("mean_val").asc(), F.col("block").asc())
        .limit(limit)
    )


def clip_to_polygon(
    tiles: DataFrame,
    metadata: dict,
    polygon_lonlat: list[tuple[float, float]],
    band: str = "band_1",
    resolution: int | str = "max",
) -> DataFrame:
    """ST_Clip parity (reference engines.md: "Extract pixels within a
    geometry"): returns (block, band) tiles with pixels outside the
    polygon set to nodata (NaN for nodata-less float bands); tiles
    fully outside are dropped, fully-interior tiles pass through
    WITHOUT decode (blob reuse), only boundary tiles are re-encoded.
    Same tiered plan as region_stats_polygon: Morton bbox prune →
    one Arrow classify/mask pass, no shuffle at all."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from raquet_spark.core.metadata import parse_nodata
    from raquet_spark.functions import geom
    from raquet_spark.functions.bands import decode_block, encode_block
    from raquet_spark.functions.quadbin import py_cell_to_tile
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(tiles.sparkSession)
    z = resolve_resolution(resolution, metadata, None)
    polygon_lonlat = geom.coerce_polygon(polygon_lonlat)
    bbox = geom.poly_bbox_lonlat(polygon_lonlat)
    verts = geom.poly_to_fractions(polygon_lonlat)
    m = float(1 << z)
    bs = metadata["tiling"]["block_width"]
    n_px = float((1 << z) * bs)
    bm = next(b for b in metadata["bands"] if b["name"] == band)
    btype = bm["type"]
    nodata = parse_nodata(bm.get("nodata"))
    dt = np.dtype({"uint8": "u1", "int8": "i1", "uint16": "u2", "int16": "i2",
                   "uint32": "u4", "int32": "i4", "uint64": "u8", "int64": "i8",
                   "float32": "f4", "float64": "f8"}[btype])
    if nodata is None and dt.kind != "f":
        raise ValueError("clip requires a nodata value for integer bands")
    fill = nodata if nodata is not None else np.nan
    compression = metadata.get("compression", "gzip")

    cand = filter_blocks_bbox(tiles, *bbox, z).select("block", band)

    def clip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_block, out_blob = [], []
            for blob, block in zip(pdf[band], pdf["block"]):
                if blob is None:
                    continue
                txv, tyv, _ = py_cell_to_tile(int(block))
                cx = [txv / m, (txv + 1) / m]
                cy = [tyv / m, (tyv + 1) / m]
                corners = geom.point_in_poly_np(
                    np.array([cx[0], cx[0], cx[1], cx[1]]),
                    np.array([cy[0], cy[1], cy[0], cy[1]]), verts,
                )
                vert_in_tile = any(
                    cx[0] <= vx <= cx[1] and cy[0] <= vy <= cy[1]
                    for vx, vy in verts
                )
                if corners.all() and not vert_in_tile:
                    out_block.append(block)
                    out_blob.append(blob)  # interior: untouched, no decode
                    continue
                vals = decode_block(blob, btype).reshape(bs, bs)
                gx = np.arange(txv * bs, (txv + 1) * bs, dtype=np.float64)
                gy = np.arange(tyv * bs, (tyv + 1) * bs, dtype=np.float64)
                px, py = np.meshgrid((gx + 0.5) / n_px, (gy + 0.5) / n_px)
                mask = geom.point_in_poly_np(px, py, verts)
                if not mask.any():
                    continue  # fully outside: drop
                clipped = np.where(mask, vals, np.asarray(fill, dtype=dt))
                out_block.append(block)
                out_blob.append(encode_block(
                    clipped.astype(dt).reshape(-1), btype, compression))
            yield pd.DataFrame({"block": out_block, band: out_blob})

    return cand.mapInPandas(clip, schema=f"block bigint, {band} binary")


def vector_zonal_stats(
    tiles: DataFrame,
    metadata: dict,
    zones: DataFrame,
    band: str = "band_1",
) -> DataFrame:
    """Pixel-exact zonal statistics against a VECTOR zone table (the
    classic GIS workflow: rasterize the zones onto the raster's own
    grid, then aggregate per zone) — the polygon-precise upgrade of
    :func:`zonal_stats`' bbox semantics.

    ``zones`` rows carry ``feature_id``, ``polygon``
    (array<struct<lon,lat>>) and ``value`` (the numeric zone id; later
    features win overlaps, matching rasterize semantics). Plan: the
    zone layer rasterizes with work ∝ its own tile cover, joins the
    raster on ``block`` (inner — raster tiles outside every zone are
    pruned before decode), one Arrow pass emits per-(tile, zone)
    partial stats, and the only remaining shuffle is the O(zones)
    final aggregation."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import parse_nodata
    from raquet_spark.functions.bands import DTYPES, decode_block
    from raquet_spark.operators.tiling import rasterize_features
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(tiles.sparkSession)
    t = metadata["tiling"]
    bw, bh = t["block_width"], t["block_height"]
    binfo = {b["name"]: b for b in metadata["bands"]}
    btype = binfo[band]["type"]
    nodata = parse_nodata(binfo[band].get("nodata"))

    zone_tiles, _zmeta = rasterize_features(
        zones, zoom=t["max_zoom"], block_size=bw, block_height=bh,
        band_type="float64", nodata=0.0, compression=None,
    )
    joined = tiles.where(F.col("block") != 0).select(
        "block", F.col(band).alias("_v")
    ).join(zone_tiles.withColumnRenamed("band_1", "_z"), "block")

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"zone": [], "n": [], "s": [], "mn": [], "mx": []}
            for row in pdf.to_dict("records"):
                vals = decode_block(row["_v"], btype).astype("f8")
                zarr = decode_block(row["_z"], "float64")
                good = np.isfinite(vals)
                if nodata is not None and not (
                    isinstance(nodata, float) and np.isnan(nodata)
                ):
                    good &= vals != nodata
                for zid in np.unique(zarr[(zarr != 0) & good]):
                    m = (zarr == zid) & good
                    out["zone"].append(float(zid))
                    out["n"].append(int(m.sum()))
                    out["s"].append(float(vals[m].sum()))
                    out["mn"].append(float(vals[m].min()))
                    out["mx"].append(float(vals[m].max()))
            yield pd.DataFrame(out)

    part = joined.mapInPandas(
        partials,
        schema="zone double, n bigint, s double, mn double, mx double",
    )
    return part.groupBy("zone").agg(
        F.expr("CAST(SUM(n) AS BIGINT)").alias("n_pixels"),
        F.expr("SUM(s)").alias("value_sum"),
        F.expr("MIN(mn)").alias("value_min"),
        F.expr("MAX(mx)").alias("value_max"),
    )
