"""Tiling: dense pixel rows → RaQuet tile rows — the core conversion
the reference does single-node with GDAL windowed reads
(/root/reference/raquet/raster2raquet.py: read_raster → tile loop →
encode). Spark-first: the pixel table is shuffled ONCE keyed by the
target quadbin block, and each tile is assembled and encoded inside an
Arrow-batched applyInPandas — 1000 executors tile 1000 blocks at a time,
no driver involvement.

Input contract: (gx, gy, <band>...) global pixel coordinates at the
native zoom's pixel grid (what operators/export.to_pixel_table emits) —
any raster source that can be read as a distributed pixel table
(parquet, JDBC, CSV of samples) becomes a RaQuet dataset this way.
Missing pixels of a partially-covered tile become nodata.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raquet_spark.core.metadata import parse_nodata
from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import DTYPES, encode_block
from raquet_spark.plans.shape import pin_group_width


def from_pixel_table(
    pixels: DataFrame,
    metadata: dict,
    compression: str | None = "gzip",
    extra_keys: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """(gx, gy, band...) rows → (block, band...) tile rows.

    The block key is computed as a pure Column expression (gx / block
    size → tile x/y → Morton cell), so the single shuffle is an ordinary
    hash partition on ``block`` with map-side batching.

    ``extra_keys`` — extra ``(column, sql_type)`` group keys carried
    through (e.g. ``(("time_cf", "double"),)`` for time-dimension
    rasters): ONE shuffle assembles every (tile, step) pair.

    Shuffle-row diet (r17, guide §2.3 "shuffle fewer bytes"): the
    assembly only needs each pixel's IN-TILE offset and its value in
    the band's storage dtype, so both are computed BEFORE the
    exchange — (gx, gy) int64 pairs become one int32 ``_off`` (−12
    bytes/row) and float32 bands are narrowed to FLOAT (−4 bytes/row;
    exact: Spark's CAST AS FLOAT and numpy's astype are the same IEEE
    round-to-nearest, and the old path performed the identical
    narrowing inside ``assemble``). Integer bands keep their incoming
    width: a double→int cast moved into Spark would change NaN
    semantics (numpy C-cast vs Spark's NULL/0), so only the provably
    bit-identical narrowing ships.

    The importers' warp reaches this assembly only for sources past
    the broadcast class (``tiff_reader.warp_tiles``); smaller ones
    build their tiles in the per-tile kernel instead."""
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(pixels.sparkSession)
    t = metadata["tiling"]
    z, bw, bh = t["max_zoom"], t["block_width"], t["block_height"]
    bands = [
        (b["name"], b["type"], parse_nodata(b.get("nodata")))
        for b in metadata["bands"]
    ]

    tx = f"CAST(gx DIV {bw} AS BIGINT)"
    ty = f"CAST(gy DIV {bh} AS BIGINT)"
    extra_names = [n for n, _ in extra_keys]
    band_projs = [
        f"CAST({name} AS FLOAT) AS {name}" if btype == "float32" else name
        for name, btype, _ in bands
    ]
    keyed = pixels.withColumn(
        "block", F.expr(qb.tile_to_cell_sql(tx, ty, z, "spark"))
    ).selectExpr(
        "block",
        *extra_names,
        f"CAST((gy % {bh}) * {bw} + (gx % {bw}) AS INT) AS _off",
        *band_projs,
    )

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        block = key[0]
        off = pdf["_off"].to_numpy(dtype=np.int64)
        out = {"block": [block]}
        for name, kv in zip(extra_names, key[1:]):
            out[name] = [kv]
        for name, btype, nodata in bands:
            fill = 0 if nodata is None else nodata
            arr = np.full(bh * bw, fill, dtype=DTYPES[btype])
            vals = pdf[name].to_numpy()
            arr[off] = vals.astype(DTYPES[btype])
            out[name] = [encode_block(arr, btype, compression)]
        return pd.DataFrame(out)

    schema = "block bigint, " + ", ".join(
        [f"{n} {typ}" for n, typ in extra_keys]
        + [f"{name} binary" for name, _, _ in bands]
    )

    keyed = pin_group_width(
        keyed, "block", *extra_names,
        approx_pixels=metadata["width"] * metadata["height"] * len(bands),
    )
    return keyed.groupBy("block", *extra_names).applyInPandas(assemble, schema=schema)


def rasterize_polygon(
    spark,
    polygon_lonlat: list[tuple[float, float]],
    zoom: int,
    block_size: int = 256,
    burn_value: float = 1.0,
    band_type: str = "uint8",
    nodata: float = 0.0,
    compression: str | None = "gzip",
):
    """Burn a polygon into a new RaQuet tile table (the GDAL
    ``rasterize`` direction of raster↔vector interop; ``clip_to_polygon``
    is the other). A pixel takes ``burn_value`` when its CENTER falls
    inside the polygon (even-odd rule — the same vectorized test
    region_stats/clip use), else ``nodata``; tiles with no interior
    pixel are dropped.

    Scale shape: the candidate tile grid comes from the polygon's bbox
    (never the world), is generated distributed with ``spark.range``,
    and each task rasterizes its tiles in one vectorized numpy pass —
    map-only, no shuffle, output already keyed by block. Returns
    ``(tiles_df, metadata)``.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions import geom
    from raquet_spark.functions.bands import encode_block
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    import math as _math

    polygon_lonlat = geom.coerce_polygon(polygon_lonlat)
    verts = geom.poly_to_fractions(polygon_lonlat)
    fx = [v[0] for v in verts]
    fy = [v[1] for v in verts]
    n = 1 << zoom
    # floor (not int(): truncation is wrong for negatives) and clamp
    # BOTH ends — vertices past the Web-Mercator range must not produce
    # negative tile coordinates / garbage quadbin ids
    x0 = min(max(_math.floor(min(fx) * n), 0), n - 1)
    x1 = min(max(_math.floor(max(fx) * n), 0), n - 1)
    y0 = min(max(_math.floor(min(fy) * n), 0), n - 1)
    y1 = min(max(_math.floor(max(fy) * n), 0), n - 1)
    nx = x1 - x0 + 1

    cand = spark.range((x1 - x0 + 1) * (y1 - y0 + 1)).selectExpr(
        f"{x0} + id % {nx} AS tx", f"{y0} + id DIV {nx} AS ty"
    )
    bw = bh = block_size
    npix_x, npix_y = n * bw, n * bh  # global pixel grid at this zoom

    def burn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        px_local = (np.arange(bw) + 0.5) / npix_x
        py_local = (np.arange(bh) + 0.5) / npix_y
        for pdf in batches:
            blocks, blobs = [], []
            for row in pdf.to_dict("records"):
                tx, ty = int(row["tx"]), int(row["ty"])
                cx = tx * bw / npix_x + px_local  # pixel-center fractions
                cy = ty * bh / npix_y + py_local
                gx, gy = np.meshgrid(cx, cy)
                inside = geom.point_in_poly_np(gx, gy, verts)
                if not inside.any():
                    continue
                arr = np.where(inside, burn_value, nodata)
                blocks.append(qb.py_tile_to_cell(tx, ty, zoom))
                blobs.append(
                    encode_block(arr.reshape(-1), band_type, compression)
                )
            yield pd.DataFrame({"block": blocks, "band_1": blobs})

    tiles = cand.mapInPandas(burn, schema="block bigint, band_1 binary")
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type=band_type, nodata=nodata)],
        bounds=geom.poly_bbox_lonlat(polygon_lonlat),
        width=(x1 - x0 + 1) * bw,
        height=(y1 - y0 + 1) * bh,
        block_width=bw,
        block_height=bh,
        min_zoom=zoom,
        max_zoom=zoom,
        compression=compression,
    )
    return tiles, meta


def rasterize_features(
    features: DataFrame,
    zoom: int,
    block_size: int = 256,
    band_type: str = "float32",
    nodata: float = 0.0,
    compression: str | None = "gzip",
    block_height: int | None = None,
):
    """Distributed vector-TABLE rasterization (the full GDAL
    ``rasterize`` workload): every row of ``features`` carries a
    polygon (``array<struct<lon double, lat double>>``) and a ``value``
    to burn; later features (higher ``feature_id``) paint over earlier
    ones where they overlap, pixels covered by nothing stay ``nodata``.

    Scale shape: each feature explodes to ONLY the tiles its own bbox
    covers (a per-feature cover set, never the global grid), the
    (feature, tile) pairs shuffle once on the block key, and each group
    burns its features in one vectorized numpy pass in painter's order.
    Work is proportional to Σ per-feature covered tiles — a million
    small polygons cost a million-ish tile-feature pairs, not a
    world-sized raster. Returns ``(tiles_df, metadata)``.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.functions import geom
    from raquet_spark.functions.bands import encode_block
    from raquet_spark.session import ensure_package_shipped

    spark = features.sparkSession
    ensure_package_shipped(spark)
    n = 1 << zoom
    bw = block_size
    bh = block_height if block_height is not None else block_size
    npix_x, npix_y = n * bw, n * bh

    # per-feature Mercator-fraction vertices + bbox tile cover, all as
    # Column expressions (merc y via the same log formula the python
    # helper uses)
    fx = "transform(polygon, p -> p.lon / 360.0 + CAST(0.5 AS DOUBLE))"
    fy = (
        "transform(polygon, p -> CAST(0.5 AS DOUBLE) - CAST(0.25 AS DOUBLE) * "
        "ln((CAST(1.0 AS DOUBLE) + sin(radians(p.lat))) / "
        "(CAST(1.0 AS DOUBLE) - sin(radians(p.lat)))) / pi())"
    )
    withf = (
        features.withColumn("_fx", F.expr(fx))
        .withColumn("_fy", F.expr(fy))
        .withColumn("_tx0", F.expr(
            f"GREATEST(CAST(floor(array_min(_fx) * {n}) AS BIGINT), 0)"))
        .withColumn("_tx1", F.expr(
            f"LEAST(GREATEST(CAST(floor(array_max(_fx) * {n}) AS BIGINT), 0), {n - 1})"))
        .withColumn("_ty0", F.expr(
            f"GREATEST(CAST(floor(array_min(_fy) * {n}) AS BIGINT), 0)"))
        .withColumn("_ty1", F.expr(
            f"LEAST(GREATEST(CAST(floor(array_max(_fy) * {n}) AS BIGINT), 0), {n - 1})"))
        # symmetric clamp of the lower corners too: a feature entirely
        # outside the range degenerates to one border tile whose burn
        # finds no interior pixels (and is dropped), instead of a
        # descending sequence() fabricating tiles
        .withColumn("_tx0", F.expr(f"LEAST(_tx0, {n - 1})"))
        .withColumn("_ty0", F.expr(f"LEAST(_ty0, {n - 1})"))
    )
    pairs = withf.select(
        "feature_id",
        "value",
        "_fx",
        "_fy",
        F.explode(F.expr("sequence(_tx0, _tx1)")).alias("tx"),
        F.expr("sequence(_ty0, _ty1)").alias("_tys"),
    ).select(
        "feature_id", "value", "_fx", "_fy", "tx",
        F.explode("_tys").alias("ty"),
    ).withColumn(
        "block", F.expr(qb.tile_to_cell_sql("tx", "ty", zoom, "spark"))
    )

    def burn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        block = int(key[0])
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        px = (np.arange(bw) + 0.5) / npix_x
        py = (np.arange(bh) + 0.5) / npix_y
        gx, gy = np.meshgrid(tx * bw / npix_x + px, ty * bh / npix_y + py)
        arr = np.full((bh, bw), nodata, dtype="f8")
        hit = False
        for row in pdf.sort_values("feature_id").to_dict("records"):
            verts = list(zip(row["_fx"], row["_fy"]))
            if verts and verts[0] == verts[-1]:
                verts = verts[:-1]
            inside = geom.point_in_poly_np(gx, gy, verts)
            if inside.any():
                arr[inside] = row["value"]
                hit = True
        if not hit:
            return pd.DataFrame({"block": pd.Series([], dtype="int64"),
                                 "band_1": pd.Series([], dtype=object)})
        return pd.DataFrame({
            "block": [block],
            "band_1": [encode_block(arr.reshape(-1), band_type, compression)],
        })

    # no width pin here: the burn input's bytes are the polygon
    # vertices — the actual work driver — so AQE's byte-based sizing is
    # the right heuristic, and a blanket pin makes small batches (e.g.
    # stream_rasterize micro-batches) pay full-width task overhead for
    # microseconds of burn (see plans/shape.py)
    tiles = pairs.groupBy("block").applyInPandas(
        burn, schema="block bigint, band_1 binary"
    )
    # metadata reflects the actual feature extent, not the world grid
    # (one tiny aggregation over per-feature bboxes)
    ext = withf.agg(
        F.expr("min(array_min(_fx))"),
        F.expr("min(array_min(_fy))"),
        F.expr("max(array_max(_fx))"),
        F.expr("max(array_max(_fy))"),
        F.expr(f"min(_tx0)"),
        F.expr(f"max(_tx1)"),
        F.expr(f"min(_ty0)"),
        F.expr(f"max(_ty1)"),
    ).first()
    fx0, fy0, fx1, fy1, tx0, tx1, ty0, ty1 = (
        (0.0, 0.0, 1.0, 1.0, 0, n - 1, 0, n - 1)
        if ext[0] is None
        else tuple(ext)
    )
    w0, s1 = geom.inv_merc_fraction(float(fx0), float(fy1))
    e1, n0 = geom.inv_merc_fraction(float(fx1), float(fy0))
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type=band_type, nodata=nodata)],
        bounds=(w0, s1, e1, n0),
        width=(int(tx1) - int(tx0) + 1) * bw,
        height=(int(ty1) - int(ty0) + 1) * bh,
        block_width=bw,
        block_height=bh,
        min_zoom=zoom,
        max_zoom=zoom,
        compression=compression,
    )
    return tiles, meta
