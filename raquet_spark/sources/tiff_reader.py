"""Real-world GeoTIFF ingestion: the reference's primary input path
(/root/reference/raquet/raster2raquet.py reads GeoTIFF with GDAL, warps
to EPSG:3857, tiles, and writes RaQuet), re-expressed without GDAL.

Three layers:

1. ``read_tiff_structure`` — driver-side parse of the IFD only (tags,
   segment offsets, geotransform, CRS from GeoKeys). No pixel bytes are
   touched; this is the planning step.
2. ``tiff_pixel_table`` — DISTRIBUTED pixel decode: the strip/tile
   segment list is parallelized, each executor reads + inflates its
   byte ranges (zlib for compression 8) and emits (sx, sy, band...)
   source-grid pixel rows. The file must be on storage all executors
   can reach (shared FS / object store), the same contract GDAL's
   windowed reads have on a cluster.
3. ``geotiff_to_raquet`` — warp to the web-mercator tile grid with
   GDAL's inverse-mapping semantics: each TARGET pixel center maps in
   closed form (Snyder forward projections for projected CRS) to
   fractional source coordinates, sampled ``near``/``bilinear``/
   ``cubic`` through ``warp_tiles`` — the one route, shared with the
   NetCDF and GRIB importers, whose two size classes it documents.
   The reducing kernels (average/mode/…) forward-map every source
   sample and reduce per target pixel instead. The target zoom keeps
   the mercator resolution at the raster's center latitude at least
   as fine as the source, matching the reference's zoom autoselect
   intent (raster2raquet.py find_zoom).

Supported: classic AND BigTIFF, little- ("II") and big-endian ("MM"),
strip or tile layout, compression none/LZW/deflate/PackBits
(+ horizontal predictor), 1..N samples (pixel-interleaved),
uint8..float64, palette (kept as indices with the colortable in
metadata, like the reference's colored.tif handling), CRS = EPSG:4326,
EPSG:3857, UTM zones, and user-defined Albers/LCC-2SP/sinusoidal from
GeoKeys (closed-form Snyder math both directions — no proj database in
this environment).
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raquet_spark.sources.lzw import lzw_decode, packbits_decode

from raquet_spark.core.metadata import BandMeta, build_metadata
from raquet_spark.sources.geotiff import read_ifd


def _jpeg_seg_decode(
    buf: bytes,
    jpeg_tables: bytes | None,
    n_bands: int,
    color_transform: bool = True,
) -> np.ndarray:
    """One JPEG-in-TIFF segment → (h, w, c) uint8. Per TIFF Tech Note 2
    the shared JPEGTables stream supplies table DEFAULTS, so it is
    always spliced in front (tables minus their EOI, segment minus its
    SOI) — a segment that carries its own DQT/DHT just redefines the
    table slots, which the decoder's last-definition-wins dict handles;
    gating the splice on a segment-local DQT would break spec-valid
    files whose DHT lives only in tag 347.

    ``color_transform=False`` for photometric=2 (RGB) files whose JPEG
    planes are stored untransformed; the channel count is checked
    against SamplesPerPixel so an inconsistent file fails with a typed
    error, not an IndexError in the band loop."""
    from raquet_spark.functions.jpeg import jpeg_decode

    buf = bytes(buf)
    if jpeg_tables:
        buf = bytes(jpeg_tables)[:-2] + buf[2:]
    arr = jpeg_decode(buf, color_transform=color_transform)
    arr = arr if arr.ndim == 3 else arr[:, :, None]
    if arr.shape[2] != n_bands:
        raise ValueError(
            f"JPEG segment decodes to {arr.shape[2]} channel(s) but the "
            f"TIFF declares SamplesPerPixel={n_bands}"
        )
    return arr

_EARTH_R = 6378137.0
_ORIGIN_SHIFT = math.pi * _EARTH_R

_KIND = {1: "u", 2: "i", 3: "f"}


def _geokeys(tags: dict[int, tuple]) -> dict[int, int | float | str]:
    """GeoKeyDirectory (34735) → {key_id: value}, dereferencing values
    stored in GeoDoubleParams (34736) / GeoAsciiParams (34737)."""
    raw = tags.get(34735)
    if not raw:
        return {}
    doubles = tags.get(34736, ())
    ascii_params = tags.get(34737, ("",))[0]
    out: dict[int, int | float | str] = {}
    for i in range(4, len(raw) - 3, 4):
        key_id, loc, cnt, val = raw[i : i + 4]
        if loc == 0:
            out[key_id] = val
        elif loc == 34736 and val < len(doubles):
            out[key_id] = doubles[val]
        elif loc == 34737:
            out[key_id] = ascii_params[val : val + cnt].rstrip("|")
    return out


# GeoKey ids for projection parameters (GeoTIFF spec §2.7)
_CT_TRANSVERSE_MERCATOR = 1
_CT_LCC_2SP = 8
_CT_ALBERS = 11
_CT_POLAR_STEREO = 15
_CT_SINUSOIDAL = 24

# coordinate-transform code → family name, for typed errors that name
# the PROJECTION FAMILY instead of an opaque code (GeoTIFF spec §6.3.3.3)
_CT_FAMILIES = {
    1: "Transverse Mercator", 2: "Modified Alaska TM",
    3: "Oblique Mercator", 4: "Oblique Mercator (Laborde)",
    5: "Swiss Oblique Cylindrical", 6: "Oblique Mercator (Spherical)",
    7: "Mercator", 8: "Lambert Conformal Conic 2SP",
    9: "Lambert Conformal Conic 1SP", 10: "Lambert Azimuthal Equal Area",
    11: "Albers Equal Area", 12: "Azimuthal Equidistant",
    13: "Equidistant Conic", 14: "Stereographic",
    15: "Polar Stereographic", 16: "Oblique Stereographic",
    17: "Equirectangular", 18: "Cassini-Soldner", 19: "Gnomonic",
    20: "Miller Cylindrical", 21: "Orthographic", 22: "Polyconic",
    23: "Robinson", 24: "Sinusoidal", 25: "VanDerGrinten",
    26: "New Zealand Map Grid", 27: "Transverse Mercator South Oriented",
    28: "Cylindrical Equal Area",
}

# common named projected EPSG codes with closed-form parameters (proj
# database is unavailable here; reference parity is GDAL's coverage)
_EPSG_PROJ: dict[int, dict] = {
    # NAD83 / Conus Albers (NLCD's published CRS); NAD83≈WGS84 (<2 m)
    5070: {"type": "aea", "sp1": 29.5, "sp2": 45.5, "lat0": 23.0,
           "lon0": -96.0, "fe": 0.0, "fn": 0.0,
           "a": 6378137.0, "inv_f": 298.257222101},
    # WGS84 / Antarctic Polar Stereographic
    3031: {"type": "ps", "lat_ts": -71.0, "lon0": 0.0, "fe": 0.0,
           "fn": 0.0, "a": 6378137.0, "inv_f": 298.257223563},
    # WGS84 / NSIDC Sea Ice Polar Stereographic North
    3413: {"type": "ps", "lat_ts": 70.0, "lon0": -45.0, "fe": 0.0,
           "fn": 0.0, "a": 6378137.0, "inv_f": 298.257223563},
    # RGF93 / Lambert-93 (France national grid; RGF93≈WGS84, GRS80)
    2154: {"type": "lcc", "sp1": 49.0, "sp2": 44.0, "lat0": 46.5,
           "lon0": 3.0, "fe": 700000.0, "fn": 6600000.0,
           "a": 6378137.0, "inv_f": 298.257222101},
    # ETRS89 / UTM zones 32-33N (central Europe; ETRS89≈WGS84, GRS80)
    25832: {"type": "tm", "lon0": 9.0, "lat0": 0.0, "k0": 0.9996,
            "fe": 500000.0, "fn": 0.0,
            "a": 6378137.0, "inv_f": 298.257222101},
    25833: {"type": "tm", "lon0": 15.0, "lat0": 0.0, "k0": 0.9996,
            "fe": 500000.0, "fn": 0.0,
            "a": 6378137.0, "inv_f": 298.257222101},
    # WGS84 / Universal Polar Stereographic N/S (variant A, scale at
    # the pole k0=0.994, FE=FN=2,000,000)
    32661: {"type": "ps", "lat_ts": 90.0, "k0": 0.994, "lon0": 0.0,
            "fe": 2000000.0, "fn": 2000000.0,
            "a": 6378137.0, "inv_f": 298.257223563},
    32761: {"type": "ps", "lat_ts": -90.0, "k0": 0.994, "lon0": 0.0,
            "fe": 2000000.0, "fn": 2000000.0,
            "a": 6378137.0, "inv_f": 298.257223563},
    # NSIDC EASE-Grid North/South use LAEA (unsupported family) — the
    # CT gate below names them if they appear user-defined
}

# geographic CRSs whose lon/lat are WGS84-compatible at raster-warp
# precision (NAD83 / ETRS89 deltas < 2 m; NAD27 is NOT in this set —
# its datum shift reaches ~100 m and needs a grid transform)
_GEOGRAPHIC_WGS84_COMPAT = {4326, 4269, 4258, 4619, 4617}


def _geokey_inv_f(inv_f) -> float:
    """GeogInvFlattening (GeoKey 2059) → inverse flattening. Key ABSENT
    means the writer omitted the ellipsoid → WGS84 default; an EXPLICIT
    0.0 is the GeoTIFF convention for a spherical ellipsoid and must
    NOT silently become WGS84 (it would shift every coordinate).
    Spheres are represented as inf so f = 1/inv_f = 0 and e² = 0 in the
    Snyder formulas downstream."""
    if inv_f is None:
        return 298.257223563
    v = float(inv_f)
    return float("inf") if v == 0.0 else v


def _projection(keys: dict) -> dict | None:
    """User-defined projected CRS → closed-form projection params.
    Albers Equal Area (the reference's NLCD raster), Lambert Conformal
    Conic 2SP, Transverse Mercator, Polar Stereographic, and
    Sinusoidal (spherical MODIS grid or ellipsoidal when
    GeogInvFlattening is present) are supported; the ellipsoid comes
    from GeogSemiMajorAxis/GeogInvFlattening. Anything else raises a
    typed error naming the projection FAMILY."""
    ct = keys.get(3075)
    a = float(keys.get(2057, 6378137.0))
    inv_f = keys.get(2059)
    if ct == _CT_SINUSOIDAL:
        if inv_f:
            return {
                "type": "sinu_ell",
                "lon0": float(keys.get(3080, 0.0)),
                "fe": float(keys.get(3082, 0.0)),
                "fn": float(keys.get(3083, 0.0)),
                "a": a,
                "inv_f": float(inv_f),
            }
        return {
            "type": "sinu",
            "lon0": float(keys.get(3080, 0.0)),
            "fe": float(keys.get(3082, 0.0)),
            "fn": float(keys.get(3083, 0.0)),
            # MODIS uses the authalic sphere; no inverse flattening
            "a": float(keys.get(2057, 6371007.181)),
        }
    if ct == _CT_POLAR_STEREO:
        lat_ts = keys.get(3078, keys.get(3081))
        if lat_ts is None:
            raise ValueError(
                "user-defined Polar Stereographic is missing its "
                "standard parallel (GeoKey 3078/3081)"
            )
        return {
            "type": "ps",
            "lat_ts": float(lat_ts),
            "lon0": float(keys.get(3095, keys.get(3080, 0.0))),
            "k0": float(keys.get(3092, 1.0)),
            "fe": float(keys.get(3082, 0.0)),
            "fn": float(keys.get(3083, 0.0)),
            "a": a,
            "inv_f": _geokey_inv_f(inv_f),
        }
    if ct == _CT_TRANSVERSE_MERCATOR:
        return {
            "type": "tm",
            "lon0": float(keys.get(3080, 0.0)),
            "lat0": float(keys.get(3081, 0.0)),
            "k0": float(keys.get(3092, 1.0)),
            "fe": float(keys.get(3082, 0.0)),
            "fn": float(keys.get(3083, 0.0)),
            "a": a,
            "inv_f": _geokey_inv_f(inv_f),
        }
    if ct not in (_CT_ALBERS, _CT_LCC_2SP):
        family = _CT_FAMILIES.get(ct, f"coordinate transform {ct}")
        raise NotImplementedError(
            f"projection family {family!r} has no closed-form inverse "
            "here (supported: TM/UTM, LCC-2SP, Albers, Polar "
            "Stereographic, Sinusoidal, Mercator, geographic)"
        )
    # A user-defined AEA/LCC without its standard parallels / origin
    # would silently warp to wrong coordinates under any default — fail
    # fast instead of guessing.
    missing = [k for k in (3078, 3079, 3081) if k not in keys]
    if missing:
        raise ValueError(
            f"user-defined projected CRS is missing GeoKeys {missing} "
            "(ProjStdParallel1/2, ProjNatOriginLat); cannot derive the "
            "projection parameters"
        )
    return {
        "type": "aea" if ct == _CT_ALBERS else "lcc",
        "sp1": float(keys[3078]),
        "sp2": float(keys[3079]),
        "lon0": float(keys.get(3080, 0.0)),
        "lat0": float(keys[3081]),
        "fe": float(keys.get(3082, 0.0)),
        "fn": float(keys.get(3083, 0.0)),
        "a": a,
        "inv_f": _geokey_inv_f(inv_f),
    }


def read_tiff_structure(path: str) -> dict:
    """Parse header/IFD only (classic or BigTIFF). Returns geometry,
    dtype, CRS, geotransform and the segment (strip or tile) layout.
    The file is mmap'd (or, for http(s) URLs, ranged — sources/io.py),
    not read: a multi-GB BigTIFF costs only the IFD
    pages here — pixel bytes are fetched per-segment by the executors."""
    from raquet_spark.sources.io import open_bytes

    raw = open_bytes(path)
    try:
        tags = read_ifd(raw)
    finally:
        if hasattr(raw, "close"):
            raw.close()

    width, height = tags[256][0], tags[257][0]
    spp = tags.get(277, (1,))[0]
    bits = tags.get(258, (8,) * spp)
    if len(set(bits)) != 1:
        raise ValueError(f"mixed bits-per-sample {bits}")
    fmt = tags.get(339, (1,) * spp)[0]
    en = tags.get(-1, ("<",))[0]  # byte order recorded by read_ifd
    dtype = np.dtype(f"{en}{_KIND[fmt]}{bits[0] // 8}")
    compression = tags.get(259, (1,))[0]
    if compression not in (1, 5, 7, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {compression} "
            "(only none/LZW/JPEG/deflate/PackBits supported)"
        )
    planar = tags.get(284, (1,))[0]  # 1 = chunky (BIP), 2 = band-separate
    photometric = tags.get(262, (1,))[0]
    if compression == 7:
        # new-style JPEG-in-TIFF (TIFF Tech Note 2): every segment is a
        # JPEG stream, optionally abbreviated against the shared
        # JPEGTables (tag 347) — the aerial-imagery GeoTIFF staple
        if bits[0] != 8:
            raise NotImplementedError("JPEG-in-TIFF requires 8-bit samples")
        if planar == 2:
            raise NotImplementedError("JPEG-in-TIFF with planar layout")
        # photometric decides the color transform: 6 (YCbCr) needs the
        # YCbCr→RGB step, 2 (RGB, e.g. GDAL PHOTOMETRIC=RGB) stores the
        # planes untransformed. Applying the transform to an RGB file
        # yields silently-wrong pixels, so anything else is a typed gate.
        if spp >= 3 and photometric not in (2, 6):
            raise NotImplementedError(
                f"JPEG-in-TIFF with PhotometricInterpretation="
                f"{photometric} for {spp} samples (only 2=RGB and "
                "6=YCbCr supported)"
            )

    tiled = 322 in tags
    if tiled:
        seg_w, seg_h = tags[322][0], tags[323][0]
        offsets, counts = tags[324], tags[325]
        segs_across = (width + seg_w - 1) // seg_w
    else:
        seg_w = width
        seg_h = tags.get(278, (height,))[0]
        offsets, counts = tags[273], tags[279]
        segs_across = 1

    # georeferencing: ModelPixelScale+Tiepoint or ModelTransformation
    if 33550 in tags and 33922 in tags:
        sx, sy = tags[33550][0], tags[33550][1]
        tp = tags[33922]
        # raster point (tp[0], tp[1]) maps to model (tp[3], tp[4])
        ox = tp[3] - tp[0] * sx
        oy = tp[4] + tp[1] * sy
        transform = (ox, sx, 0.0, oy, 0.0, -sy)
    elif 34264 in tags:
        m = tags[34264]
        transform = (m[3], m[0], m[1], m[7], m[4], m[5])
    else:
        transform = (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)

    keys = _geokeys(tags)
    model = keys.get(1024)  # 1 projected, 2 geographic
    epsg = None
    projection = None
    if model == 2:
        epsg = keys.get(2048)
        if epsg is not None and epsg != 32767:
            if epsg not in _GEOGRAPHIC_WGS84_COMPAT:
                raise NotImplementedError(
                    f"geographic CRS EPSG:{epsg} needs a datum shift "
                    "(only WGS84-compatible datums — WGS84/NAD83/ETRS89 "
                    "— are treated as lon/lat here; NAD27-class shifts "
                    "reach ~100 m and need a grid transform)"
                )
            # NAD83/ETRS89 lon-lat ≡ WGS84 at raster-warp precision
            epsg = 4326
    elif model == 1:
        epsg = keys.get(3072)
        if epsg == 32767:  # user-defined: read the projection params
            projection = _projection(keys)
    if epsg is None and projection is None:
        # no CRS keys → WGS84, the reference's default
        # (imageserver.py test_default_to_wgs84)
        epsg = 4326
    nodata = tags.get(42113)
    palette = None
    if 320 in tags:
        cm = tags[320]
        n = len(cm) // 3
        nd_idx = int(float(nodata[0])) if nodata else None
        palette = {
            str(i): [
                cm[i] // 257,
                cm[n + i] // 257,
                cm[2 * n + i] // 257,
                # the nodata index renders transparent (GDAL colortable
                # convention the reference metadata records)
                0 if i == nd_idx else 255,
            ]
            for i in range(n)
        }

    return {
        "path": path,
        "width": width,
        "height": height,
        "n_bands": spp,
        "dtype": str(dtype),
        "sample_format": fmt,
        "compression": compression,
        "jpeg_tables": bytes(tags[347]) if 347 in tags else None,
        "predictor": tags.get(317, (1,))[0],
        "tiled": tiled,
        "planar": planar,
        "seg_width": seg_w,
        "seg_height": seg_h,
        "segs_across": segs_across,
        "segments": list(zip(offsets, counts)),
        "transform": transform,
        "epsg": epsg,
        "projection": projection,
        "nodata": float(nodata[0]) if nodata else None,
        "palette": palette,
        "photometric": photometric,
    }


def tiff_pixel_table(
    spark: SparkSession, info: dict, band_prefix: str = "band_",
    local: bool = False,
) -> DataFrame:
    """Distributed decode: one task per group of segments → (sx, sy,
    band_1..band_n double) rows in the SOURCE pixel grid.

    ``local=True`` (r18): run the SAME chunky decode generator over the
    same segment list on the driver and return one pandas DataFrame —
    for the broadcast-class warp (:func:`warp_tiles`), whose next step
    is a driver collect anyway. Callers gate it to UNCOMPRESSED chunky
    sources (compression 1, planar 1): those segments are raw byte
    ranges, so a ≤100 MB broadcast-class decode is memcpy-speed;
    compressed and planar layouts keep the distributed decode."""
    from raquet_spark.session import ensure_package_shipped

    if local:
        if info["compression"] != 1 or (
            info.get("planar", 1) == 2 and info["n_bands"] > 1
        ):
            raise ValueError("local decode is uncompressed-chunky only")
    else:
        ensure_package_shipped(spark)
    path = info["path"]
    seg_w, seg_h = info["seg_width"], info["seg_height"]
    segs_across = info["segs_across"]
    width, height = info["width"], info["height"]
    n_bands, dtype = info["n_bands"], np.dtype(info["dtype"])
    compression, predictor = info["compression"], info["predictor"]
    jpeg_tables = info.get("jpeg_tables")
    # photometric=2 (RGB) JPEG segments are stored untransformed
    jpeg_color_transform = info.get("photometric", 6) != 2
    tiled = info["tiled"]
    planar = info.get("planar", 1) == 2 and n_bands > 1

    segs = [
        (i, off, cnt) for i, (off, cnt) in enumerate(info["segments"]) if cnt > 0
    ]
    seg_pdf = pd.DataFrame(segs, columns=["seg", "off", "cnt"])
    if not local:
        n_part = max(1, min(len(segs), spark.sparkContext.defaultParallelism))
        seg_df = spark.createDataFrame(seg_pdf).repartition(n_part)

    if planar:
        # band-separate layout (PlanarConfiguration=2): segments are
        # band-major (all of band 1's strips/tiles, then band 2's, ...),
        # each carrying ONE band's samples. Decode emits narrow
        # (sx, sy, band, val) rows; one pivot groupBy(sx, sy) reassembles
        # the per-band columns — the only extra shuffle planar costs.
        segs_per_band = len(info["segments"]) // n_bands

        def decode_planar(batches):
            from raquet_spark.sources.io import range_reader

            rd = range_reader(path)
            for pdf in batches:
                for row in pdf.to_dict("records"):
                    seg, off, cnt = int(row["seg"]), int(row["off"]), int(row["cnt"])
                    buf = rd(off, cnt)
                    if compression in (8, 32946):
                        buf = zlib.decompress(buf)
                    elif compression == 5:
                        buf = lzw_decode(buf)
                    elif compression == 32773:
                        buf = packbits_decode(buf)
                    band, bseg = divmod(seg, segs_per_band)
                    arr = np.frombuffer(buf, dtype=dtype)
                    if tiled:
                        ty, tx = divmod(bseg, segs_across)
                        x0, y0 = tx * seg_w, ty * seg_h
                        arr = arr.reshape(seg_h, seg_w)
                    else:
                        x0, y0 = 0, bseg * seg_h
                        rows = min(seg_h, height - y0)
                        arr = arr[: rows * seg_w].reshape(rows, seg_w)
                    if predictor == 2:
                        arr = np.cumsum(arr, axis=1, dtype=dtype).astype(dtype)
                    h, w = arr.shape
                    w_eff = min(w, width - x0)
                    h_eff = min(h, height - y0)
                    arr = arr[:h_eff, :w_eff]
                    sy, sx = np.mgrid[0:h_eff, 0:w_eff]
                    yield pd.DataFrame({
                        "sx": (sx + x0).ravel().astype("int64"),
                        "sy": (sy + y0).ravel().astype("int64"),
                        "band": np.full(h_eff * w_eff, band, dtype="int64"),
                        "val": arr.ravel().astype("f8"),
                    })

        narrow = seg_df.mapInPandas(
            decode_planar, schema="sx bigint, sy bigint, band bigint, val double"
        )
        return narrow.groupBy("sx", "sy").agg(
            *[
                F.max(F.when(F.col("band") == b, F.col("val"))).alias(
                    f"{band_prefix}{b + 1}"
                )
                for b in range(n_bands)
            ]
        )

    def decode(batches):
        from raquet_spark.sources.io import range_reader

        rd = range_reader(path)
        for pdf in batches:
            for row in pdf.to_dict("records"):
                seg, off, cnt = int(row["seg"]), int(row["off"]), int(row["cnt"])
                buf = rd(off, cnt)
                if compression in (8, 32946):
                    buf = zlib.decompress(buf)
                elif compression == 5:
                    buf = lzw_decode(buf)
                elif compression == 32773:
                    buf = packbits_decode(buf)
                if tiled:
                    ty, tx = divmod(seg, segs_across)
                    x0, y0 = tx * seg_w, ty * seg_h
                else:
                    x0, y0 = 0, seg * seg_h
                if compression == 7:
                    # each segment is its own JPEG; its header
                    # carries the true segment dims (a bottom strip
                    # is shorter than RowsPerStrip)
                    arr = _jpeg_seg_decode(
                        buf, jpeg_tables, n_bands, jpeg_color_transform
                    )
                else:
                    arr = np.frombuffer(buf, dtype=dtype)
                    if tiled:
                        arr = arr.reshape(seg_h, seg_w, n_bands)
                    else:
                        rows = min(seg_h, height - y0)
                        arr = arr[: rows * seg_w * n_bands].reshape(
                            rows, seg_w, n_bands
                        )
                    if predictor == 2:
                        arr = np.cumsum(arr, axis=1, dtype=dtype).astype(dtype)
                h, w = arr.shape[:2]
                w_eff = min(w, width - x0)
                h_eff = min(h, height - y0)
                arr = arr[:h_eff, :w_eff]
                sy, sx = np.mgrid[0:h_eff, 0:w_eff]
                out = {
                    "sx": (sx + x0).ravel().astype("int64"),
                    "sy": (sy + y0).ravel().astype("int64"),
                }
                for b in range(n_bands):
                    out[f"{band_prefix}{b + 1}"] = (
                        arr[:, :, b].ravel().astype("f8")
                    )
                yield pd.DataFrame(out)

    if local:
        parts = list(decode(iter([seg_pdf])))
        return (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1 else parts[0]
        )
    schema = "sx bigint, sy bigint, " + ", ".join(
        f"{band_prefix}{b + 1} double" for b in range(info["n_bands"])
    )
    return seg_df.mapInPandas(decode, schema=schema)


def _model_corners(info: dict) -> list[tuple[float, float]]:
    ox, sx, rx, oy, ry, sy = info["transform"]
    w, h = info["width"], info["height"]
    return [
        (ox + c * sx + r * rx, oy + c * ry + r * sy)
        for c, r in ((0, 0), (w, 0), (0, h), (w, h))
    ]


def _lonlat_corners(info: dict) -> list[tuple[float, float]]:
    corners = _model_corners(info)
    if info["epsg"] == 4326:
        return corners
    if info["epsg"] == 3857:
        return [
            (
                mx / _ORIGIN_SHIFT * 180.0,
                math.degrees(2.0 * math.atan(math.exp(my / _EARTH_R)) - math.pi / 2.0),
            )
            for mx, my in corners
        ]
    return [_inverse_lonlat(info, mx, my) for mx, my in corners]


def _src_merc_resolution(info: dict) -> float:
    """Source pixel size expressed in web-mercator meters (the
    reference's get_resolution measures the same via a 3857 transform,
    raster2raquet.py:684-686)."""
    _, sx, _, _, _, _ = info["transform"]
    if info["epsg"] == 3857:
        return abs(sx)
    lls = _lonlat_corners(info)
    lat_c = sum(lat for _, lat in lls) / len(lls)
    cos_c = max(math.cos(math.radians(lat_c)), 1e-6)
    proj = _source_projection(info)
    if info["epsg"] == 4326 or (proj and proj.get("units") == "deg"):
        # degree-unit model coords (geographic or rotated lat/lon):
        # rotated degrees are true angular distance near grid center
        ground = abs(sx) * math.pi / 180.0 * _EARTH_R * cos_c
    else:  # projected ground meters (AEA is equal-area: ~true scale)
        ground = abs(sx)
    return ground / cos_c


def _pick_zoom(info: dict, block_size: int, strategy: str = "upper") -> int:
    """Web-mercator zoom from the source resolution — the reference's
    find_zoom (raster2raquet.py:700-710): ``raw = log2(CE / tile_dim /
    resolution)`` then ceil (upper) / floor (lower) / round. ``upper``
    (the default) makes the target at least as fine as the source, so
    the forward-mapped nearest-neighbor warp has no holes; ``lower``
    downsamples ~2x (multiple source samples per target pixel, argmin
    keeps the nearest — still hole-free)."""
    raw = math.log2(2.0 * _ORIGIN_SHIFT / block_size / _src_merc_resolution(info))
    if strategy == "upper":
        z = math.ceil(raw)
    elif strategy == "lower":
        z = math.floor(raw)
    elif strategy == "round":
        z = round(raw)
    else:
        raise ValueError(f"unknown zoom strategy {strategy!r}")
    return max(0, min(24, int(z)))


def _tile_aligned_bounds(
    lls: list[tuple[float, float]], z: int
) -> tuple[float, float, float, float]:
    """Expand the corner extent to the covering zoom-``z`` tile grid —
    the reference records the union of occupied tile bounds as metadata
    ``bounds``, so tile alignment makes the values match exactly."""
    w = min(lon for lon, _ in lls)
    e = max(lon for lon, _ in lls)
    s = min(lat for _, lat in lls)
    n = max(lat for _, lat in lls)
    m = 1 << z

    def tx(lon: float) -> int:
        return min(max(int((lon / 360.0 + 0.5) * m), 0), m - 1)

    def ty(lat: float) -> int:
        sv = math.sin(math.radians(min(max(lat, -85.051128779806), 85.051128779806)))
        yf = 0.5 - 0.25 * math.log((1.0 + sv) / (1.0 - sv)) / math.pi
        return min(max(int(yf * m), 0), m - 1)

    def lon_of(x: int) -> float:
        return x / m * 360.0 - 180.0

    def lat_of(y: int) -> float:
        t = math.pi * (1.0 - 2.0 * y / m)
        return math.degrees(math.atan(math.sinh(t)))

    x0, x1 = tx(w), tx(e)
    y0, y1 = ty(n), ty(s)
    return (lon_of(x0), lat_of(y1 + 1), lon_of(x1 + 1), lat_of(y0)), (x0, y0, x1, y1)


def _aea_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Albers Equal Area."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)

    def m(phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    def q(phi: float) -> float:
        s = math.sin(phi)
        if e == 0.0:  # sphere: the e→0 limit of the bracket is 2s
            return 2.0 * s
        return (1.0 - e2) * (
            s / (1.0 - e2 * s * s)
            - (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s))
        )

    p1, p2 = math.radians(p["sp1"]), math.radians(p["sp2"])
    phi0 = math.radians(p["lat0"])
    m1, m2 = m(p1), m(p2)
    q1, q2 = q(p1), q(p2)
    n = (m1 * m1 - m2 * m2) / (q2 - q1)
    C = m1 * m1 + n * q1
    a = p["a"]
    rho0 = a * math.sqrt(C - n * q(phi0)) / n
    q_pole = q(math.pi / 2.0)
    # authalic-latitude → geodetic series coefficients (Snyder 3-18)
    e4, e6 = e2 * e2, e2 * e2 * e2
    return {
        "a": a, "n": n, "C": C, "rho0": rho0, "q_pole": q_pole,
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 3.0 + 31.0 * e4 / 180.0 + 517.0 * e6 / 5040.0,
        "c4": 23.0 * e4 / 360.0 + 251.0 * e6 / 3780.0,
        "c6": 761.0 * e6 / 45360.0,
    }


def aea_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference inverse (projected meters → lon/lat degrees),
    the same formulas the SQL mirror executes — used for metadata
    bounds and round-trip accuracy tests."""
    k = _aea_constants(p)
    x, y = x - k["fe"], y - k["fn"]
    rho = math.hypot(x, k["rho0"] - y)
    theta = math.atan2(x, k["rho0"] - y)
    lon = k["lon0"] + theta / k["n"]
    qv = (k["C"] - (rho * k["n"] / k["a"]) ** 2) / k["n"]
    beta = math.asin(max(-1.0, min(1.0, qv / k["q_pole"])))
    phi = (
        beta
        + k["c2"] * math.sin(2.0 * beta)
        + k["c4"] * math.sin(4.0 * beta)
        + k["c6"] * math.sin(6.0 * beta)
    )
    return math.degrees(lon), math.degrees(phi)


def _utm_params(epsg: int) -> dict | None:
    """UTM zone parameters from the EPSG code (326xx north / 327xx
    south, WGS84 ellipsoid)."""
    if not (32601 <= epsg <= 32660 or 32701 <= epsg <= 32760):
        return None
    zone = epsg % 100
    return {
        "type": "tm",
        "lon0": -183.0 + 6.0 * zone,
        "lat0": 0.0,
        "k0": 0.9996,
        "fe": 500000.0,
        "fn": 10000000.0 if epsg >= 32701 else 0.0,
        "a": 6378137.0,
        "inv_f": 298.257223563,
    }


def _tm_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Transverse
    Mercator (the UTM projection)."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    ep2 = e2 / (1.0 - e2)
    e1 = (1.0 - math.sqrt(1.0 - e2)) / (1.0 + math.sqrt(1.0 - e2))
    return {
        "a": p["a"], "e2": e2, "ep2": ep2, "k0": p["k0"],
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        # meridian distance at the latitude of origin (Snyder 3-21) —
        # zero for UTM (lat0=0), nonzero for general TM grids
        "m0": _meridian_distance(p["a"], e2, math.radians(p.get("lat0", 0.0))),
        "mu_div": p["a"] * (1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0),
        "j2": 3.0 * e1 / 2.0 - 27.0 * e1**3 / 32.0,
        "j4": 21.0 * e1**2 / 16.0 - 55.0 * e1**4 / 32.0,
        "j6": 151.0 * e1**3 / 96.0,
        "j8": 1097.0 * e1**4 / 512.0,
    }


def _meridian_distance(a: float, e2: float, phi: float) -> float:
    """Ellipsoidal meridian arc length M(phi) (Snyder 3-21)."""
    e4, e6 = e2 * e2, e2**3
    return a * (
        (1.0 - e2 / 4.0 - 3.0 * e4 / 64.0 - 5.0 * e6 / 256.0) * phi
        - (3.0 * e2 / 8.0 + 3.0 * e4 / 32.0 + 45.0 * e6 / 1024.0)
        * math.sin(2.0 * phi)
        + (15.0 * e4 / 256.0 + 45.0 * e6 / 1024.0) * math.sin(4.0 * phi)
        - (35.0 * e6 / 3072.0) * math.sin(6.0 * phi)
    )


def tm_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference UTM inverse (Snyder 8-17..8-25) — the same
    formulas the SQL mirror executes; used for bounds and tests."""
    k = _tm_constants(p)
    e2, ep2 = k["e2"], k["ep2"]
    mu = ((y - k["fn"]) / k["k0"] + k["m0"]) / k["mu_div"]
    phi1 = (
        mu
        + k["j2"] * math.sin(2 * mu)
        + k["j4"] * math.sin(4 * mu)
        + k["j6"] * math.sin(6 * mu)
        + k["j8"] * math.sin(8 * mu)
    )
    s, c, t = math.sin(phi1), math.cos(phi1), math.tan(phi1)
    c1 = ep2 * c * c
    t1 = t * t
    n1 = k["a"] / math.sqrt(1.0 - e2 * s * s)
    r1 = k["a"] * (1.0 - e2) / (1.0 - e2 * s * s) ** 1.5
    d = (x - k["fe"]) / (n1 * k["k0"])
    phi = phi1 - (n1 * t / r1) * (
        d * d / 2.0
        - (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * ep2) * d**4 / 24.0
        + (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - 252.0 * ep2 - 3.0 * c1 * c1)
        * d**6 / 720.0
    )
    lam = k["lon0"] + (
        d
        - (1.0 + 2.0 * t1 + c1) * d**3 / 6.0
        + (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * ep2 + 24.0 * t1 * t1)
        * d**5 / 120.0
    ) / c
    return math.degrees(lam), math.degrees(phi)


def _lcc_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Lambert Conformal
    Conic (two standard parallels)."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)

    def m(phi: float) -> float:
        s = math.sin(phi)
        return math.cos(phi) / math.sqrt(1.0 - e2 * s * s)

    def t(phi: float) -> float:
        s = math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)

    p1, p2 = math.radians(p["sp1"]), math.radians(p["sp2"])
    phi0 = math.radians(p["lat0"])
    if p1 == p2:  # tangent (1SP) case — Snyder's limit n = sin(phi1);
        # GRIB Lambert grids (HRRR: latin1 == latin2) hit this
        n = math.sin(p1)
    else:
        n = (math.log(m(p1)) - math.log(m(p2))) / (
            math.log(t(p1)) - math.log(t(p2))
        )
    Fc = m(p1) / (n * t(p1) ** n)
    rho0 = p["a"] * Fc * t(phi0) ** n
    # conformal -> geodetic latitude series (Snyder 3-5)
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "a": p["a"], "n": n, "F": Fc, "rho0": rho0,
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


def lcc_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference LCC inverse (Snyder 15-1 inverse + 3-5 series)."""
    k = _lcc_constants(p)
    x, y = x - k["fe"], y - k["fn"]
    sgn = 1.0 if k["n"] >= 0 else -1.0
    rho = sgn * math.hypot(x, k["rho0"] - y)
    theta = math.atan2(sgn * x, sgn * (k["rho0"] - y))
    lon = k["lon0"] + theta / k["n"]
    tv = (rho / (k["a"] * k["F"])) ** (1.0 / k["n"])
    chi = math.pi / 2.0 - 2.0 * math.atan(tv)
    phi = (
        chi
        + k["c2"] * math.sin(2.0 * chi)
        + k["c4"] * math.sin(4.0 * chi)
        + k["c6"] * math.sin(6.0 * chi)
        + k["c8"] * math.sin(8.0 * chi)
    )
    return math.degrees(lon), math.degrees(phi)


def _ps_constants(p: dict) -> dict:
    """Precomputed Snyder constants for ellipsoidal Polar
    Stereographic (ch. 21, variant B with a standard parallel; the
    3031/3413 polar grids). ``south`` flips the aspect."""
    f = 1.0 / p["inv_f"]
    e2 = 2.0 * f - f * f
    e = math.sqrt(e2)
    south = p["lat_ts"] < 0.0
    phi_f = math.radians(abs(p["lat_ts"]))

    def t(phi: float) -> float:
        s = math.sin(phi)
        return math.tan(math.pi / 4.0 - phi / 2.0) / (
            (1.0 - e * s) / (1.0 + e * s)
        ) ** (e / 2.0)

    if abs(p["lat_ts"]) >= 89.999:  # variant A: scale factor at pole
        k0 = p.get("k0", 1.0)
        rho_div = (
            2.0 * p["a"] * k0
            / math.sqrt((1.0 + e) ** (1.0 + e) * (1.0 - e) ** (1.0 - e))
        )
    else:
        s = math.sin(phi_f)
        m_f = math.cos(phi_f) / math.sqrt(1.0 - e2 * s * s)
        rho_div = p["a"] * m_f / t(phi_f)
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "rho_div": rho_div, "south": south,
        "lon0": math.radians(p["lon0"]), "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


def ps_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Python reference Polar Stereographic inverse (Snyder 21-39 +
    conformal-latitude series 3-5) — the SQL mirror's twin."""
    k = _ps_constants(p)
    x, y = x - k["fe"], y - k["fn"]
    rho = math.hypot(x, y)
    tv = rho / k["rho_div"]
    chi = math.pi / 2.0 - 2.0 * math.atan(tv)
    phi = (
        chi
        + k["c2"] * math.sin(2.0 * chi)
        + k["c4"] * math.sin(4.0 * chi)
        + k["c6"] * math.sin(6.0 * chi)
        + k["c8"] * math.sin(8.0 * chi)
    )
    # Snyder 20-16/21-39: north λ = λ0 + atan2(x, -y); south aspect
    # uses the ORIGINAL signs, λ = λ0 + atan2(x, y), φ negated
    if k["south"]:
        return math.degrees(k["lon0"] + math.atan2(x, y)), math.degrees(-phi)
    return math.degrees(k["lon0"] + math.atan2(x, -y)), math.degrees(phi)


def sinu_ell_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Ellipsoidal Sinusoidal inverse (Snyder 30-x: y is meridian arc
    length, recovered through the rectifying-latitude series)."""
    k = _tm_constants({**p, "k0": 1.0, "lat0": 0.0})
    e2 = k["e2"]
    mu = (y - p["fn"]) / k["mu_div"]
    phi = (
        mu
        + k["j2"] * math.sin(2.0 * mu)
        + k["j4"] * math.sin(4.0 * mu)
        + k["j6"] * math.sin(6.0 * mu)
        + k["j8"] * math.sin(8.0 * mu)
    )
    s, c = math.sin(phi), math.cos(phi)
    lam = math.radians(p["lon0"]) + (x - p["fe"]) * math.sqrt(
        1.0 - e2 * s * s
    ) / (p["a"] * c)
    return math.degrees(lam), math.degrees(phi)


def _rotll_constants(p: dict) -> tuple[float, float, float]:
    """(sin, cos of the rotated-north-pole latitude, pole lon radians).
    ``p``: pole_lat/pole_lon = TRUE coordinates of the rotated system's
    north pole (GRIB template 3.1 states the SOUTH pole: pole_lat =
    -lat_sp, pole_lon = lon_sp - 180). Convention pinned against the
    public COSMO example (pole 40N,-170E maps rotated (0,0) to true
    (10E, 50N)) in tests/test_grib2.py."""
    polphi = math.radians(p["pole_lat"])
    return math.sin(polphi), math.cos(polphi), math.radians(p["pole_lon"])


def rotll_inverse(p: dict, rlon: float, rlat: float) -> tuple[float, float]:
    """Rotated lon/lat degrees → TRUE lon/lat degrees (the CDO/COSMO
    phirot2phi + rlarot2rla formulation, incl. polgam: the published
    cos(rla)cos(gam) − sin(rla)sin(gam) terms are cos(rla + gam), so a
    nonzero angle of rotation shifts the rotated longitude by +gam
    before the pole rotation)."""
    zsinpol, zcospol, zlampol = _rotll_constants(p)
    zphis = math.radians(rlat)
    zrlas = math.radians(rlon + p.get("pole_gam", 0.0))
    ct = math.cos(zphis)
    t = -zsinpol * math.cos(zrlas) * ct + zcospol * math.sin(zphis)
    phi = math.asin(
        zsinpol * math.sin(zphis) + zcospol * ct * math.cos(zrlas)
    )
    zarg1 = math.sin(zlampol) * t - math.cos(zlampol) * math.sin(zrlas) * ct
    zarg2 = math.cos(zlampol) * t + math.sin(zlampol) * math.sin(zrlas) * ct
    return math.degrees(math.atan2(zarg1, zarg2)), math.degrees(phi)


def _merc_constants(p: dict) -> dict:
    """Snyder ch. 7 Mercator with true scale at lat_ts: a·k0 where
    k0 = cos(φts)/sqrt(1 − e²sin²φts), plus the conformal-latitude
    series coefficients (zero on a sphere — the spherical formulas are
    the e→0 limit of the same code path)."""
    inv_f = p.get("inv_f", float("inf"))
    f = 0.0 if inv_f == float("inf") else 1.0 / inv_f
    e2 = 2.0 * f - f * f
    phi_ts = math.radians(p.get("lat_ts", 0.0))
    s = math.sin(phi_ts)
    ak0 = p["a"] * math.cos(phi_ts) / math.sqrt(1.0 - e2 * s * s)
    e4, e6, e8 = e2 * e2, e2**3, e2**4
    return {
        "ak0": ak0, "e": math.sqrt(e2),
        "fe": p["fe"], "fn": p["fn"],
        "c2": e2 / 2.0 + 5.0 * e4 / 24.0 + e6 / 12.0 + 13.0 * e8 / 360.0,
        "c4": 7.0 * e4 / 48.0 + 29.0 * e6 / 240.0 + 811.0 * e8 / 11520.0,
        "c6": 7.0 * e6 / 120.0 + 81.0 * e8 / 1120.0,
        "c8": 4279.0 * e8 / 161280.0,
    }


def merc_inverse(p: dict, x: float, y: float) -> tuple[float, float]:
    """Mercator at lat_ts (GRIB grid 3.10; spherical AND ellipsoidal —
    Snyder 7-10 + the conformal-latitude series) — projected meters →
    lon/lat degrees."""
    k = _merc_constants(p)
    lon = math.degrees((x - k["fe"]) / k["ak0"])
    t = math.exp(-(y - k["fn"]) / k["ak0"])
    chi = math.pi / 2.0 - 2.0 * math.atan(t)
    lat = math.degrees(
        chi + k["c2"] * math.sin(2 * chi) + k["c4"] * math.sin(4 * chi)
        + k["c6"] * math.sin(6 * chi) + k["c8"] * math.sin(8 * chi)
    )
    return lon, lat


def _source_projection(info: dict) -> dict | None:
    """Closed-form projection params for the source CRS, or None for
    geographic/mercator sources."""
    if info.get("projection"):
        return info["projection"]
    if info["epsg"] not in (None, 4326, 3857):
        utm = _utm_params(info["epsg"])
        if utm:
            return utm
        named = _EPSG_PROJ.get(info["epsg"])
        if named:
            return named
        raise NotImplementedError(
            f"CRS EPSG:{info['epsg']}: not in the closed-form table "
            "(4326/3857, UTM 326xx/327xx, "
            f"{sorted(_EPSG_PROJ)}) and no proj database here; "
            "user-defined GeoKeys for TM/LCC/Albers/PolarStereo/"
            "Sinusoidal are also accepted"
        )
    return None


def _inverse_lonlat(info: dict, x: float, y: float) -> tuple[float, float]:
    proj = _source_projection(info)
    if proj is None:
        raise ValueError("geographic/mercator source has no projection inverse")
    if proj["type"] == "aea":
        return aea_inverse(proj, x, y)
    if proj["type"] == "rotll":
        return rotll_inverse(proj, x, y)
    if proj["type"] == "merc":
        return merc_inverse(proj, x, y)
    if proj["type"] == "lcc":
        return lcc_inverse(proj, x, y)
    if proj["type"] == "sinu":
        phi = (y - proj["fn"]) / proj["a"]
        lam = math.radians(proj["lon0"]) + (x - proj["fe"]) / (
            proj["a"] * math.cos(phi)
        )
        return math.degrees(lam), math.degrees(phi)
    if proj["type"] == "sinu_ell":
        return sinu_ell_inverse(proj, x, y)
    if proj["type"] == "ps":
        return ps_inverse(proj, x, y)
    return tm_inverse(proj, x, y)


def _lonlat_steps(info: dict) -> tuple[list[tuple[str, str]], str, str]:
    """(column bindings, lon_expr, lat_expr): the source-CRS inverse as
    staged Column expressions over (sx, sy). Binding intermediates as
    named columns keeps the Catalyst tree small even for the Snyder
    series projections — everything stays JVM-side."""
    ox, sx, rx, oy, ry, sy = info["transform"]
    px = f"({ox} + (sx + 0.5) * {sx} + (sy + 0.5) * {rx})"
    py = f"({oy} + (sx + 0.5) * {ry} + (sy + 0.5) * {sy})"
    if info["epsg"] == 4326:
        return [], px, py
    proj = _source_projection(info)
    if proj and proj["type"] == "aea":
        k = _aea_constants(proj)
        steps = [
            ("_x", f"{px} - {k['fe']}"),
            ("_yd", f"{k['rho0']} - ({py} - {k['fn']})"),
            ("_rho", "sqrt(_x * _x + _yd * _yd)"),
            ("_qv", f"({k['C']} - pow(_rho * {k['n']} / {k['a']}, 2)) / {k['n']}"),
            ("_beta", f"asin(greatest(-1.0D, least(1.0D, _qv / {k['q_pole']})))"),
        ]
        lon = f"degrees({k['lon0']} + atan2(_x, _yd) / {k['n']})"
        lat = (
            f"degrees(_beta + {k['c2']} * sin(2 * _beta)"
            f" + {k['c4']} * sin(4 * _beta)"
            f" + {k['c6']} * sin(6 * _beta))"
        )
        return steps, lon, lat
    if proj and proj["type"] == "sinu":
        # spherical sinusoidal (MODIS): phi = y/a, lam = lon0 + x/(a cos phi)
        steps = [("_phi", f"(({py}) - {proj['fn']}) / {proj['a']}")]
        lon = (
            f"degrees({math.radians(proj['lon0'])}"
            f" + (({px}) - {proj['fe']}) / ({proj['a']} * cos(_phi)))"
        )
        lat = "degrees(_phi)"
        return steps, lon, lat
    if proj and proj["type"] == "sinu_ell":
        k = _tm_constants({**proj, "k0": 1.0, "lat0": 0.0})
        steps = [
            ("_mu", f"(({py}) - {proj['fn']}) / {k['mu_div']}"),
            (
                "_phi",
                f"_mu + {k['j2']} * sin(2 * _mu) + {k['j4']} * sin(4 * _mu)"
                f" + {k['j6']} * sin(6 * _mu) + {k['j8']} * sin(8 * _mu)",
            ),
        ]
        lon = (
            f"degrees({math.radians(proj['lon0'])}"
            f" + (({px}) - {proj['fe']})"
            f" * sqrt(1 - {k['e2']} * pow(sin(_phi), 2))"
            f" / ({proj['a']} * cos(_phi)))"
        )
        lat = "degrees(_phi)"
        return steps, lon, lat
    if proj and proj["type"] == "ps":
        k = _ps_constants(proj)
        sgn = -1.0 if k["south"] else 1.0
        steps = [
            ("_x", f"(({px}) - {k['fe']})"),
            ("_yp", f"(({py}) - {k['fn']})"),
            ("_rho", "sqrt(_x * _x + _yp * _yp)"),
            ("_chi", f"{math.pi / 2.0} - 2 * atan(_rho / {k['rho_div']})"),
        ]
        # north: atan2(x, -y); south aspect: atan2(x, y), φ negated
        lon = f"degrees({k['lon0']} + atan2(_x, {-sgn} * _yp))"
        lat = (
            f"degrees({sgn} * (_chi + {k['c2']} * sin(2 * _chi)"
            f" + {k['c4']} * sin(4 * _chi)"
            f" + {k['c6']} * sin(6 * _chi)"
            f" + {k['c8']} * sin(8 * _chi)))"
        )
        return steps, lon, lat
    if proj and proj["type"] == "lcc":
        k = _lcc_constants(proj)
        sgn = 1.0 if k["n"] >= 0 else -1.0
        steps = [
            ("_x", f"{px} - {k['fe']}"),
            ("_yd", f"{k['rho0']} - ({py} - {k['fn']})"),
            ("_rho", f"{sgn} * sqrt(_x * _x + _yd * _yd)"),
            ("_tv", f"pow(_rho / {k['a'] * k['F']}, {1.0 / k['n']})"),
            ("_chi", f"{math.pi / 2.0} - 2 * atan(_tv)"),
        ]
        lon = f"degrees({k['lon0']} + atan2({sgn} * _x, {sgn} * _yd) / {k['n']})"
        lat = (
            f"degrees(_chi + {k['c2']} * sin(2 * _chi)"
            f" + {k['c4']} * sin(4 * _chi)"
            f" + {k['c6']} * sin(6 * _chi)"
            f" + {k['c8']} * sin(8 * _chi))"
        )
        return steps, lon, lat
    if proj and proj["type"] == "tm":
        k = _tm_constants(proj)
        e2, ep2 = k["e2"], k["ep2"]
        steps = [
            ("_mu", f"((({py}) - {k['fn']}) / {k['k0']} + {k['m0']}) / {k['mu_div']}"),
            (
                "_phi1",
                f"_mu + {k['j2']} * sin(2 * _mu) + {k['j4']} * sin(4 * _mu)"
                f" + {k['j6']} * sin(6 * _mu) + {k['j8']} * sin(8 * _mu)",
            ),
            ("_c1", f"{ep2} * pow(cos(_phi1), 2)"),
            ("_t1", "pow(tan(_phi1), 2)"),
            ("_n1", f"{k['a']} / sqrt(1 - {e2} * pow(sin(_phi1), 2))"),
            ("_r1", f"{k['a']} * {1 - e2} / pow(1 - {e2} * pow(sin(_phi1), 2), 1.5)"),
            ("_dd", f"(({px}) - {k['fe']}) / (_n1 * {k['k0']})"),
        ]
        lat = (
            "degrees(_phi1 - (_n1 * tan(_phi1) / _r1) * ("
            "pow(_dd, 2) / 2"
            f" - (5 + 3 * _t1 + 10 * _c1 - 4 * _c1 * _c1 - {9 * ep2})"
            " * pow(_dd, 4) / 24"
            f" + (61 + 90 * _t1 + 298 * _c1 + 45 * _t1 * _t1 - {252 * ep2}"
            " - 3 * _c1 * _c1) * pow(_dd, 6) / 720))"
        )
        lon = (
            f"degrees({k['lon0']} + (_dd - (1 + 2 * _t1 + _c1) * pow(_dd, 3) / 6"
            f" + (5 - 2 * _c1 + 28 * _t1 - 3 * _c1 * _c1 + {8 * ep2}"
            " + 24 * _t1 * _t1) * pow(_dd, 5) / 120) / cos(_phi1))"
        )
        return steps, lon, lat
    raise NotImplementedError(f"CRS EPSG:{info['epsg']}")


def _forward_steps(info: dict) -> tuple[list[tuple[str, str]], str, str]:
    """(column bindings, x_expr, y_expr): the source-CRS FORWARD
    projection (lon/lat degrees in ``_lon``/``_lat`` columns → projected
    model coordinates) as staged Column expressions — the Snyder forward
    formulas mirroring the inverses in ``_lonlat_steps``. This is what
    lets the target-driven (dense / bilinear / cubic) warp run on
    projected sources: each target pixel's mercator center → lon/lat
    (closed form) → projected coords → fractional source index."""
    proj = _source_projection(info)
    if proj is None:
        raise NotImplementedError("forward projection undefined for 4326/3857")
    phi, lam = "radians(_lat)", "radians(_lon)"
    if proj["type"] == "merc":
        # Mercator at lat_ts (GRIB 3.10, NOAA marine grids): y =
        # -a·k0·ln(t) with the Snyder t (sphere: e=0 → ln tan(π/4+φ/2))
        k = _merc_constants(proj)
        e = k["e"]
        steps = [("_s", f"sin({phi})")]
        t_e = (
            f"(tan({math.pi / 4.0} - {phi} / 2)"
            f" / pow((1 - {e} * _s) / (1 + {e} * _s), {e / 2.0}))"
        )
        x = f"({k['ak0']} * {lam} + {k['fe']})"
        y = f"({k['fn']} - {k['ak0']} * ln({t_e}))"
        return steps, x, y
    if proj["type"] == "rotll":
        # rotated lat/lon (GRIB 3.1, the COSMO/HARMONIE family): the
        # "projection" is a pole rotation and the model coordinates are
        # rotated DEGREES (the affine maps rotated degrees → grid
        # index) — the CDO/COSMO phi2phirot + rla2rlarot formulation
        zsinpol, zcospol, zlampol = _rotll_constants(proj)
        steps = [
            ("_zrla", f"({lam} - {zlampol})"),
            ("_cp", f"cos({phi})"),
            ("_sp", f"sin({phi})"),
        ]
        x = (
            f"degrees(atan2(-sin(_zrla) * _cp, "
            f"{zcospol} * _sp - {zsinpol} * _cp * cos(_zrla)))"
        )
        gam = proj.get("pole_gam", 0.0)
        if gam:
            # nonzero angle of rotation: the rotated longitude of the
            # gam system is the no-gam result minus gam (the inverse
            # of phirot2phi's rla + gam substitution), wrapped
            x = f"(pmod({x} - {gam} + 540.0D, 360.0D) - 180.0D)"
        y = (
            f"degrees(asin(greatest(-1.0D, least(1.0D, "
            f"{zsinpol} * _sp + {zcospol} * _cp * cos(_zrla)))))"
        )
        return steps, x, y
    if proj["type"] == "sinu":
        steps = [("_phi", phi)]
        x = f"({proj['a']} * ({lam} - {math.radians(proj['lon0'])}) * cos(_phi) + {proj['fe']})"
        y = f"({proj['a']} * _phi + {proj['fn']})"
        return steps, x, y
    if proj["type"] == "aea":
        k = _aea_constants(proj)
        f = 1.0 / proj["inv_f"]
        e2 = 2.0 * f - f * f
        e = math.sqrt(e2)
        steps = [
            ("_s", f"sin({phi})"),
            (
                "_q",
                "2 * _s" if e == 0.0 else  # sphere: e→0 limit
                f"{1.0 - e2} * (_s / (1 - {e2} * _s * _s)"
                f" - {1.0 / (2.0 * e)} * ln((1 - {e} * _s) / (1 + {e} * _s)))",
            ),
            ("_rho", f"{k['a']} * sqrt({k['C']} - {k['n']} * _q) / {k['n']}"),
            ("_th", f"{k['n']} * ({lam} - {k['lon0']})"),
        ]
        x = f"(_rho * sin(_th) + {k['fe']})"
        y = f"({k['rho0']} - _rho * cos(_th) + {k['fn']})"
        return steps, x, y
    if proj["type"] == "lcc":
        k = _lcc_constants(proj)
        f = 1.0 / proj["inv_f"]
        e2 = 2.0 * f - f * f
        e = math.sqrt(e2)
        steps = [
            ("_s", f"sin({phi})"),
            (
                "_t",
                f"tan({math.pi / 4.0} - {phi} / 2)"
                f" / pow((1 - {e} * _s) / (1 + {e} * _s), {e / 2.0})",
            ),
            ("_rho", f"{k['a'] * k['F']} * pow(_t, {k['n']})"),
            ("_th", f"{k['n']} * ({lam} - {k['lon0']})"),
        ]
        x = f"(_rho * sin(_th) + {k['fe']})"
        y = f"({k['rho0']} - _rho * cos(_th) + {k['fn']})"
        return steps, x, y
    if proj["type"] == "tm":
        k = _tm_constants(proj)
        e2, ep2 = k["e2"], k["ep2"]
        # meridian arc series coefficients (Snyder 3-21)
        m1 = 1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0
        m2 = 3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0
        m3 = 15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0
        m4 = 35.0 * e2**3 / 3072.0
        lat0 = math.radians(proj.get("lat0", 0.0))
        m0 = k["a"] * (
            m1 * lat0 - m2 * math.sin(2 * lat0) + m3 * math.sin(4 * lat0)
            - m4 * math.sin(6 * lat0)
        )
        steps = [
            ("_p", phi),
            ("_s2", "pow(sin(_p), 2)"),
            ("_nn", f"{k['a']} / sqrt(1 - {e2} * _s2)"),
            ("_tt", "pow(tan(_p), 2)"),
            ("_cc", f"{ep2} * pow(cos(_p), 2)"),
            ("_aa", f"({lam} - {k['lon0']}) * cos(_p)"),
            (
                "_mm",
                f"{k['a']} * ({m1} * _p - {m2} * sin(2 * _p)"
                f" + {m3} * sin(4 * _p) - {m4} * sin(6 * _p))",
            ),
        ]
        x = (
            f"({k['fe']} + {k['k0']} * _nn * (_aa"
            " + (1 - _tt + _cc) * pow(_aa, 3) / 6"
            f" + (5 - 18 * _tt + _tt * _tt + 72 * _cc - {58.0 * ep2})"
            " * pow(_aa, 5) / 120))"
        )
        y = (
            f"({k['fn']} + {k['k0']} * (_mm - {m0} + _nn * tan(_p) * ("
            "pow(_aa, 2) / 2"
            " + (5 - _tt + 9 * _cc + 4 * _cc * _cc) * pow(_aa, 4) / 24"
            f" + (61 - 58 * _tt + _tt * _tt + 600 * _cc - {330.0 * ep2})"
            " * pow(_aa, 6) / 720)))"
        )
        return steps, x, y
    if proj["type"] == "ps":
        k = _ps_constants(proj)
        f = 1.0 / proj["inv_f"]
        e2 = 2.0 * f - f * f
        e = math.sqrt(e2)
        # south aspect: t of -phi, and y = fn + rho cos(theta) (mirrors
        # the inverse's atan2(x, y) aspect rule)
        sphi = f"(-{phi})" if k["south"] else phi
        ysgn = 1.0 if k["south"] else -1.0
        steps = [
            ("_p", sphi),
            ("_s", "sin(_p)"),
            (
                "_t",
                f"tan({math.pi / 4.0} - _p / 2)"
                f" / pow((1 - {e} * _s) / (1 + {e} * _s), {e / 2.0})",
            ),
            ("_rho", f"{k['rho_div']} * _t"),
            ("_th", f"{lam} - {k['lon0']}"),
        ]
        x = f"(_rho * sin(_th) + {k['fe']})"
        y = f"({k['fn']} + {ysgn} * _rho * cos(_th))"
        return steps, x, y
    if proj["type"] == "sinu_ell":
        k = _tm_constants({**proj, "k0": 1.0, "lat0": 0.0})
        e2 = k["e2"]
        m1 = 1.0 - e2 / 4.0 - 3.0 * e2**2 / 64.0 - 5.0 * e2**3 / 256.0
        m2 = 3.0 * e2 / 8.0 + 3.0 * e2**2 / 32.0 + 45.0 * e2**3 / 1024.0
        m3 = 15.0 * e2**2 / 256.0 + 45.0 * e2**3 / 1024.0
        m4 = 35.0 * e2**3 / 3072.0
        steps = [("_p", phi), ("_s", "sin(_p)")]
        x = (
            f"({proj['fe']} + {proj['a']} * ({lam} - "
            f"{math.radians(proj['lon0'])}) * cos(_p)"
            f" / sqrt(1 - {e2} * _s * _s))"
        )
        y = (
            f"({proj['fn']} + {proj['a']} * ({m1} * _p - {m2} * sin(2 * _p)"
            f" + {m3} * sin(4 * _p) - {m4} * sin(6 * _p)))"
        )
        return steps, x, y
    raise NotImplementedError(f"forward projection for {proj['type']!r}")


_AGG_KERNELS = ("average", "mode", "max", "min", "med", "q1", "q3")


def aggregate_warp(
    px: DataFrame,
    z: int,
    block_size: int,
    band_cols: list[str],
    resampling: str,
    nodata: float | None,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Forward-map aggregate warp for the reducing kernels (reference
    --resampling average/mode/max/min/med/q1/q3, GDAL's warp reducers):
    every source sample lands in the target pixel containing its
    mercator center, then ONE groupBy(target pixel) reduces the group —
    nodata samples drop out per band, an all-nodata group keeps the
    nodata value (matching the nearest path, which would copy one).
    ``mode`` breaks count ties on the smallest value and ``med``/``q1``/
    ``q3`` are exact interpolated percentiles — deterministic where
    GDAL leaves ties unspecified. ``mode`` costs one extra shuffle per
    band (count-then-argmax); the other kernels are single-shuffle."""
    if resampling not in _AGG_KERNELS:
        raise ValueError(f"unknown aggregate kernel {resampling!r}")
    world = float((1 << z) * block_size)
    gx = f"CAST(floor((_mx + {_ORIGIN_SHIFT}) / {2.0 * _ORIGIN_SHIFT} * {world}) AS BIGINT)"
    gy = f"CAST(floor(({_ORIGIN_SHIFT} - _my) / {2.0 * _ORIGIN_SHIFT} * {world}) AS BIGINT)"
    mapped = px.selectExpr(
        f"{gx} AS gx", f"{gy} AS gy", *extra_keys, *band_cols
    ).where(f"gx >= 0 AND gx < {int(world)} AND gy >= 0 AND gy < {int(world)}")

    def valid(b: str) -> str:
        if nodata is None:
            return b
        return f"CASE WHEN {b} <=> CAST({nodata} AS DOUBLE) THEN NULL ELSE {b} END"

    def finish(expr: str) -> str:
        if nodata is None:
            return expr
        return f"coalesce({expr}, CAST({nodata} AS DOUBLE))"

    keys = ["gx", "gy", *extra_keys]
    if resampling == "mode":
        outs = None
        for b in band_cols:
            counts = (
                mapped.selectExpr(*keys, f"{valid(b)} AS _v")
                .where("_v IS NOT NULL")
                .groupBy(*keys, "_v")
                .agg(F.count("*").alias("_c"))
            )
            best = (
                counts.groupBy(*keys)
                .agg(
                    F.max(
                        F.struct(F.col("_c").alias("c"), (-F.col("_v")).alias("nv"))
                    ).alias("_m")
                )
                .selectExpr(*keys, f"(-_m.nv) AS {b}")
            )
            outs = best if outs is None else outs.join(best, keys, "outer")
        if nodata is not None:
            outs = outs.selectExpr(
                *keys, *[f"coalesce({b}, CAST({nodata} AS DOUBLE)) AS {b}"
                         for b in band_cols]
            )
        return outs
    agg_fn = {
        "average": "avg({v})",
        "max": "max({v})",
        "min": "min({v})",
        "med": "percentile({v}, 0.5D)",
        "q1": "percentile({v}, 0.25D)",
        "q3": "percentile({v}, 0.75D)",
    }[resampling]
    aggs = [
        F.expr(finish(agg_fn.format(v=valid(b)))).alias(b) for b in band_cols
    ]
    return mapped.groupBy(*keys).agg(*aggs)


_CUBIC_A = -0.5  # Catmull-Rom, GDAL's cubic kernel


def _kernel_sql(d: str, resampling: str) -> str:
    """Separable resampling kernel weight as a SQL expression of the
    signed source-grid offset ``d``."""
    t = f"abs({d})"
    if resampling == "bilinear":
        return f"(1.0D - {t})"
    if resampling == "cubic":
        # a=-0.5: |t|<=1 -> 1.5t^3 - 2.5t^2 + 1 ; 1<|t|<2 -> -0.5t^3 + 2.5t^2 - 4t + 2
        return (
            f"(CASE WHEN {t} <= 1.0D THEN ((1.5D * {t} - 2.5D) * {t} * {t} + 1.0D)"
            f" ELSE ((((-0.5D) * {t} + 2.5D) * {t} - 4.0D) * {t} + 2.0D) END)"
        )
    raise ValueError(f"unknown resampling {resampling!r}")


def gather_is_broadcast(info: dict, n_steps: int = 1) -> bool:
    """Whether the source is in the broadcast size class (raw source
    bytes × steps ≤ ~100 MB). The SINGLE size-class definition:
    :func:`warp_tiles` routes every import on it, and
    :func:`_resampled_pixels` picks its gather-join strategy with it
    (see the strategy comment there)."""
    return (
        info["width"] * info["height"] * info["n_bands"]
        * np.dtype(info["dtype"]).itemsize * max(1, int(n_steps))
    ) <= 100 * (1 << 20)


def _merc_fs_exprs(info: dict, z: int, block_size: int) -> tuple[str, str]:
    """(fsx, fsy) SQL expression strings in ``gx``/``gy`` for
    geographic (4326) / web-mercator (3857) sources — the closed-form
    inverse map from target pixel center to fractional source sample
    coordinates. The SINGLE definition shared by the target grid
    (:func:`_target_grid`) and the separable per-axis vectors
    (:func:`_separable_src_fs`), so both evaluate byte-identical
    expressions in the same engine."""
    ox, a, b, oy, c, d = info["transform"]
    det = a * d - b * c
    if det == 0:
        raise ValueError("singular geotransform")
    world = float((1 << z) * block_size)
    cmx = f"((gx + 0.5D) / {world} * {2.0 * _ORIGIN_SHIFT} - {_ORIGIN_SHIFT})"
    cmy = f"({_ORIGIN_SHIFT} - (gy + 0.5D) / {world} * {2.0 * _ORIGIN_SHIFT})"
    if info["epsg"] == 4326:
        mox = f"({cmx} / {_ORIGIN_SHIFT} * 180.0D)"
        moy = f"degrees(2.0D * atan(exp({cmy} / {_EARTH_R})) - {math.pi / 2.0})"
    else:
        mox, moy = cmx, cmy
    u, v = f"({mox} - {ox})", f"({moy} - {oy})"
    return (
        f"({u} * {d} - {b} * {v}) / {det}",
        f"({-c} * {u} + {a} * {v}) / {det}",
    )


def _fsy_rows_interp(info: dict, gy0: int, npy: int, world: float):
    """Per-target-ROW fractional source row for IRREGULAR row latitudes
    (Gaussian grids): row → lat is not affine, so fsy is interpolated
    on the driver (piecewise-linear between centers, linear beyond the
    outer centers like the affine path). Returns the float64 ``fsy``
    vector for gy in [gy0, gy0+npy). The SINGLE definition shared by
    the join warp's broadcast rowmap and the per-tile kernel's feeders
    — both floor the same doubles."""
    lc = np.asarray(info["lat_centers"], dtype="f8")  # north → south
    if len(lc) < 2 or not (np.diff(lc) < 0).all():
        raise ValueError("lat_centers must be strictly north→south")
    gys = np.arange(gy0, gy0 + npy, dtype="f8")
    merc_y = _ORIGIN_SHIFT - (gys + 0.5) / world * 2.0 * _ORIGIN_SHIFT
    lat_t = np.degrees(
        2.0 * np.arctan(np.exp(merc_y / _EARTH_R)) - math.pi / 2.0
    )
    xp = lc[::-1]
    fp = (np.arange(len(lc), dtype="f8") + 0.5)[::-1]
    fsy_t = np.interp(lat_t, xp, fp)
    n_sl = (fp[-1] - fp[-2]) / (xp[-1] - xp[-2])
    s_sl = (fp[1] - fp[0]) / (xp[1] - xp[0])
    fsy_t = np.where(
        lat_t > xp[-1], fp[-1] + (lat_t - xp[-1]) * n_sl, fsy_t
    )
    fsy_t = np.where(
        lat_t < xp[0], fp[0] + (lat_t - xp[0]) * s_sl, fsy_t
    )
    return fsy_t


def _is_separable(info: dict) -> bool:
    """Whether fsx depends on gx alone and fsy on gy alone, with the
    plain index step: a north-up 4326/3857 affine grid without
    staggered or ragged rows (Gaussian rows qualify)."""
    ox, a, b, oy, c, d = info["transform"]
    return (b == 0.0 and c == 0.0 and info["epsg"] in (4326, 3857)
            and not info.get("stagger_x") and info.get("row_ni") is None)


def _separable_src_fs(
    spark: SparkSession,
    info: dict,
    z: int,
    block_size: int,
    tile_ext: tuple[int, int, int, int],
):
    """(fsx_by_gx, fsy_by_gy) float64 vectors over the target extent
    of a separable source (:func:`_is_separable`): the expressions of
    :func:`_target_grid`, evaluated by the same JVM engine in one tiny
    job over max(npx, npy) rows, so bit-identity with the join warp
    holds by construction; ``lat_centers`` grids take the same
    driver-side fsy interp."""
    tx0, ty0, tx1, ty1 = tile_ext
    bs = block_size
    gx0, gy0 = tx0 * bs, ty0 * bs
    npx = (tx1 - tx0 + 1) * bs
    npy = (ty1 - ty0 + 1) * bs
    world = float((1 << z) * bs)
    fsx_e, fsy_e = _merc_fs_exprs(info, z, bs)
    n = max(npx, npy)
    pdf = (
        spark.range(0, n, 1, 1)
        .selectExpr(
            f"{gx0} + least(id, {npx - 1}) AS gx",
            f"{gy0} + least(id, {npy - 1}) AS gy",
        )
        .selectExpr(f"{fsx_e} AS fsx", f"{fsy_e} AS fsy")
        .toPandas()
    )
    fsx = pdf["fsx"].to_numpy(dtype="float64")[:npx]
    if info.get("lat_centers") is not None:
        fsy = _fsy_rows_interp(info, gy0, npy, world)
    else:
        fsy = pdf["fsy"].to_numpy(dtype="float64")[:npy]
    return fsx, fsy


def _target_grid(
    spark: SparkSession,
    info: dict,
    z: int,
    block_size: int,
    tile_ext: tuple[int, int, int, int],
):
    """The covering target pixel grid as ``(tgt, fsy_rows)``: ``tgt``
    holds ``(_tid, gx, gy, fsx, fsy)``, each pixel's fractional source
    coordinates (sample i's center sits at i + 0.5) — closed form for
    4326/3857 (:func:`_merc_fs_exprs`), mercator → lon/lat → Snyder
    forward (:func:`_forward_steps`) → inverse affine otherwise.
    Block-major, whole tiles per partition: one ``spark.range`` row per
    tile, exploded to its ``bs²`` pixels in row-major order. For
    irregular row latitudes (``lat_centers``) ``fsy_rows``, the
    per-target-row fsy over gy in [gy0, gy0+npy), replaces ``fsy``;
    None otherwise. Shared by the join warp and the per-tile kernel's
    per-pixel feeder, so both see the same doubles."""
    ox, a, b, oy, c, d = info["transform"]
    det = a * d - b * c
    if det == 0:
        raise ValueError("singular geotransform")
    tx0, ty0, tx1, ty1 = tile_ext
    bs = block_size
    gx0, gy0 = tx0 * bs, ty0 * bs
    ntx = tx1 - tx0 + 1
    n_tiles = ntx * (ty1 - ty0 + 1)
    world = float((1 << z) * bs)

    n_part = max(1, min(spark.sparkContext.defaultParallelism, n_tiles))
    tgt = (
        spark.range(0, n_tiles, 1, n_part)
        .selectExpr(
            "id AS _tid", f"explode(sequence(0, {bs * bs - 1})) AS _o"
        )
        .selectExpr(
            "_tid",
            f"{gx0} + (_tid % {ntx}) * {bs} + _o % {bs} AS gx",
            f"{gy0} + (_tid DIV {ntx}) * {bs} + _o DIV {bs} AS gy",
        )
    )
    if info["epsg"] in (4326, 3857):
        fsx_e, fsy_e = _merc_fs_exprs(info, z, block_size)
        tgt = tgt.selectExpr(
            "_tid", "gx", "gy", f"{fsx_e} AS fsx", f"{fsy_e} AS fsy"
        )
    else:
        # target pixel center -> web-mercator meters
        cmx = f"((gx + 0.5D) / {world} * {2.0 * _ORIGIN_SHIFT} - {_ORIGIN_SHIFT})"
        cmy = f"({_ORIGIN_SHIFT} - (gy + 0.5D) / {world} * {2.0 * _ORIGIN_SHIFT})"
        # projected source: mercator -> lon/lat -> Snyder forward
        tgt = tgt.withColumn(
            "_lon", F.expr(f"{cmx} / {_ORIGIN_SHIFT} * 180.0D")
        ).withColumn(
            "_lat",
            F.expr(f"degrees(2.0D * atan(exp({cmy} / {_EARTH_R})) - {math.pi / 2.0})"),
        )
        fsteps, x_e, y_e = _forward_steps(info)
        for name, expr in fsteps:
            tgt = tgt.withColumn(name, F.expr(expr))
        u, v = f"({x_e} - {ox})", f"({y_e} - {oy})"
        tgt = tgt.selectExpr(
            "_tid",
            "gx",
            "gy",
            f"({u} * {d} - {b} * {v}) / {det} AS fsx",
            f"({-c} * {u} + {a} * {v}) / {det} AS fsy",
        )
    if info.get("lat_centers") is None:
        return tgt, None
    return tgt, _fsy_rows_interp(info, gy0, (ty1 - ty0 + 1) * bs, world)


def _kernel_np(d: np.ndarray, resampling: str) -> np.ndarray:
    """Separable resampling kernel weight — the numpy twin of
    :func:`_kernel_sql`, op-for-op (same literals, same left-assoc
    evaluation order), so identical float64 inputs produce identical
    bits in either engine."""
    t = np.abs(d)
    if resampling == "bilinear":
        return 1.0 - t
    if resampling == "cubic":
        inner = ((1.5 * t - 2.5) * t) * t + 1.0
        outer = (((-0.5) * t + 2.5) * t - 4.0) * t + 2.0
        return np.where(t <= 1.0, inner, outer)
    raise ValueError(f"unknown resampling {resampling!r}")


def _round_half_up_spark(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(double)`` (scale 0) replicated exactly. Spark
    rounds HALF_UP on ``BigDecimal(Double.toString(v))`` — the
    SHORTEST round-trip decimal representation — not on the binary
    value. The vectorized fast path (ties-away-from-zero on the binary
    fraction) agrees everywhere except within a few ULP of a ``k.5``
    boundary, where the shortest decimal repr can sit on the other
    side of the tie; those (rare) elements are re-done through
    ``decimal.Decimal(repr(v))`` — Python's repr is the same shortest
    round-trip decimal as Java's Double.toString — with
    ROUND_HALF_UP, the exact BigDecimal semantics. NaN/±inf pass
    through like Spark's special case. Sign-of-zero differences are
    irrelevant downstream (the rounded value feeds an integer-band
    astype)."""
    import decimal

    with np.errstate(invalid="ignore"):
        ax = np.abs(x)
        fl = np.floor(ax)
        frac = ax - fl  # inf - inf → NaN, masked by the isfinite below
        mag = np.where(frac >= 0.5, fl + 1.0, fl)
        out = np.where(x < 0, -mag, mag)
        out = np.where(np.isfinite(x), out, x)
        tol = 4.0 * np.finfo(np.float64).eps * np.maximum(ax, 1.0)
        amb = np.abs(frac - 0.5) <= tol
    if amb.any():
        flat = out.reshape(-1)
        xf = np.asarray(x, dtype="float64").reshape(-1)
        for i in np.flatnonzero(amb.reshape(-1)):
            d = decimal.Decimal(repr(float(xf[i]))).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
            flat[i] = float(d)
    return out


_WARP_KERNELS = ("near", "bilinear", "cubic")


def _check_warp_resampling(info: dict, resampling: str) -> None:
    """Plan-time gate shared by both size-class routes."""
    if resampling not in _WARP_KERNELS:
        if info.get("row_ni") is not None:
            raise NotImplementedError(
                "reduced (ragged-row) grids resample nearest, bilinear, "
                "or cubic only"
            )
        raise ValueError(f"unknown resampling {resampling!r}")
    if resampling != "near" and info.get("stagger_x"):
        raise NotImplementedError(
            "staggered-grid source with kernel resampling "
            "(nearest only; re-grid first)"
        )


def _floor_long(x: np.ndarray) -> np.ndarray:
    """Spark's ``CAST(floor(x) AS BIGINT)``: Java's ``(long)`` narrowing
    maps NaN to 0 and saturates (clipped at ±2^62 here — outside every
    grid either way)."""
    f = np.floor(x)
    return np.where(
        np.isnan(f), 0.0, np.clip(f, -(2.0 ** 62), 2.0 ** 62)
    ).astype(np.int64)


def _row_len(row_ni, syn: np.ndarray) -> np.ndarray:
    """Ragged-row width of source row ``syn`` (0 outside the grid)."""
    ok = (syn >= 0) & (syn < len(row_ni))
    return np.where(ok, np.asarray(row_ni)[np.clip(syn, 0, len(row_ni) - 1)], 0)


def _tile_taps(fsx, fsy, src: dict, resampling: str) -> list[tuple]:
    """The index step of :func:`build_tile`: source taps ``(rows, cols,
    in_bounds, weight)`` (weight None for ``near``) in the join warp's
    contribution order — each rule the op-for-op numpy twin of its SQL
    in :func:`_resampled_pixels`."""
    h, w, row_ni = src["height"], src["width"], src["row_ni"]
    if row_ni is not None:
        # ragged rows (reduced grids): each row indexes its own x
        # spacing — 360/rn on global circles, span/(rn−1) on
        # endpoint-inclusive regional rows
        lon = fsx * src["transform"][1] + src["transform"][0]
        lf, span = src["lon_first"], src["lon_span"]

        def row_u(rn):
            if span is not None:
                return (lon - lf) * (rn - 1) / span
            return (lon - lf) * rn / 360.0

    if resampling == "near":
        syn = _floor_long(fsy)
        oky = (syn >= 0) & (syn < h)
        if row_ni is not None:
            rn = _row_len(row_ni, syn)
            k = _floor_long(row_u(rn) + 0.5)
            sxn = np.mod(k, np.maximum(rn, 1)) if src["lon_global"] else k
            return [(syn, sxn, oky & (rn > 0) & (sxn >= 0) & (sxn < rn), None)]
        st = src["stagger_x"]  # staggered rows: parity picks the offset
        off = np.where(np.mod(syn, 2) == 0, float(st[0]), float(st[1])) if st else 0.0
        sxn = _floor_long(fsx - off)
        return [(syn, sxn, oky & (sxn >= 0) & (sxn < w), None)]

    ks = range(*((0, 2) if resampling == "bilinear" else (-1, 3)))
    taps = []
    if row_ni is not None:
        # (ky, kx) order; the x weight sees the UNWRAPPED neighbor
        wrap = span is None and src["lon_global"]
        for ky in ks:
            syn = _floor_long(fsy - 0.5) + ky
            wy = _kernel_np(fsy - (syn + 0.5), resampling)
            rn = _row_len(row_ni, syn)
            u = row_u(rn)
            k0 = _floor_long(u)
            for kx in ks:
                k = k0 + kx
                sxn = np.mod(k, np.maximum(rn, 1)) if wrap else k
                ok = (syn >= 0) & (syn < h) & (sxn >= 0) & (sxn < rn)
                taps.append((syn, sxn, ok, wy * _kernel_np(u - k, resampling)))
        return taps
    ibx, iby = _floor_long(fsx - 0.5), _floor_long(fsy - 0.5)
    ys = [(iby + ky, _kernel_np(fsy - (iby + ky + 0.5), resampling))
          for ky in ks]
    for kx in ks:  # (kx, ky) order
        sxn = ibx + kx
        wx = _kernel_np(fsx - (sxn + 0.5), resampling)
        for syn, wy in ys:
            ok = (sxn >= 0) & (sxn < w) & (syn >= 0) & (syn < h)
            taps.append((syn, sxn, ok, wx * wy))
    return taps


def build_tile(
    fsx: np.ndarray,
    fsy: np.ndarray,
    src: dict,
    resampling: str,
    dense: bool = False,
    compression: str | None = None,
) -> list[tuple[int, list[bytes]]]:
    """One output tile from its ``bs×bs`` fractional source coordinate
    planes ``fsx``/``fsy`` (broadcast views of per-axis vectors work as
    well) — the pure-numpy warp kernel of every broadcast-class import.
    ``src`` is the decoded source (:func:`_source_grids`). Returns
    ``[(step, [blob per band]), ...]``: like the join warp, a (tile,
    step) row exists only when a pixel has a value; ``dense`` emits the
    all-fill tile otherwise (the dense fill's literal).

    Layers: the index step (:func:`_tile_taps`); the gather — ``near``
    copies the containing cell, ``bilinear``/``cubic`` blend with the
    SQL ``SUM(CASE WHEN valid …)`` semantics: explode order, nodata/
    absent/out-of-bounds terms skipped, sums seeded with +0.0 like
    Spark's ``SUM`` (``0.0 + first term``: a lone −0.0 sums to +0.0),
    ``num/den`` where ``den <> 0``; then, shared, the nodata fill,
    Spark's HALF_UP ``round()`` for integer bands and the encode."""
    from raquet_spark.functions.bands import DTYPES, encode_block

    taps = _tile_taps(fsx, fsy, src, resampling)
    h, w, have = src["height"], src["width"], src["have"]
    shape = np.broadcast_shapes(np.shape(fsx), np.shape(fsy))
    idx = [(np.clip(r, 0, h - 1), np.clip(c, 0, w - 1)) for r, c, _, _ in taps]
    out = []
    for si in range(src["n_steps"]):
        oks = [ok if have is None else ok & have[si][ix]
               for (_, _, ok, _), ix in zip(taps, idx)]
        tiles, has_row = [], np.zeros(shape, dtype=bool)
        for name, btype, nodata in src["bands"]:
            g = src["grids"][name][si]
            if resampling == "near":
                valid = oks[0]
                vals = g[idx[0]][valid]
            else:
                num, den = np.zeros(shape), np.zeros(shape)
                for ix, ok, (_, _, _, wt) in zip(idx, oks, taps):
                    v = g[ix]
                    if nodata is not None:  # NaN nodata matches NaN
                        ok = ok & ~(np.isnan(v) if nodata != nodata
                                    else v == float(nodata))
                    num = np.where(ok, num + wt * v, num)
                    den = np.where(ok, den + wt, den)
                valid = den != 0.0
                vals = num[valid] / den[valid]
                if src["int_out"]:
                    vals = _round_half_up_spark(vals)
            tile = np.full(shape, 0 if nodata is None else nodata,
                           dtype=DTYPES[btype])
            tile[valid] = vals.astype(DTYPES[btype])
            tiles.append(tile)
            has_row |= valid
        if dense or has_row.any():
            out.append((si, [
                encode_block(t.reshape(-1), btype, compression)
                for t, (_, btype, _) in zip(tiles, src["bands"])
            ]))
    return out


def _source_grids(
    pdf: pd.DataFrame,
    info: dict,
    meta: dict,
    resampling: str,
    extra_key: str | None = None,
) -> dict:
    """The pixel table ``pdf`` (sx, sy, [extra_key], band...) as
    :func:`build_tile`'s input: a (steps, height, width) grid per band
    — the storage dtype for ``near`` (the assembly's own cast), the
    table's values for the kernels' blend — a presence mask ``have``
    when the table omits cells (GRIB bitmap-missing points), and the
    geometry the index step reads."""
    from raquet_spark.core.metadata import parse_nodata
    from raquet_spark.functions.bands import DTYPES

    h, w = info["height"], info["width"]
    bands = [
        (b["name"], b["type"], parse_nodata(b.get("nodata")))
        for b in meta["bands"]
    ]
    sx = pdf["sx"].to_numpy(dtype="int64")
    sy = pdf["sy"].to_numpy(dtype="int64")
    if extra_key is not None:
        tvals = np.sort(pdf[extra_key].unique())
        ti = np.searchsorted(tvals, pdf[extra_key].to_numpy())
    else:
        tvals, ti = None, 0
    nt = len(tvals) if tvals is not None else 1
    grids = {}
    for name, btype, _ in bands:
        vals = pdf[name].to_numpy()
        dtype = DTYPES[btype] if resampling == "near" else vals.dtype
        grids[name] = np.zeros((nt, h, w), dtype=dtype)
        grids[name][ti, sy, sx] = vals.astype(dtype)
    have = None
    if len(pdf) < nt * h * w:
        have = np.zeros((nt, h, w), dtype=bool)
        have[ti, sy, sx] = True
    return {
        "grids": grids, "have": have, "tvals": tvals, "n_steps": nt,
        "bands": bands, "int_out": np.dtype(info["dtype"]).kind in "iu",
        "height": h, "width": w,
        **{k: info.get(k) for k in ("transform", "stagger_x", "row_ni",
                                    "lon_first", "lon_span", "lon_global")},
    }


def _broadcast_tiles(
    spark: SparkSession,
    pdf: pd.DataFrame,
    info: dict,
    meta: dict,
    tile_ext: tuple[int, int, int, int],
    resampling: str,
    extra_key: str | None = None,
    dense: bool = False,
) -> DataFrame:
    """The broadcast-class import: the decoded source (the rows a
    broadcast join would pull to the driver, as packed ndarrays) is
    broadcast and :func:`build_tile` builds every output tile inside
    one ``mapInPandas`` — no join, no exchange. Separable sources
    (:func:`_is_separable`) feed it per-tile slices of per-axis
    vectors (:func:`_separable_src_fs`) over one ``spark.range`` row
    per tile; every other source feeds it the JVM-computed per-pixel
    planes of :func:`_target_grid`, streamed whole tiles at a time."""
    from raquet_spark.functions import quadbin as qb
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    z, bs = meta["tiling"]["max_zoom"], meta["tiling"]["block_width"]
    compression = meta["compression"]
    tx0, ty0, tx1, ty1 = tile_ext
    ntx = tx1 - tx0 + 1
    n_tiles = ntx * (ty1 - ty0 + 1)
    src = _source_grids(pdf, info, meta, resampling, extra_key)
    keys = ["block"] + ([extra_key] if extra_key is not None else [])
    names = [name for name, _, _ in src["bands"]]
    schema = ", ".join([f"{k} {'bigint' if k == 'block' else 'double'}"
                        for k in keys] + [f"{n} binary" for n in names])

    def emit(out: dict, tid: int, fsx, fsy, src_b: dict) -> None:
        block = qb.py_tile_to_cell(tx0 + tid % ntx, ty0 + tid // ntx, z)
        for si, blobs in build_tile(
            fsx, fsy, src_b, resampling, dense, compression
        ):
            out["block"].append(block)
            if extra_key is not None:
                out[extra_key].append(float(src_b["tvals"][si]))
            for name, blob in zip(names, blobs):
                out[name].append(blob)

    if _is_separable(info):
        fsx, fsy = _separable_src_fs(spark, info, z, bs, tile_ext)
        bvar = spark.sparkContext.broadcast((fsx, fsy, src))
        # ~8 tiles per task floor: a per-tile build is ~ms, so one
        # task per tile at high core counts is pure scheduling overhead
        n_part = max(
            1,
            min(spark.sparkContext.defaultParallelism, (n_tiles + 7) // 8),
        )

        def build(batches):
            fsx_b, fsy_b, src_b = bvar.value
            for task_pdf in batches:
                out = {k: [] for k in keys + names}
                for tid in task_pdf["id"].tolist():
                    x0, y0 = (tid % ntx) * bs, (tid // ntx) * bs
                    emit(out, tid, fsx_b[None, x0:x0 + bs],
                         fsy_b[y0:y0 + bs, None], src_b)
                yield pd.DataFrame(out)

        return spark.range(0, n_tiles, 1, n_part).mapInPandas(
            build, schema=schema
        )

    tgt, fsy_rows = _target_grid(spark, info, z, bs, tile_ext)
    bvar = spark.sparkContext.broadcast((fsy_rows, src))
    npx = bs * bs

    def build_planes(batches):
        fsy_rows_b, src_b = bvar.value
        pending, n_pending = [], 0
        for part in batches:
            pending.append(part)
            n_pending += len(part)
            if n_pending < npx:
                continue
            cat = pd.concat(pending, ignore_index=True)
            n_full = n_pending // npx * npx
            tids = cat["_tid"].to_numpy()
            fx = cat["fsx"].to_numpy(dtype="float64")
            fy = (cat["fsy"].to_numpy(dtype="float64")
                  if fsy_rows_b is None else fsy_rows_b)
            out = {k: [] for k in keys + names}
            for k in range(0, n_full, npx):
                tid = int(tids[k])
                # whole tiles, in order: one range row per tile
                if tids[k + npx - 1] != tid:
                    raise ValueError("target grid is not tile-contiguous")
                if fsy_rows_b is None:
                    fsy = fy[k:k + npx].reshape(bs, bs)
                else:
                    fsy = fy[(tid // ntx) * bs:][:bs, None]
                emit(out, tid, fx[k:k + npx].reshape(bs, bs), fsy, src_b)
            pending = [cat.iloc[n_full:]]
            n_pending -= n_full
            yield pd.DataFrame(out)
        if n_pending:
            raise ValueError("target grid ended mid-tile")

    cols = ["_tid", "fsx"] + (["fsy"] if fsy_rows is None else [])
    return tgt.select(*cols).mapInPandas(build_planes, schema=schema)


def warp_tiles(
    spark: SparkSession,
    px: DataFrame,
    info: dict,
    meta: dict,
    tile_ext: tuple[int, int, int, int],
    resampling: str,
    extra_key: str | None = None,
    n_steps: int = 1,
    dense: bool = False,
    local_px=None,
) -> DataFrame:
    """The ONE import route of the target-driven resamplings
    (``near``/``bilinear``/``cubic``, GDAL's inverse-mapping warp) for
    the GeoTIFF, NetCDF and GRIB importers, chosen by the source size
    class alone (:func:`gather_is_broadcast`):

    * ≤ ~100 MB: :func:`_broadcast_tiles` — collect the decoded source
      once, build each tile with :func:`build_tile`, map-only;
    * larger: :func:`_resampled_pixels` (shuffled hash gather join) →
      the grouped tile assembly (:func:`_pixel_tiles`).

    ``px``: the (sx, sy, [extra_key], band...) pixel table, one grid
    per step; ``local_px`` optionally decodes it on the driver for the
    broadcast class; ``dense`` adds the extent's all-nodata tiles."""
    _check_warp_resampling(info, resampling)
    if gather_is_broadcast(info, n_steps):
        pdf = local_px() if local_px is not None else px.toPandas()
        return _broadcast_tiles(
            spark, pdf, info, meta, tile_ext, resampling, extra_key, dense
        )
    t = meta["tiling"]
    pixels = _resampled_pixels(
        spark, px, info, t["max_zoom"], t["block_width"], resampling,
        tile_ext, extra_cols=(extra_key,) if extra_key else (),
        n_steps=n_steps,
    )
    return _pixel_tiles(spark, pixels, meta, tile_ext, extra_key, dense)


def _pixel_tiles(
    spark: SparkSession,
    pixels: DataFrame,
    meta: dict,
    tile_ext: tuple[int, int, int, int],
    extra_key: str | None = None,
    dense: bool = False,
) -> DataFrame:
    """Warped (gx, gy, [extra_key], band...) pixels → tile rows via
    :func:`operators.tiling.from_pixel_table`; ``dense`` adds the
    covering extent's missing tiles (the reference warps the full
    covering grid) as one driver-encoded nodata literal per band on
    the anti-joined missing cells."""
    from raquet_spark.core.metadata import parse_nodata
    from raquet_spark.functions import quadbin as qbf
    from raquet_spark.functions.bands import DTYPES, encode_block
    from raquet_spark.operators.tiling import from_pixel_table

    tiles = from_pixel_table(
        pixels, meta, compression=meta["compression"],
        extra_keys=((extra_key, "double"),) if extra_key else (),
    )
    if not dense:
        return tiles
    z, bs = meta["tiling"]["max_zoom"], meta["tiling"]["block_width"]
    tx0, ty0, tx1, ty1 = tile_ext
    cell = qbf.tile_to_cell_sql("x", "y", z, "spark")
    full = spark.sql(
        f"""
        SELECT {cell} AS block
        FROM (SELECT explode(sequence({tx0}, {tx1})) AS x)
        CROSS JOIN (SELECT explode(sequence({ty0}, {ty1})) AS y)
        """
    )
    missing = full.join(tiles.select("block"), "block", "left_anti")
    fill_cols = []
    for b in meta["bands"]:
        nodata = parse_nodata(b.get("nodata"))
        blob = encode_block(
            np.full(bs * bs, 0 if nodata is None else nodata,
                    dtype=DTYPES[b["type"]]),
            b["type"], meta["compression"],
        )
        fill_cols.append(F.lit(bytearray(blob)).alias(b["name"]))
    return tiles.unionByName(missing.select("block", *fill_cols))


def _resampled_pixels(
    spark: SparkSession,
    px: DataFrame,
    info: dict,
    z: int,
    block_size: int,
    resampling: str,
    tile_ext: tuple[int, int, int, int],
    extra_cols: tuple[str, ...] = (),
    n_steps: int = 1,
) -> DataFrame:
    """Target-driven warp to a (gx, gy, [extra_cols], band...) pixel
    table (the reference's --resampling, raquet/cli.py:457)
    — the route past the broadcast class, and the reference the
    per-tile kernel (:func:`build_tile`) is pinned byte-identical to.
    Each target pixel of :func:`_target_grid` carries its fractional
    source coordinates; ``near`` joins the containing cell,
    ``bilinear``/``cubic`` explode the 2×2 / 4×4 neighborhood (4×/16×
    the OUTPUT, never source×target), gather with one (sx, sy)
    equi-join and blend nodata-renormalized in one groupBy(target
    pixel) — order-stable, as each pixel's contributions are exploded
    from its own row."""
    _check_warp_resampling(info, resampling)
    ox, a = info["transform"][:2]
    tgt, fsy_rows = _target_grid(spark, info, z, block_size, tile_ext)
    if fsy_rows is not None:
        # IRREGULAR row latitudes (Gaussian grids, GRIB 3.40): the
        # driver-computed per-target-ROW fsy is broadcast-joined on gy
        # — npy entries, O(thousands); everything else (the x affine,
        # the gather joins, the kernels) is untouched
        gy0 = tile_ext[1] * block_size
        gys = np.arange(gy0, gy0 + len(fsy_rows))
        row_ni = info.get("row_ni")  # reduced grids: ragged row widths
        rn_t = (np.zeros(len(gys), dtype="i8") if row_ni is None else
                _row_len(row_ni, np.floor(fsy_rows).astype("i8")))
        rowmap = spark.createDataFrame(
            pa.table({
                "gy": gys.astype("i8"),
                "_fsy_row": np.asarray(fsy_rows, dtype="f8"),
                "_rn": np.asarray(rn_t, dtype="i8"),
            }),
            "gy bigint, _fsy_row double, _rn bigint",
        )
        tgt = (
            tgt.drop("fsy")
            .join(F.broadcast(rowmap), "gy")
            .withColumnRenamed("_fsy_row", "fsy")
        )
    n_bands = info["n_bands"]
    band_cols = [f"band_{i + 1}" for i in range(n_bands)]
    # the importer knows the exact source size at plan time — decide
    # the gather-join strategy explicitly instead of letting Catalyst
    # size-estimate the mapInPandas decode output (it propagates the
    # tiny segment-list size, so the threshold would broadcast ANY
    # source, including one too large to hash-build on the driver):
    # broadcast when the raw source fits ~100 MB, pin a shuffled hash
    # join above it (partitioned co-location, no driver funnel).
    # n_steps: the px table carries ONE FULL GRID PER TIME STEP
    # (GRIB/NetCDF multi-step imports, extra_cols=("time_cf",)), so the
    # broadcast-side size is grid_bytes x steps — a 0.25-deg global
    # grid is ~8 MB/step but 100+ forecast steps make it ~1 GB, past
    # the 8 GB broadcast limit's comfort zone and a driver OOM risk.
    broadcast_src = gather_is_broadcast(info, n_steps)
    src_rows = info["width"] * info["height"] * max(1, int(n_steps))

    def _hinted(src: DataFrame) -> DataFrame:
        if broadcast_src:
            return F.broadcast(src)
        # the SHJ path must also size its own width (r15, probe-found):
        # at the session default a >100 MB source splits into
        # src_rows/width per-task hash builds — 61M pixel rows over 32
        # tasks OOMed the build ("not enough memory to build hash
        # map"). The importer knows src_rows exactly; a NUMBERED
        # repartition on the join keys pins the width against AQE
        # coalescing (the build blow-up is in-memory state, invisible
        # to byte-based coalescing) and the target side co-shuffles to
        # match. 250k rows/task keeps each build ~tens of MB.
        from raquet_spark.session import derive_shuffle_width

        w = derive_shuffle_width(
            spark, src_rows, target_rows_per_task=250_000
        )
        return src.repartition(w, "sxn", "syn").hint("shuffle_hash")
    if resampling == "near":
        # GDAL's nearest semantics: the source CELL CONTAINING each
        # target center (inverse mapping) — DENSE output even when the
        # target out-resolves the source, unlike the forward argmin
        # which leaves holes wherever no source center lands. One
        # equi-join, ≤1 source row per target pixel, values copied
        # verbatim (nodata included).
        if info.get("row_ni") is not None:
            # ragged rows (reduced Gaussian): the x lookup is per-row
            # — recover the target lon from the affine fsx, then index
            # into the row's own 360/_rn spacing, wrapping on global
            # circles. Same containing-cell convention as floor(fsx)
            # (centers sit at k + 0.5).
            lon_e = f"(fsx * {a} + {ox})"
            lf = info.get("lon_first", 0.0)
            span = info.get("lon_span")
            if span is not None:
                # regional endpoint-INCLUSIVE rows (GRIB1/GRIB2
                # quasi-regular lat/lon): pl points span lon_span with
                # spacing span/(pl-1); nearest point by rounding. NO
                # mod-360 wrap here: antimeridian-straddling regional
                # grids are typed-gated at parse time, and a wrap
                # would push targets half a spacing WEST of column 0
                # (which round to 0, like the affine path's west edge)
                # to a spurious nodata seam.
                k_e = (
                    f"CAST(floor(({lon_e} - {lf}) * (_rn - 1) "
                    f"/ {span}D + 0.5D) AS BIGINT)"
                )
            else:
                k_e = (
                    f"CAST(floor(({lon_e} - {lf}) * _rn / 360.0D + 0.5D) "
                    "AS BIGINT)"
                )
            sx_e = (
                f"((({k_e}) % _rn) + _rn) % _rn"
                if info.get("lon_global") else k_e
            )
            cells = (
                tgt.where("_rn > 0")
                .selectExpr(
                    "gx", "gy", "_rn",
                    f"{sx_e} AS sxn",
                    "CAST(floor(fsy) AS BIGINT) AS syn",
                )
                .where(
                    "sxn >= 0 AND sxn < _rn "
                    f"AND syn >= 0 AND syn < {info['height']}"
                )
                .select("gx", "gy", "sxn", "syn")
            )
        else:
            st = info.get("stagger_x")
            if st:
                # staggered rows (GRIB flag-table 3.4 bits 5/6): the
                # containing source cell of a row whose centers are
                # shifted by `off` samples is floor(fsx - off) — row
                # parity decides which offset applies
                sx_e = (
                    f"CAST(floor(fsx - (CASE WHEN pmod(syn, 2) = 0 "
                    f"THEN {st[0]}D ELSE {st[1]}D END)) AS BIGINT)"
                )
                cells = tgt.selectExpr(
                    "gx", "gy", "fsx",
                    "CAST(floor(fsy) AS BIGINT) AS syn",
                ).selectExpr("gx", "gy", f"{sx_e} AS sxn", "syn")
            else:
                cells = tgt.selectExpr(
                    "gx", "gy",
                    "CAST(floor(fsx) AS BIGINT) AS sxn",
                    "CAST(floor(fsy) AS BIGINT) AS syn",
                )
            cells = cells.where(
                f"sxn >= 0 AND sxn < {info['width']} "
                f"AND syn >= 0 AND syn < {info['height']}"
            )
        src = _hinted(px.selectExpr(
            "sx AS sxn", "sy AS syn", *extra_cols, *band_cols
        ))
        return cells.join(src, ["sxn", "syn"]).select(
            "gx", "gy", *extra_cols, *band_cols
        )

    if info.get("row_ni") is not None:
        # ragged-row (reduced-grid) kernel resampling: the 2 (bilinear)
        # or 4 (cubic) candidate rows come from the piecewise fsy, and
        # each row has its OWN x spacing — 360/rn on global circles
        # (centers at k·360/rn, neighbors wrap), span/(rn−1)
        # endpoint-inclusive regional rows. The gathered neighbors
        # carry separable kernel weights wy·wx evaluated in each row's
        # own index space (x offsets are exact per row; the y kernel
        # rides the piecewise row coordinate); dropped edge / nodata
        # contributions renormalize in the shared blend below —
        # candidate volume is 4×/16× the OUTPUT, same as the affine
        # path at the matching kernel.
        row_ni = np.asarray(info["row_ni"], dtype="i8")
        rows_df = spark.createDataFrame(
            pa.table({"syn": np.arange(len(row_ni)), "_rn": row_ni}),
            "syn bigint, _rn bigint",
        )
        lon_e = f"(fsx * {a} + {ox})"
        lf = info.get("lon_first", 0.0)
        span = info.get("lon_span")
        u_e = (
            # no mod-360 wrap (straddling regional grids are gated at
            # parse; a wrap would nodata the half-spacing west edge —
            # same convention as the nearest path above)
            f"(({lon_e}) - {lf}) * (_rn - 1) / {span}D"
            if span is not None
            else f"(({lon_e}) - {lf}) * _rn / 360.0D"
        )
        klo, khi = (0, 1) if resampling == "bilinear" else (-1, 2)
        rows_c = tgt.selectExpr(
            "gx", "gy", "fsx", "fsy",
            "CAST(floor(fsy - 0.5D) AS BIGINT) AS _j0",
        ).selectExpr(
            "gx", "gy", "fsx", "fsy", "_j0",
            f"explode(sequence({klo}, {khi})) AS _ky",
        ).selectExpr(
            "gx", "gy", "fsx", "fsy", "_j0 + _ky AS syn",
        ).where(f"syn >= 0 AND syn < {info['height']}").selectExpr(
            "gx", "gy", "fsx", "syn",
            f"{_kernel_sql('fsy - (syn + 0.5D)', resampling)} AS _wy",
        )
        rows_c = rows_c.join(F.broadcast(rows_df), "syn")
        contrib = rows_c.selectExpr(
            "gx", "gy", "syn", "_wy", "_rn",
            f"{u_e} AS _u",
        ).selectExpr(
            "gx", "gy", "syn", "_wy", "_rn", "_u",
            "CAST(floor(_u) AS BIGINT) AS _k0",
            f"explode(sequence({klo}, {khi})) AS _kx",
        ).selectExpr(
            "gx", "gy", "syn", "_rn",
            (
                "pmod(_k0 + _kx, _rn) AS sxn"
                if span is None and info.get("lon_global")
                else "_k0 + _kx AS sxn"
            ),
            # x weight from the UNWRAPPED neighbor index, so the
            # kernel sees the true signed offset at the seam
            f"_wy * {_kernel_sql('_u - (_k0 + _kx)', resampling)} AS w",
        ).where("sxn >= 0 AND sxn < _rn").drop("_rn")
    else:
        lo, hi = (0, 1) if resampling == "bilinear" else (-1, 2)
        contrib = (
            tgt.selectExpr(
                "gx", "gy", "fsx", "fsy",
                f"CAST(floor(fsx - 0.5D) AS BIGINT) AS ibx",
                f"explode(sequence({lo}, {hi})) AS kx",
            )
            .selectExpr(
                "gx", "gy", "fsx", "fsy", "ibx + kx AS sxn",
                f"explode(sequence({lo}, {hi})) AS ky",
            )
            .selectExpr(
                "gx", "gy", "fsx", "fsy", "sxn",
                "CAST(floor(fsy - 0.5D) AS BIGINT) + ky AS syn",
            )
            .where(
                f"sxn >= 0 AND sxn < {info['width']} AND syn >= 0 AND syn < {info['height']}"
            )
            .selectExpr(
                "gx", "gy", "sxn", "syn",
                f"{_kernel_sql('fsx - (sxn + 0.5D)', resampling)}"
                f" * {_kernel_sql('fsy - (syn + 0.5D)', resampling)} AS w",
            )
        )
    src = _hinted(
        px.selectExpr("sx AS sxn", "sy AS syn", *extra_cols, *band_cols)
    )
    joined = contrib.join(src, ["sxn", "syn"])
    nodata = info["nodata"]
    aggs = []
    int_out = np.dtype(info["dtype"]).kind in "iu"
    for bcol in band_cols:
        valid = "TRUE" if nodata is None else f"NOT ({bcol} <=> CAST({nodata} AS DOUBLE))"
        num = f"SUM(CASE WHEN {valid} THEN w * {bcol} END)"
        den = f"SUM(CASE WHEN {valid} THEN w END)"
        blend = f"CASE WHEN {den} <> 0.0D THEN {num} / {den} END"
        if int_out:
            blend = f"round({blend})"  # GDAL rounds for integer bands
        aggs.append(F.expr(blend).alias(bcol))
    blended = joined.groupBy("gx", "gy", *extra_cols).agg(*aggs)
    # a target pixel every band of which saw only nodata has no source
    # information — drop it (matching the near path's sparse output);
    # partially-valid pixels keep per-band nodata fills
    blended = blended.where(
        " OR ".join(f"{b} IS NOT NULL" for b in band_cols)
    )
    if nodata is not None:
        blended = blended.select(
            "gx",
            "gy",
            *extra_cols,
            *[
                F.coalesce(F.col(b), F.lit(float(nodata))).alias(b)
                for b in band_cols
            ],
        )
    return blended


def geotiff_to_raquet(
    spark: SparkSession,
    path: str,
    zoom: int | None = None,
    block_size: int = 256,
    compression: str | None = "gzip",
    stats: bool = True,
    zoom_strategy: str = "upper",
    dense: bool = True,
    resampling: str = "near",
) -> tuple[DataFrame, dict]:
    """Read a real GeoTIFF and produce (tiles, metadata) on the
    web-mercator RaQuet grid — raster2raquet's convert path: segment
    decode → warp + tile assembly → optional per-tile stats.
    ``near``/``bilinear``/``cubic`` take :func:`warp_tiles`; the
    reducing kernels forward-map every source sample and reduce per
    target pixel (:func:`aggregate_warp`) before the grouped
    assembly."""
    info = read_tiff_structure(path)
    z = zoom if zoom is not None else _pick_zoom(info, block_size, zoom_strategy)
    px = tiff_pixel_table(spark, info)

    # bounds = covering-tile extent at the target zoom (tile-aligned,
    # like the reference's union of mercantile tile bounds); the corner
    # min/max handles bottom-up files (positive y step, e.g. n37_w123's
    # ModelTransformation) and rotated projected corners (AEA)
    bounds, tile_ext = _tile_aligned_bounds(_lonlat_corners(info), z)
    if resampling not in _WARP_KERNELS + _AGG_KERNELS:
        raise ValueError(f"unknown resampling {resampling!r}")
    meta = _tiff_metadata(info, z, block_size, compression, stats, bounds,
                          tile_ext)

    if resampling in _WARP_KERNELS:
        # uncompressed chunky sources decode on the driver when the
        # route collects them there anyway (raw byte ranges);
        # compressed/planar keep the distributed decode
        local = info["compression"] == 1 and not (
            info.get("planar", 1) == 2 and info["n_bands"] > 1
        )
        tiles = warp_tiles(
            spark, px, info, meta, tile_ext, resampling, dense=dense,
            local_px=(
                (lambda: tiff_pixel_table(spark, info, local=True))
                if local else None
            ),
        )
    else:
        if info["epsg"] == 3857:
            ox, sxr, rxr, oy, ryr, syr = info["transform"]
            px = px.withColumn(
                "_mx", F.expr(f"{ox} + (sx + 0.5) * {sxr} + (sy + 0.5) * {rxr}")
            ).withColumn(
                "_my", F.expr(f"{oy} + (sx + 0.5) * {ryr} + (sy + 0.5) * {syr}")
            )
        else:
            steps, lon_e, lat_e = _lonlat_steps(info)
            for name, expr in steps:
                px = px.withColumn(name, F.expr(expr))
            px = (
                px.withColumn("_lon", F.expr(lon_e))
                .withColumn("_lat", F.expr(lat_e))
                .withColumn("_mx", F.expr(f"_lon * {math.pi / 180.0 * _EARTH_R}"))
                .withColumn(
                    "_my",
                    F.expr(
                        f"{_EARTH_R} * ln(tan({math.pi / 4.0} + radians(_lat) / 2.0))"
                    ),
                )
            )
        band_cols = [f"band_{b + 1}" for b in range(info["n_bands"])]
        pixels = aggregate_warp(
            px, z, block_size, band_cols, resampling, info["nodata"]
        )
        tiles = _pixel_tiles(spark, pixels, meta, tile_ext, dense=dense)
    if stats:
        from raquet_spark.operators.tile_stats import with_tile_stats

        tiles = with_tile_stats(tiles, meta)
    return tiles, meta


def _tiff_metadata(
    info: dict,
    z: int,
    block_size: int,
    compression: str | None,
    stats: bool,
    bounds: tuple[float, float, float, float],
    tile_ext: tuple[int, int, int, int],
) -> dict:
    """RaQuet metadata of a GeoTIFF import."""
    tx0, ty0, tx1, ty1 = tile_ext

    # GDAL-style color interpretation, as the reference records it:
    # palette > gray (single band) > RGB(A)
    n_bands = info["n_bands"]
    if info["palette"]:
        interp = ["palette"] + ["undefined"] * (n_bands - 1)
    elif n_bands == 1:
        interp = ["gray"]
    elif n_bands in (3, 4):
        interp = ["red", "green", "blue", "alpha"][:n_bands]
    else:
        interp = ["undefined"] * n_bands
    bands = [
        BandMeta(
            name=f"band_{b + 1}",
            # normalize '<i2'/'>i2' → 'int16' (RaQuet band types are
            # endian-free; blobs re-encode little-endian)
            type=str(np.dtype(info["dtype"]).newbyteorder("=")),
            nodata=info["nodata"],
            colortable=info["palette"] if b == 0 else None,
            colorinterp=interp[b],
        )
        for b in range(n_bands)
    ]
    return build_metadata(
        bands=bands,
        bounds=bounds,
        # tile-aligned output raster dims, like the reference metadata
        width=(tx1 - tx0 + 1) * block_size,
        height=(ty1 - ty0 + 1) * block_size,
        block_width=block_size,
        block_height=block_size,
        min_zoom=z,
        max_zoom=z,
        compression=compression,
        tile_statistics=stats,
    )
