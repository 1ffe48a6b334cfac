"""NetCDF classic-format (CDF-1/CDF-2/CDF-5) ingestion — no netCDF4/GDAL.

Reference parity: the reference converts ``.nc`` inputs through GDAL
with CF time support (/root/reference/raquet/cli.py:92,
raster2raquet.py:267 ``parse_cf_time_units``, :374 time metadata from
the NetCDF domain). This module parses the header from the public
NetCDF classic specification (magic ``CDF\\x01``/``\\x02``/``\\x05`` —
CDF-5 is pnetcdf's 64-bit-data variant with widened sizes and
unsigned/64-bit types), reads the
small coordinate variables (lat/lon/time) on the driver, and decodes
the data variable DISTRIBUTED: row-range chunk tasks fan out through
``mapInPandas``, each task seeking its byte range — the same shape as
the GeoTIFF segment decode (tiff_reader.tiff_pixel_table). The warp to
the RaQuet mercator grid is the shared import route
(tiff_reader.warp_tiles); every time step rides the same warp
(``time_cf`` is an extra tile key).

Scope: classic CDF-1/CDF-2/CDF-5 parsed here; NetCDF-4 (HDF5 container)
dispatches to the from-scratch reader in sources/hdf5.py (same
structure dict, same distributed decode contract — no h5py needed).
One data variable per call, regular lat/lon grid (CF "coordinate
variables"), optional unlimited time dimension, ``scale_factor``/
``add_offset``/``_FillValue`` applied on decode.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# nc_type -> (big-endian numpy dtype, size); 7-11 are the CDF-5
# (64-bit data, pnetcdf) additions
_NC_DTYPES = {
    1: "i1",  # NC_BYTE
    2: "S1",  # NC_CHAR
    3: ">i2",  # NC_SHORT
    4: ">i4",  # NC_INT
    5: ">f4",  # NC_FLOAT
    6: ">f8",  # NC_DOUBLE
    7: "u1",  # NC_UBYTE
    8: ">u2",  # NC_USHORT
    9: ">u4",  # NC_UINT
    10: ">i8",  # NC_INT64
    11: ">u8",  # NC_UINT64
}

_ABSENT = 0
_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C


class _Reader:
    def __init__(self, buf: bytes, wide: bool = False):
        self.buf = buf
        self.pos = 0
        self.wide = wide  # CDF-5: sizes/counts/offsets are 64-bit

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.buf, self.pos)
        self.pos += 8
        return v

    def nn(self) -> int:
        """NON_NEG per the classic spec: 32-bit in CDF-1/2, 64-bit in
        CDF-5 (pnetcdf 64-bit data format)."""
        return self.u64() if self.wide else self.u32()

    def name(self) -> str:
        n = self.nn()
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += (n + 3) // 4 * 4  # names pad to 4-byte boundary
        return s

    def attr_values(self, nc_type: int, n: int):
        dt = np.dtype(_NC_DTYPES[nc_type])
        nbytes = dt.itemsize * n
        raw = self.buf[self.pos : self.pos + nbytes]
        self.pos += (nbytes + 3) // 4 * 4
        if nc_type == 2:
            return raw.decode("utf-8", errors="replace")
        vals = np.frombuffer(raw, dtype=dt)
        return vals.tolist() if n > 1 else vals[0].item()


def _attr_list(r: _Reader) -> dict:
    tag = r.u32()
    count = r.nn()
    if tag == _ABSENT:
        return {}
    assert tag == _NC_ATTRIBUTE, f"bad attribute tag {tag}"
    out = {}
    for _ in range(count):
        name = r.name()
        nc_type = r.u32()
        n = r.nn()
        out[name] = r.attr_values(nc_type, n)
    return out


def read_netcdf_structure(path: str, header_bytes: int = 1 << 20) -> dict:
    """Parse the NetCDF header — classic (CDF-1/CDF-2) inline, or
    NetCDF-4 (HDF5 container, magic ``\\x89HDF``) via sources/hdf5.py —
    into one structure-dict shape: dimensions, global attributes,
    variables (dims, shape, attrs, dtype). ``numrecs`` and the record
    size are derived for classic unlimited-dimension variables."""
    from raquet_spark.sources.io import read_prefix

    buf = read_prefix(path, header_bytes)
    if buf[:4] == b"\x89HDF":
        from raquet_spark.sources.hdf5 import nc4_structure

        return nc4_structure(path)
    if buf[:3] != b"CDF" or buf[3] not in (1, 2, 5):
        raise ValueError(
            "not a NetCDF file (neither classic CDF-1/CDF-2/CDF-5 nor "
            "NetCDF-4/HDF5 magic)"
        )
    version = buf[3]
    # CDF-5 (pnetcdf 64-bit data): every NON_NEG size/count/offset
    # widens to 64-bit and types 7-11 (unsigned + 64-bit ints) appear
    r = _Reader(buf, wide=version == 5)
    r.pos = 4
    numrecs = r.nn()

    tag = r.u32()
    ndims = r.nn()
    dims: list[tuple[str, int]] = []
    if tag != _ABSENT:
        assert tag == _NC_DIMENSION, f"bad dimension tag {tag}"
        for _ in range(ndims):
            dims.append((r.name(), r.nn()))

    gatts = _attr_list(r)

    tag = r.u32()
    nvars = r.nn()
    variables: dict[str, dict] = {}
    if tag != _ABSENT:
        assert tag == _NC_VARIABLE, f"bad variable tag {tag}"
        for _ in range(nvars):
            name = r.name()
            nd = r.nn()
            dimids = [r.nn() for _ in range(nd)]
            vatts = _attr_list(r)
            nc_type = r.u32()
            vsize = r.nn()
            begin = r.u64() if version in (2, 5) else r.u32()
            is_record = bool(dimids) and dims[dimids[0]][1] == 0
            variables[name] = {
                "dims": [dims[i][0] for i in dimids],
                "shape": [
                    numrecs if dims[i][1] == 0 else dims[i][1] for i in dimids
                ],
                "attrs": vatts,
                "nc_type": nc_type,
                "dtype": _NC_DTYPES[nc_type],
                "vsize": vsize,
                "begin": begin,
                "record": is_record,
            }
    # record slab size = sum of record-var vsizes (classic interleaving)
    recsize = sum(v["vsize"] for v in variables.values() if v["record"])
    return {
        "path": path,
        "version": version,
        "numrecs": numrecs,
        "dims": dict(dims),
        "gatts": gatts,
        "variables": variables,
        "recsize": recsize,
    }


def read_coord_var(nc: dict, name: str) -> np.ndarray:
    """Driver-side read of a (small) coordinate variable; handles
    classic contiguous and record layouts, and all NetCDF-4 layouts."""
    if nc.get("format") == "hdf5":
        from raquet_spark.sources.hdf5 import h5_read_var

        return h5_read_var(nc, name).astype("f8")
    from raquet_spark.sources.io import range_reader

    v = nc["variables"][name]
    dt = np.dtype(v["dtype"])
    rd = range_reader(nc["path"])
    if not v["record"]:
        n = int(np.prod(v["shape"])) if v["shape"] else 1
        return np.frombuffer(
            rd(v["begin"], n * dt.itemsize), dtype=dt
        ).astype("f8")
    out = []
    for rec in range(nc["numrecs"]):
        out.append(np.frombuffer(
            rd(v["begin"] + rec * nc["recsize"], dt.itemsize), dtype=dt
        )[0])
    return np.array(out, dtype="f8")


def _short(name: str) -> str:
    """Group-qualified variable key -> its short (dimension) name."""
    return name.split("/")[-1]


def _find_coords(nc: dict) -> tuple[str | None, str, str]:
    """(time, lat, lon) coordinate variable names, by CF units/axis
    attributes first, well-known names second. Returned names are the
    full variable KEYS (group-qualified for NetCDF-4 group members —
    e.g. ``PRODUCT/lat``); dimension names stay short, so callers
    compare ``v["dims"]`` entries against ``_short(name)``."""
    time = lat = lon = None
    for name, v in nc["variables"].items():
        short = _short(name)
        units = str(v["attrs"].get("units", "")).lower()
        axis = str(v["attrs"].get("axis", "")).upper()
        if v["dims"] != [short] and short not in nc["dims"]:
            continue  # only coordinate variables (var name == dim name)
        if "since" in units or axis == "T":
            time = name
        elif units.startswith("degrees_north") or axis == "Y":
            lat = name
        elif units.startswith("degrees_east") or axis == "X":
            lon = name
    lat = lat or next(
        (n for n in nc["variables"]
         if _short(n) in ("lat", "latitude")), None,
    )
    lon = lon or next(
        (n for n in nc["variables"]
         if _short(n) in ("lon", "longitude")), None,
    )
    time = time or next(
        (n for n in nc["variables"] if _short(n) == "time"), None,
    )
    if not lat or not lon:
        raise ValueError("no lat/lon coordinate variables found")
    return time, lat, lon


def _pick_data_var(nc: dict, lat: str, lon: str, var: str | None) -> str:
    if var:
        return var
    for name, v in nc["variables"].items():
        if (
            v["dims"][-2:] == [_short(lat), _short(lon)]
            and name not in (lat, lon)
        ):
            return name
    raise ValueError(f"no data variable with trailing dims ({lat}, {lon})")


def netcdf_pixel_table(
    spark: SparkSession,
    nc: dict,
    var: str,
    rows_per_chunk: int = 128,
    local: bool = False,
) -> DataFrame:
    """Distributed decode of ``var`` to ``(time_cf?, sx, sy, band_1)``
    source-grid rows. One task per (step, row-range) chunk;
    ``scale_factor``/``add_offset`` applied, ``_FillValue``/
    ``missing_value`` → the scaled nodata value (kept as a value, like
    the TIFF path keeps nodata pixels).

    ``local=True`` (r18): run the SAME decode generator over the same
    task list on the driver and return one pandas DataFrame — for the
    broadcast-class warp, whose next step is a driver collect anyway
    (`tiff_reader.warp_tiles`). Classic-format slabs are raw byte ranges
    (no compression), so a ≤100 MB broadcast-class decode is
    memcpy-speed; values are identical by construction (same
    function). NetCDF-4/HDF5 stays distributed (chunk decompression
    is real CPU)."""
    if nc.get("format") == "hdf5":
        if local:
            raise ValueError("local decode is classic-format only")
        from raquet_spark.sources.hdf5 import h5_pixel_table

        return h5_pixel_table(spark, nc, var, rows_per_chunk)
    from raquet_spark.session import ensure_package_shipped

    if not local:
        ensure_package_shipped(spark)
    v = nc["variables"][var]
    path = nc["path"]
    time_name, lat, lon = _find_coords(nc)
    has_time = bool(v["record"]) or (
        time_name and v["dims"][0] == _short(time_name)
    )
    nlat = nc["dims"][lat]
    nlon = nc["dims"][lon]
    dt = np.dtype(v["dtype"])
    scale = float(v["attrs"].get("scale_factor", 1.0))
    offset = float(v["attrs"].get("add_offset", 0.0))
    fill = v["attrs"].get("_FillValue", v["attrs"].get("missing_value"))
    recsize = nc["recsize"] if v["record"] else 0
    begin = v["begin"]

    if has_time and time_name:
        tvals = [float(t) for t in read_coord_var(nc, time_name)]
        steps = list(enumerate(tvals))
    else:
        steps = [(0, 0.0)]
    if not v["record"] and has_time:
        # non-record time axis: steps are contiguous slabs of vsize/ntime
        slab = nlat * nlon * dt.itemsize
    else:
        slab = 0

    tasks = []
    for si, tval in steps:
        base = begin + (si * recsize if v["record"] else si * slab)
        for row0 in range(0, nlat, rows_per_chunk):
            nrows = min(rows_per_chunk, nlat - row0)
            tasks.append((tval, base + row0 * nlon * dt.itemsize, row0, nrows))
    task_pdf = pd.DataFrame(tasks, columns=["time_cf", "off", "row0", "nrows"])

    dts = str(dt)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from raquet_spark.sources.io import range_reader

        rd = range_reader(path)
        for pdf in batches:
            for row in pdf.to_dict("records"):
                nrows = int(row["nrows"])
                raw = np.frombuffer(
                    rd(int(row["off"]),
                       nrows * nlon * np.dtype(dts).itemsize),
                    dtype=np.dtype(dts),
                )
                # fill compares in RAW space; scaled values keep the
                # scaled nodata so downstream masking stays uniform
                vals = raw.astype("f8") * scale + offset
                if fill is not None:
                    vals[raw == raw.dtype.type(fill)] = (
                        float(fill) * scale + offset
                    )
                sy, sx = np.mgrid[0:nrows, 0:nlon]
                yield pd.DataFrame({
                    "time_cf": np.full(nrows * nlon, float(row["time_cf"])),
                    "sx": sx.ravel().astype("int64"),
                    "sy": (sy + int(row["row0"])).ravel().astype("int64"),
                    "band_1": vals,
                })

    if local:
        parts = list(decode(iter([task_pdf])))
        return (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1 else parts[0]
        )
    n_part = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
    task_df = spark.createDataFrame(task_pdf).repartition(n_part)
    return task_df.mapInPandas(
        decode, schema="time_cf double, sx bigint, sy bigint, band_1 double"
    )


def netcdf_to_raquet(
    spark: SparkSession,
    path: str,
    var: str | None = None,
    zoom: int | None = None,
    block_size: int = 256,
    compression: str | None = "gzip",
    stats: bool = True,
    zoom_strategy: str = "upper",
    resampling: str = "near",
) -> tuple[DataFrame, dict]:
    """Classic NetCDF → RaQuet tiles on the mercator grid, CF time
    preserved: rows keyed ``(block, time_cf)`` with a derived
    ``time_ts`` and ``cf:``-prefixed time metadata (spec time columns;
    reference cli.py:92 convert path). All steps share one warp
    (:func:`tiff_reader.warp_tiles`)."""
    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.operators.time_dim import parse_cf_units, with_time_ts
    from raquet_spark.sources.tiff_reader import (
        _lonlat_corners,
        _pick_zoom,
        _tile_aligned_bounds,
        warp_tiles,
    )

    nc = read_netcdf_structure(path)
    time_name, lat_name, lon_name = _find_coords(nc)
    var = _pick_data_var(nc, lat_name, lon_name, var)
    v = nc["variables"][var]

    lats = read_coord_var(nc, lat_name)
    lons = read_coord_var(nc, lon_name)
    if len(lats) < 2 or len(lons) < 2:
        raise ValueError("degenerate lat/lon grid")
    dx = float(lons[1] - lons[0])
    dy = float(lats[1] - lats[0])
    if not (
        np.allclose(np.diff(lons), dx, rtol=1e-6)
        and np.allclose(np.diff(lats), dy, rtol=1e-6)
    ):
        raise NotImplementedError("irregular lat/lon grid")

    scale = float(v["attrs"].get("scale_factor", 1.0))
    offset = float(v["attrs"].get("add_offset", 0.0))
    fill = v["attrs"].get("_FillValue", v["attrs"].get("missing_value"))
    nodata = float(fill) * scale + offset if fill is not None else None

    # CF coordinates are CELL CENTERS; the geotransform origin is the
    # outer corner of the first cell
    info = {
        "path": path,
        "epsg": 4326,
        "transform": (
            float(lons[0]) - dx / 2.0, dx, 0.0,
            float(lats[0]) - dy / 2.0, 0.0, dy,
        ),
        "width": len(lons),
        "height": len(lats),
        "n_bands": 1,
        "dtype": "float32" if (scale != 1.0 or offset != 0.0) else
                 str(np.dtype(v["dtype"]).newbyteorder("=")).lstrip("<>=|"),
        "nodata": nodata,
        "palette": None,
    }
    z = zoom if zoom is not None else _pick_zoom(info, block_size, zoom_strategy)

    has_time = time_name is not None and (
        v["record"] or (v["dims"] and v["dims"][0] == _short(time_name))
    )
    # step count sizes the warp's size class: the px table holds one
    # full grid per step, so a small grid x many steps must NOT
    # broadcast (driver OOM / 8 GB limit at archive scale)
    n_steps = len(read_coord_var(nc, time_name)) if has_time else 1
    (w, s, e, n), (tx0, ty0, tx1, ty1) = _tile_aligned_bounds(
        _lonlat_corners(info), z
    )
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type=info["dtype"], nodata=nodata,
                        colorinterp="gray")],
        bounds=(w, s, e, n),
        width=(tx1 - tx0 + 1) * block_size,
        height=(ty1 - ty0 + 1) * block_size,
        block_width=block_size,
        block_height=block_size,
        min_zoom=z,
        max_zoom=z,
        compression=compression,
        tile_statistics=stats,
    )
    tiles = warp_tiles(
        spark, netcdf_pixel_table(spark, nc, var), info, meta,
        (tx0, ty0, tx1, ty1), resampling,
        extra_key="time_cf" if has_time else None, n_steps=n_steps,
        # classic slabs are raw byte ranges: decode them on the driver
        # when the route collects them there anyway; NetCDF-4 chunk
        # decompression is real CPU and stays distributed
        local_px=(
            (lambda: netcdf_pixel_table(spark, nc, var, local=True))
            if nc.get("format") != "hdf5" else None
        ),
    )
    if has_time:
        units = str(nc["variables"][time_name]["attrs"].get("units", ""))
        calendar = str(
            nc["variables"][time_name]["attrs"].get("calendar", "standard")
        )
        cf = parse_cf_units(units, calendar)
        tiles = with_time_ts(tiles, cf)
        tvals = [float(t) for t in read_coord_var(nc, time_name)]
        meta["time"] = cf.to_metadata(tvals)
    if stats:
        tiles = with_tile_stats(tiles, meta)
    return tiles, meta
