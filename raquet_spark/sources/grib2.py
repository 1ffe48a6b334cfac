"""GRIB2 ingestion — the WMO FM 92 GRIB edition-2 weather-archive
format (NOAA GFS/HRRR, ECMWF dissemination), read from scratch with no
GDAL/eccodes, from the public WMO GRIB2 specification.

Reference parity: the reference converts any GDAL-readable raster
(cli.py:283 ``convert raster``), and GDAL's GRIB driver is how GRIB2
archives reach raquet today. Here the DRIVER parses only message/
section offsets and packing parameters (byte-ranged via sources/io.py,
so object-store URLs prune to header reads), and EXECUTORS decode each
message's Section-7 payload — one message (one field/time step) is the
natural parallel unit of a GRIB archive, which stores thousands of
messages per file.

Scope (typed gates name everything else, never silent wrong answers):
- edition 2, PLUS edition 1 (r11/r12 — the legacy ERA-40-era format:
  IBM370-float reference values, 3-byte sign-magnitude millidegree
  coordinates, BMS bitmaps, lat/lon incl. quasi-regular/thinned rows,
  regular/reduced Gaussian grids, derived increments when the
  resolution flag withholds Di/Dj, NV vertical-coordinate lists
  before the PL row counts, simple packing; messages normalize into
  the same dict, so every downstream consumer is edition-agnostic;
  predefined/centre-defined bitmaps and GDS-less predefined grids
  stay DELIBERATE gates — their content is not in the file);
- grid definition templates 3.0 (regular lat/lon), 3.1
  (rotated lat/lon — COSMO/HARMONIE, incl. nonzero angle of rotation
  via the polgam longitude-shift convention), 3.10 (Mercator at
  lat_ts — NOAA marine grids; spherical AND ellipsoidal), 3.20
  (polar stereographic, both aspects), 3.30 (Lambert conformal — the
  HRRR/NAM family, both aspects) and 3.40 (regular AND reduced
  Gaussian — the ECMWF family incl. O-grids), with shape-of-earth
  codes 0/1/4/5/6;
- product definition templates 4.0/4.1/4.2/4.5/4.8/4.9/4.11/4.12/4.15
  (read for time/parameter/ensemble/probability-threshold keys); the
  fixed surface is part of the message selection key, forecast time
  is signed (sign-magnitude);
- data representation templates 5.0 (simple packing: ``Y = (R + X *
  2^E) / 10^D``), 5.2/5.3 (complex packing incl. 1st/2nd-order
  spatial differencing AND missing-value management 1/2, also
  COMBINED with a bitmap) and 5.41 (PNG, via the repo's own codec);
  5.40 (JPEG2000) DELIBERATELY gated — no in-sandbox reference codec
  to conformance-pin a from-scratch EBCOT/5-3-DWT decoder against
  (the szip decision; see the gate);
- bitmap indicators 255 (none), 0 (bitmap present — missing points
  carry no packed value) and 254 (reuse the previous bitmap);
- scanning modes: ALL of flag-table 3.4 bits 1-4 (±i, ±j, i- or
  j-consecutive lines, boustrophedon) plus the staggered-grid
  half-cell offset bits 5-7 on lat/lon, rotated, projected, and
  (bits 5/6) Gaussian grids (warp-side geolocation) and bit 8 —
  alternating-Ni rows — on lat/lon 3.0 (ragged decode; gated with
  -i scanning);
- warp resampling on ragged-row (reduced) grids: nearest, bilinear,
  AND cubic (per-row spacing, seam wrap on global circles);
- forecast-time units minute/hour/day/3h/6h/12h/second (code table
  4.4), converted to ``time_cf`` hours.

Signed GRIB integers are sign-magnitude (top bit = minus), NOT two's
complement — ``_sm16``/``_sm32`` below.
"""

from __future__ import annotations

import struct

import numpy as np


def _sm(v: int, bits: int) -> int:
    """GRIB sign-magnitude decode: top bit set → negative magnitude."""
    top = 1 << (bits - 1)
    return -(v & (top - 1)) if v & top else v


def _sm16(b: bytes, off: int) -> int:
    return _sm(struct.unpack_from(">H", b, off)[0], 16)


def _sm32(b: bytes, off: int) -> int:
    return _sm(struct.unpack_from(">I", b, off)[0], 32)


_GAUSS_LAT_CACHE: dict[int, np.ndarray] = {}


def gaussian_latitudes(n_parallels: int) -> np.ndarray:
    """The 2N regular-Gaussian-grid latitudes (degrees, north→south):
    arcsin of the roots of the Legendre polynomial P_2N — the abscissa
    definition in the WMO template 3.40 notes. numpy's leggauss
    supplies the roots; cached per N (driver-side, O(thousands))."""
    lats = _GAUSS_LAT_CACHE.get(n_parallels)
    if lats is None:
        if not 0 < n_parallels <= 4096:
            raise ValueError(f"GRIB2 Gaussian N={n_parallels}")
        x, _ = np.polynomial.legendre.leggauss(2 * n_parallels)
        lats = np.degrees(np.arcsin(x))[::-1].copy()  # north first
        _GAUSS_LAT_CACHE[n_parallels] = lats
    return lats


def _earth_shape(raw3: bytes) -> tuple[float, float]:
    """Template octets 1-16 (shape of earth + scaled radii) →
    (semi-major a, inverse flattening; inf = sphere, the Snyder
    e²=0 convention the warp projections use)."""
    code = raw3[0]
    inf = float("inf")
    if code == 0:
        return 6367470.0, inf
    if code == 1:  # custom sphere: scale factor + scaled radius
        sf = raw3[1]
        r = struct.unpack_from(">I", raw3, 2)[0]
        if r == 0:
            raise ValueError("GRIB2 custom sphere with zero radius")
        return r / (10.0 ** sf), inf
    if code == 4:  # GRS80
        return 6378137.0, 298.257222101
    if code == 5:  # WGS84
        return 6378137.0, 298.257223563
    if code == 6:
        return 6371229.0, inf
    raise NotImplementedError(f"GRIB2 shape-of-earth code {code}")


def _sections(b, msg_off: int, msg_len: int) -> dict[int, tuple[int, int]]:
    """{section number: (offset, length)} for one message. Section 0 is
    16 bytes; section 8 is the literal '7777'."""
    out = {0: (msg_off, 16)}
    p = msg_off + 16
    end = msg_off + msg_len
    while p < end - 4:
        (ln,) = struct.unpack(">I", bytes(b[p : p + 4]))
        if ln < 5 or p + ln > end:
            # a corrupt/truncated section length must fail, not loop
            # forever (ln = 0) or run past the message
            raise ValueError(
                f"GRIB2 corrupt section length {ln} at offset {p}"
            )
        num = b[p + 4]
        out[num] = (p, ln)
        p += ln
    if bytes(b[end - 4 : end]) != b"7777":
        raise ValueError(f"GRIB2 message at {msg_off} missing '7777' end")
    return out


def ibm32_to_float(raw: int) -> float:
    """IBM System/370 32-bit float (GRIB1's reference value R):
    (-1)^s · 2^-24 · mantissa · 16^(exp7 - 64)."""
    s = -1.0 if raw & 0x80000000 else 1.0
    exp = (raw >> 24) & 0x7F
    mant = raw & 0x00FFFFFF
    if mant == 0:
        return 0.0
    return s * mant * 2.0 ** (-24) * 16.0 ** (exp - 64)


def float_to_ibm32(v: float) -> int:
    """Exact-where-possible IBM float encode (fixture writer + tests);
    mirrors eccodes' grib_ibm_to_long normalization."""
    import math

    if v == 0.0:
        return 0
    s = 0x80000000 if v < 0 else 0
    v = abs(v)
    exp = int(math.floor(math.log(v, 16))) + 1 + 64
    mant = int(round(v / 16.0 ** (exp - 64) * 2.0 ** 24))
    while mant >= 1 << 24:  # rounding overflow: renormalize
        mant >>= 4
        exp += 1
    while mant and mant < 1 << 20 and exp > 0:
        mant <<= 4
        exp -= 1
    return s | (exp << 24) | mant


def _check_regional_span(lon1: float, span: float) -> None:
    """Gate antimeridian-STRADDLING regional thinned grids: the tiling
    machinery anchors one contiguous [west, east] extent inside the
    mercator world, so a region crossing 180 would silently clip its
    eastern half to nodata tiles — a typed error with remediation
    beats that (the warp's per-row lookup itself wraps mod 360)."""
    lf = lon1 - 360.0 if lon1 > 180.0 else lon1
    if lf + span > 180.0 + 1e-9:
        raise NotImplementedError(
            "quasi-regular grid straddles the antimeridian "
            f"(rows span {lf} .. {lf + span}); split the archive at "
            "180 and ingest the halves separately"
        )


def _sm_bytes(b, off: int, n: int) -> int:
    """n-byte big-endian sign-magnitude int (GRIB1 milli-degrees)."""
    v = int.from_bytes(bytes(b[off : off + n]), "big")
    return _sm(v, 8 * n)


def _parse_grib1_message(b, p: int) -> tuple[dict, int]:
    """One GRIB edition-1 message → the edition-2-shaped message dict
    (same keys the decode/warp machinery consumes). Scope: simple
    packing (BDS flag bits 1/2/4 clear), explicit GDS (predefined grid
    numbers gated), data representation types 0 (lat/lon) and 4
    (Gaussian, regular or reduced via the PL list), time range
    indicators 0/1/10. R is an IBM370 float; La/Lo are 3-byte
    sign-magnitude MILLIdegrees."""
    (msg_len,) = struct.unpack(">I", b"\x00" + bytes(b[p + 4 : p + 7]))
    m: dict = {"offset": p, "length": msg_len, "edition": 1,
               "discipline": 0, "drt": 0, "pdt": 0}
    q = p + 8  # PDS
    l1 = int.from_bytes(bytes(b[q : q + 3]), "big")
    table_ver = b[q + 3]
    flags = b[q + 7]
    if not flags & 0x80:
        # DELIBERATE gate, the 5.40/szip decision class (r14, carried
        # from the r12 verdict as C36's last undecided item): a GDS-less
        # message geolocates via PDS octet 7's predefined grid number,
        # whose Ni/Nj/La1/Lo1/Di/Dj live only in WMO Manual-on-Codes
        # tables (the 21-26/61-64 international-exchange family plus
        # centre-defined catalogues). This sandbox has no copy of those
        # tables and no eccodes/GDAL/wgrib to conformance-pin a
        # transcription against — ANY test would compare the transcribed
        # constants to themselves, and a mis-remembered Dj or pole-row
        # convention silently misplaces every value while stats stay
        # plausible (the exact failure the 5.40 JPEG2000 gate exists to
        # prevent). A typed error beats plausible wrong geolocation;
        # re-encode with an explicit GDS (cnvgrib, or wgrib -GDS10) to
        # ingest these archives. See SURVEY.md §2 C36.
        raise NotImplementedError(
            "GRIB1 message without GDS (predefined grid number in PDS "
            "octet 7): the grid parameters are not in the file and no "
            "in-sandbox authority exists to conformance-pin the WMO "
            "table transcription against — deliberately gated; "
            "re-encode with an explicit GDS (cnvgrib / wgrib) to ingest"
        )
    m["param_category"] = table_ver
    m["param_number"] = b[q + 8]
    m["level_type"] = b[q + 9]
    m["level_value"] = float(
        int.from_bytes(bytes(b[q + 10 : q + 12]), "big")
    )
    century = b[q + 24] or 1
    m["ref_time"] = ((century - 1) * 100 + b[q + 12], b[q + 13],
                     b[q + 14], b[q + 15], b[q + 16], 0)
    unit = b[q + 17]
    to_hours = {0: 1 / 60.0, 1: 1.0, 2: 24.0, 10: 3.0, 11: 6.0,
                12: 12.0, 254: 1 / 3600.0}.get(unit)
    if to_hours is None:
        raise NotImplementedError(f"GRIB1 time unit {unit}")
    p1, p2, tri = b[q + 18], b[q + 19], b[q + 20]
    if tri == 0:
        ft = p1
    elif tri == 1:
        ft = 0
    elif tri == 10:  # P1P2 as one 16-bit value
        ft = (p1 << 8) | p2
    else:
        raise NotImplementedError(f"GRIB1 time range indicator {tri}")
    m["time_unit"] = unit
    m["forecast_time"] = ft
    m["forecast_hours"] = ft * to_hours
    # decimal scale factor: PDS octets 27-28 (sign-magnitude)
    m["D"] = _sm(int.from_bytes(bytes(b[q + 26 : q + 28]), "big"), 16)

    q += l1  # GDS
    lg = int.from_bytes(bytes(b[q : q + 3]), "big")
    nv = b[q + 3]  # octet 4: vertical-coordinate parameter count
    pv = b[q + 4]  # 1-based octet of the PV/PL list, 255 = none
    drt1 = b[q + 5]
    if drt1 not in (0, 4):
        raise NotImplementedError(
            f"GRIB1 data representation type {drt1} "
            "(lat/lon 0 / Gaussian 4 only)"
        )
    ni_raw = int.from_bytes(bytes(b[q + 6 : q + 8]), "big")
    nj = int.from_bytes(bytes(b[q + 8 : q + 10]), "big")
    lat1 = _sm_bytes(b, q + 10, 3) / 1e3
    lon1 = _sm_bytes(b, q + 13, 3) / 1e3
    lat2 = _sm_bytes(b, q + 17, 3) / 1e3
    lon2 = _sm_bytes(b, q + 20, 3) / 1e3
    res_flag = b[q + 16]  # octet 17: resolution and component flags
    di_raw = int.from_bytes(bytes(b[q + 23 : q + 25]), "big")
    djn = int.from_bytes(bytes(b[q + 25 : q + 27]), "big")
    scan = b[q + 27]
    # same bit positions as the edition-2 flag table 3.4; gate the
    # j-consecutive bit (0x20) and the reserved bits — decoding them
    # as row-major would silently transpose the field
    if scan & 0x3F:
        raise NotImplementedError(
            f"GRIB1 scanning flags 0x{scan:02x} (row-major ±i/±j only)"
        )
    m.update(
        i_negative=bool(scan & 0x80), j_positive=bool(scan & 0x40),
        col_major=False, boustro=False, scan=scan,
        lat1=lat1, lon1=lon1, lat2=lat2, lon2=lon2,
    )
    reduced = ni_raw == 0xFFFF

    def _derived_di(ni: int) -> float:
        # increments "not given" (res flag bit 1 clear, or 0xFFFF
        # sentinel): derive from the corner longitudes — decoding
        # 0xFFFF as di=65.535° would silently corrupt the geotransform
        span = (lon1 - lon2) if (scan & 0x80) else (lon2 - lon1)
        span %= 360.0
        if span == 0.0:
            # a zero span mod 360 can only mean a DUPLICATE-endpoint
            # circle (lon2 = lon1 + 360 = lon1 + di*(ni-1)); the
            # no-duplicate global form (lon2 = lon1 - di) leaves
            # span = 360 - di != 0 and takes the generic path
            span = 360.0
        return span / (ni - 1)

    incr_given = bool(res_flag & 0x80)

    def _read_pl() -> list[int]:
        if pv == 0xFF:
            raise ValueError(
                "GRIB1 quasi-regular grid without a PV/PL list octet"
            )
        # GDS octet 4 (NV): when vertical-coordinate parameters are
        # present (ECMWF model-level archives), PV points at the
        # 4-byte IBM-float VC list and the PL row counts start AFTER
        # it — reading at PV directly would silently decode float
        # bytes as row counts
        pl_off = q + pv - 1 + 4 * nv
        if pl_off + 2 * nj > q + lg:
            raise ValueError(
                f"GRIB1 reduced grid: PL list (PV={pv}, NV={nv}, "
                f"nj={nj}) overruns the GDS (length {lg})"
            )
        pl = [
            int.from_bytes(
                bytes(b[pl_off + 2 * k : pl_off + 2 * k + 2]), "big"
            )
            for k in range(nj)
        ]
        if min(pl) <= 0:
            raise ValueError("GRIB1 reduced grid: bad PL list")
        return pl

    if drt1 == 0:
        dj = (djn / 1e3 if incr_given and djn != 0xFFFF and not reduced
              else abs(lat1 - lat2) / (nj - 1))
        if reduced:
            # quasi-regular (thinned) lat/lon — old ECMWF/DWD archives:
            # row j holds pl[j] points from lon1 to lon2 INCLUSIVE
            # (spacing span/(pl[j]-1)); latitudes stay affine. The
            # warp's ragged-row machinery consumes the explicit row
            # latitude list + per-row counts + the regional span.
            if m["i_negative"]:
                raise NotImplementedError(
                    "GRIB1 quasi-regular lat/lon with -i scan"
                )
            pl = _read_pl()
            span = (lon2 - lon1) % 360.0
            if span == 0.0 or min(pl) < 2:
                raise ValueError(
                    "GRIB1 quasi-regular lat/lon: degenerate row span"
                )
            _check_regional_span(lon1, span)
            north = max(lat1, lat2)
            m.update(
                ni=max(pl), nj=nj, grid="latlon", dj=dj,
                row_ni_scan=pl,
                row_ni=(pl[::-1] if m["j_positive"] else pl),
                lat_centers=[north - j * dj for j in range(nj)],
                lon_span=span, lon_global=False,
            )
        else:
            di = (di_raw / 1e3 if incr_given and di_raw != 0xFFFF
                  else _derived_di(ni_raw))
            m.update(ni=ni_raw, nj=nj, grid="latlon", di=di, dj=dj)
    else:  # Gaussian: Dj slot carries N
        n_par = djn
        lats = gaussian_latitudes(n_par)
        i1 = int(np.argmin(np.abs(lats - lat1)))
        i2 = int(np.argmin(np.abs(lats - lat2)))
        lo_i, hi_i = min(i1, i2), max(i1, i2)
        if (abs(lats[i1] - lat1) > 2e-3 or abs(lats[i2] - lat2) > 2e-3
                or hi_i - lo_i + 1 != nj):
            raise ValueError(
                f"GRIB1 Gaussian grid: la1/la2 ({lat1}, {lat2}) do not "
                f"select {nj} consecutive N={n_par} latitudes"
            )
        m.update(
            grid="gauss", n_parallels=n_par,
            lat_centers=[float(v) for v in lats[lo_i : hi_i + 1]],
        )
        if reduced:
            pl = _read_pl()
            m.update(ni=max(pl), nj=nj,
                     row_ni_scan=pl,
                     row_ni=(pl[::-1] if m["j_positive"] else pl),
                     lon_global=True)
        else:
            di = (di_raw / 1e3 if incr_given and di_raw != 0xFFFF
                  else _derived_di(ni_raw))
            m.update(ni=ni_raw, nj=nj, di=di)

    q += lg  # BMS (optional) then BDS
    m["bitmap_off"] = None
    if flags & 0x40:
        lb = int.from_bytes(bytes(b[q : q + 3]), "big")
        if int.from_bytes(bytes(b[q + 4 : q + 6]), "big") != 0:
            # DELIBERATE gate (szip-class decision): a nonzero BMS
            # "numeric" references a bitmap PRE-AGREED with the
            # originating centre — the bits are NOT in the file and
            # the centre tables are not published in machine-readable
            # form, so any guess would silently mis-place every value.
            # Re-encode with an explicit bitmap (e.g. `wgrib -d` +
            # re-pack, or cnvgrib) to ingest such archives.
            raise NotImplementedError(
                "GRIB1 predefined (centre-defined) bitmap: the bitmap "
                "bytes are not in the file; re-encode with an explicit "
                "bitmap to ingest"
            )
        m["bitmap_off"] = q + 6
        m["bitmap_len"] = lb - 6
        q += lb
    ld = int.from_bytes(bytes(b[q : q + 3]), "big")
    bflags = b[q + 3]
    # gate: spherical harmonics (0x80), complex packing (0x40),
    # additional-flags octet 14 (0x10); integer original field (0x20)
    # packs identically
    if bflags & 0xD0:
        raise NotImplementedError(
            f"GRIB1 BDS flags 0x{bflags:02x} (simple grid-point "
            "packing only)"
        )
    m["E"] = _sm(int.from_bytes(bytes(b[q + 4 : q + 6]), "big"), 16)
    m["R"] = ibm32_to_float(
        int.from_bytes(bytes(b[q + 6 : q + 10]), "big")
    )
    m["nbits"] = b[q + 10]
    m["data_off"] = q + 11
    m["data_len"] = ld - 11
    total = (
        sum(m["row_ni_scan"]) if m.get("row_ni_scan") else
        m["ni"] * m["nj"]
    )
    m["npoints"] = total
    if bytes(b[p + msg_len - 4 : p + msg_len]) != b"7777":
        raise ValueError(f"GRIB1 message at {p} missing '7777' end")
    return m, msg_len


def read_grib2_structure(path: str, tolerant: bool = False) -> dict:
    """Driver-side scan: every message's grid/product/packing
    parameters and the byte range of its packed data — no pixel bytes
    touched. Multi-message files (one message per field/step) come back
    as a ``messages`` list ordered by file position.

    ``tolerant=True`` (grib-info inventory mode): a message whose body
    parse hits a typed unsupported-variant gate is listed as
    ``{"offset", "length", "edition", "unsupported": <reason>}`` and
    the walk continues at the next message (lengths come from section
    0 alone), instead of aborting the whole listing. Import paths keep
    the default fail-fast behavior."""
    from raquet_spark.sources.io import open_bytes

    b = open_bytes(path)
    size = len(b)
    messages = []
    prev_bitmap = None  # last indicator-0 bitmap, for indicator 254
    p = 0
    while p + 16 <= size:
        if bytes(b[p : p + 4]) != b"GRIB":
            raise ValueError(f"bad GRIB indicator at {p}")
        edition = b[p + 7]
        # message length from section 0 alone (3-byte total length
        # for edition 1, 8-byte for edition 2), so tolerant mode can
        # skip past a message whose body parse hits a typed gate
        if edition == 1:
            pre_len = int.from_bytes(bytes(b[p + 4 : p + 7]), "big")
        elif edition == 2:
            (pre_len,) = struct.unpack(">Q", bytes(b[p + 8 : p + 16]))
        else:
            pre_len = 0
        try:
            if edition == 1:
                # legacy edition-1 message (ERA-40-era and national
                # archives): parsed by its own walker and NORMALIZED to
                # the same message dict, so the pixel table / warp /
                # selection machinery is edition-agnostic
                m, msg_len = _parse_grib1_message(b, p)
                messages.append(m)
                p += msg_len
                continue
            if edition != 2:
                raise NotImplementedError(f"GRIB edition {edition} (1/2)")
            (msg_len,) = struct.unpack(">Q", bytes(b[p + 8 : p + 16]))
            sec = _sections(b, p, msg_len)
            m = {"offset": p, "length": msg_len, "discipline": b[p + 6]}

            s1, _ = sec[1]
            m["ref_time"] = (
                struct.unpack(">H", bytes(b[s1 + 12 : s1 + 14]))[0],  # year
                b[s1 + 14], b[s1 + 15], b[s1 + 16], b[s1 + 17], b[s1 + 18],
            )

            s3, _ = sec[3]
            gdt = struct.unpack(">H", bytes(b[s3 + 12 : s3 + 14]))[0]
            if gdt not in (0, 1, 10, 20, 30, 40):
                raise NotImplementedError(
                    f"GRIB2 grid definition template 3.{gdt} "
                    "(regular lat/lon 3.0 / rotated lat/lon 3.1 / Mercator "
                    "3.10 / polar stereographic 3.20 / Lambert conformal "
                    "3.30 / regular Gaussian 3.40 only)"
                )
            pl_size = b[s3 + 10]  # octet 11: bytes per points-per-row entry
            if pl_size and gdt not in (0, 40):
                raise NotImplementedError(
                    f"GRIB2 quasi-regular grid on template 3.{gdt} "
                    "(points-per-row lists on lat/lon 3.0 and Gaussian "
                    "3.40 only)"
                )
            if pl_size and b[s3 + 11] != 1:
                raise NotImplementedError(
                    f"GRIB2 points-per-row list interpretation {b[s3 + 11]}"
                )
            t = s3 + 14  # template body

            def check_scan(
                scan: int,
                stagger_ok: bool = False,
                alt_ok: bool = False,
            ) -> None:
                # bits 1-4 (0xF0) all decode now: -i, ±j, j-consecutive
                # (column-major), boustrophedon. Bits 5-7 (staggered-grid
                # half-cell offsets: odd/even rows by Di/2, all points by
                # Dj/2 — Arakawa-staggered model output) are pure
                # GEOLOCATION adjustments handled by the warp on lat/lon,
                # rotated, projected, and (bits 5/6 only) Gaussian
                # grids; bit 8 (offset rows carry Ni-1 points, offset
                # columns Nj-1 — the staggered grid drops the point that
                # would fall past the parent row's span) changes the point
                # COUNT: decoded on lat/lon 3.0 via NaN-padded ragged
                # rows, gated elsewhere.
                if (scan & 0x0E and not stagger_ok) or (
                    scan & 0x01 and not alt_ok
                ):
                    raise NotImplementedError(
                        f"GRIB2 scanning-mode offset bits 0x{scan & 0x0F:02x} "
                        "(alternating-Ni rows / stagger on this template)"
                    )
                if scan & 0x0F and scan & 0x30:
                    raise NotImplementedError(
                        "GRIB2 staggered offsets combined with j-consecutive"
                        "/boustrophedon scanning (row parity is ambiguous)"
                    )
                if scan & 0x01 and scan & 0x80:
                    # alternating-Ni with -i scanning: the short rows are
                    # east-anchored and the normalized pad column flips to
                    # the west — no fixture-testable producer emits this;
                    # keep it a typed gate rather than guess the anchor
                    raise NotImplementedError(
                        "GRIB2 alternating-Ni rows (scan bit 8) combined "
                        "with -i scanning"
                    )
                m.update(
                    i_negative=bool(scan & 0b10000000),
                    j_positive=bool(scan & 0b01000000),
                    col_major=bool(scan & 0b00100000),
                    boustro=bool(scan & 0b00010000),
                    # WMO rows are 1-based: "odd rows" = scan rows 1,3,…
                    # = 0-based scan indices 0,2,…
                    stagger_odd=bool(scan & 0b00001000),
                    stagger_even=bool(scan & 0b00000100),
                    stagger_j=bool(scan & 0b00000010),
                    alt_ni=bool(scan & 0b00000001),
                )

            if gdt in (0, 1, 40):
                # shared 3.0-shaped prefix (octets 15-72): 3.1 appends the
                # rotation octets; 3.40 carries N (parallels pole↔equator)
                # where 3.0 has Dj
                raw3 = bytes(b[t : t + (70 if gdt == 1 else 58)])
                ni = struct.unpack_from(">I", raw3, 16)[0]
                nj = struct.unpack_from(">I", raw3, 20)[0]
                lat1 = _sm(struct.unpack_from(">I", raw3, 32)[0], 32) / 1e6
                lon1 = _sm(struct.unpack_from(">I", raw3, 36)[0], 32) / 1e6
                lat2 = _sm(struct.unpack_from(">I", raw3, 41)[0], 32) / 1e6
                lon2 = _sm(struct.unpack_from(">I", raw3, 45)[0], 32) / 1e6
                res_flag = raw3[40]  # flag table 3.3 (octet 55)
                di_raw = struct.unpack_from(">I", raw3, 49)[0]
                scan = raw3[57]
                check_scan(scan, stagger_ok=(gdt in (0, 1, 40)),
                           alt_ok=(gdt == 0))
                # same contract as the GRIB1 path (ADVICE r11): 'increments
                # not given' (flag-table 3.3 bit 3/4 clear, or the all-ones
                # sentinel) must derive from the corners — decoding the
                # sentinel as di = 4294.97 deg would silently corrupt the
                # geotransform while values stay plausible
                if res_flag & 0x20 and di_raw != 0xFFFFFFFF:
                    di = di_raw / 1e6
                else:
                    span = (
                        (lon1 - lon2) if (scan & 0x80) else (lon2 - lon1)
                    ) % 360.0
                    di = (span if span else 360.0) / (ni - 1)
                m.update(ni=ni, nj=nj, lat1=lat1, lon1=lon1, lat2=lat2,
                         lon2=lon2, di=di, scan=scan,
                         j_positive=bool(scan & 0b01000000))

                def read_pl2(label: str) -> list[int]:
                    # points-per-row list directly after the 58-byte
                    # template body, cross-checked against section 3's
                    # total point count
                    pl_off = t + 58
                    pl = [
                        int.from_bytes(
                            bytes(b[pl_off + k * pl_size
                                    : pl_off + (k + 1) * pl_size]),
                            "big",
                        )
                        for k in range(nj)
                    ]
                    n_total = struct.unpack(
                        ">I", bytes(b[s3 + 6 : s3 + 10])
                    )[0]
                    if sum(pl) != n_total or min(pl) <= 0:
                        raise ValueError(
                            f"GRIB2 {label}: points-per-row sum {sum(pl)} "
                            f"!= section-3 total {n_total}"
                        )
                    return pl

                if gdt == 40:
                    # regular Gaussian (ECMWF-native output): rows sit on
                    # the 2N Gaussian latitudes (arcsin of the roots of
                    # P_2N); a regional file selects a contiguous slice,
                    # located via la1/la2
                    if m.get("stagger_j"):
                        # bit 7 shifts every point by Dj/2, but Gaussian
                        # rows are not equally spaced — there is no Dj to
                        # halve, and no producer convention to pin a
                        # per-row half-gap shift against
                        raise NotImplementedError(
                            "GRIB2 Dj/2 staggered offset (scan bit 7) on "
                            "a Gaussian grid (rows are not equally "
                            "spaced)"
                        )
                    n_par = struct.unpack_from(">I", raw3, 53)[0]
                    lats = gaussian_latitudes(n_par)  # north → south
                    i1 = int(np.argmin(np.abs(lats - lat1)))
                    i2 = int(np.argmin(np.abs(lats - lat2)))
                    lo_i, hi_i = min(i1, i2), max(i1, i2)
                    if (
                        abs(lats[i1] - lat1) > 2e-3
                        or abs(lats[i2] - lat2) > 2e-3
                        or hi_i - lo_i + 1 != nj
                    ):
                        raise ValueError(
                            f"GRIB2 Gaussian grid: la1/la2 ({lat1}, {lat2}) "
                            f"do not select {nj} consecutive N={n_par} "
                            "Gaussian latitudes"
                        )
                    m.update(
                        grid="gauss", n_parallels=n_par,
                        # north-first row latitudes, matching
                        # decode_message's row-0-is-north normalization
                        lat_centers=[float(v) for v in lats[lo_i : hi_i + 1]],
                    )
                    if pl_size:
                        # REDUCED (quasi-regular) Gaussian — the ECMWF
                        # operational O-grid family: Ni is missing and a
                        # points-per-row list follows the template (one
                        # entry per row, scan order); each row spans the
                        # full longitude circle at 360/pl[j]
                        if (m.get("col_major") or m.get("boustro")
                                or m.get("i_negative") or scan & 0x0F):
                            raise NotImplementedError(
                                "GRIB2 reduced Gaussian grid with a "
                                "non-default or staggered scanning mode"
                            )
                        pl = read_pl2("reduced Gaussian")
                        m.update(
                            ni=max(pl),
                            row_ni_scan=pl,  # scan row order (as stored)
                            # north-first, matching lat_centers
                            row_ni=(pl[::-1] if m["j_positive"] else pl),
                            lon_global=True,  # O-grids are full circles
                        )
                else:
                    dj_raw = struct.unpack_from(">I", raw3, 53)[0]
                    if res_flag & 0x10 and dj_raw != 0xFFFFFFFF:
                        dj = dj_raw / 1e6
                    else:  # j increments not given: derive from corners
                        dj = abs(lat1 - lat2) / (nj - 1)
                    if pl_size and gdt == 0:
                        # quasi-regular (thinned) lat/lon — GRIB2 form of
                        # the legacy WAFS-style grids: pl[j] points per row
                        # spanning lon1..lon2 INCLUSIVE, affine latitudes;
                        # same ragged-row machinery as the GRIB1 path
                        if (m.get("col_major") or m.get("boustro")
                                or m.get("i_negative")
                                or scan & 0x0F):
                            raise NotImplementedError(
                                "GRIB2 quasi-regular lat/lon with a "
                                "non-default or staggered scanning mode"
                            )
                        pl = read_pl2("quasi-regular lat/lon")
                        if min(pl) < 2:
                            raise ValueError(
                                "GRIB2 quasi-regular lat/lon: a row needs "
                                ">= 2 points for endpoint-inclusive spacing"
                            )
                        span = (lon2 - lon1) % 360.0
                        if span == 0.0:
                            raise ValueError(
                                "GRIB2 quasi-regular lat/lon: degenerate "
                                "row span"
                            )
                        _check_regional_span(lon1, span)
                        north = max(lat1, lat2)
                        m.update(
                            ni=max(pl), dj=dj, grid="latlon",
                            row_ni_scan=pl,
                            row_ni=(pl[::-1] if m["j_positive"] else pl),
                            lat_centers=[north - j * dj for j in range(nj)],
                            lon_span=span, lon_global=False,
                        )
                    else:
                        m.update(dj=dj, grid="latlon")
                        if m.get("alt_ni") and (
                            m.get("stagger_odd") or m.get("stagger_even")
                            or m.get("stagger_j")
                        ):
                            # flag-table 3.4 bit 8: rows offset by Di/2
                            # carry Ni-1 points (the easternmost point
                            # would fall past the parent row's span) and,
                            # when all points are offset by Dj/2 (bit 7),
                            # columns carry Nj-1 points — i.e. there are
                            # Nj-1 data rows interleaving the parent's Nj.
                            # Decoded exactly like the reduced-grid ragged
                            # rows: scatter into a NaN-padded (nj, ni)
                            # rectangle; geometry rides the existing
                            # per-row-parity stagger_x machinery (the x
                            # spacing stays Di — NOT the reduced grids'
                            # per-row spread), so the warp needs nothing
                            # new. Row parity is on SCAN rows (1-based
                            # odd = 0-based even), same as stagger_odd.
                            nj_eff = nj - 1 if m.get("stagger_j") else nj
                            counts = [
                                ni - 1 if (
                                    (r % 2 == 0 and m.get("stagger_odd"))
                                    or (r % 2 == 1 and m.get("stagger_even"))
                                ) else ni
                                for r in range(nj_eff)
                            ]
                            n_total = struct.unpack(
                                ">I", bytes(b[s3 + 6 : s3 + 10])
                            )[0]
                            if sum(counts) != n_total:
                                raise ValueError(
                                    "GRIB2 alternating-Ni grid: derived "
                                    f"point count {sum(counts)} != "
                                    f"section-3 total {n_total}"
                                )
                            m.update(nj=nj_eff, alt_ni_rows=counts)
                if gdt == 1:  # rotated lat/lon (COSMO/HARMONIE family)
                    lat_sp = _sm(struct.unpack_from(">I", raw3, 58)[0], 32) / 1e6
                    lon_sp = _sm(struct.unpack_from(">I", raw3, 62)[0], 32) / 1e6
                    (angle,) = struct.unpack_from(">f", raw3, 66)
                    pole_lon = lon_sp - 180.0
                    if pole_lon <= -180.0:
                        pole_lon += 360.0
                    m.update(
                        grid="rotll",
                        proj={
                            # true coords of the rotated NORTH pole (the
                            # CDO/COSMO convention; GRIB states the south
                            # pole of projection). pole_gam = the angle of
                            # rotation about the rotated axis (COSMO
                            # polgam): in the published phirot2phi /
                            # rlarot2rla formulation the polgam terms are
                            # the angle-sum identity, i.e. it shifts the
                            # ROTATED longitude by +polgam before the pole
                            # rotation — pinned in tests/test_grib2.py via
                            # an independent rotation-matrix oracle
                            "type": "rotll", "units": "deg",
                            "pole_lat": -lat_sp, "pole_lon": pole_lon,
                            "pole_gam": float(angle),
                        },
                    )
            elif gdt == 10:  # Mercator (NOAA coastal/marine grids)
                raw3 = bytes(b[t : t + 58])
                a, inv_f = _earth_shape(raw3)
                ni = struct.unpack_from(">I", raw3, 16)[0]
                nj = struct.unpack_from(">I", raw3, 20)[0]
                la1 = _sm(struct.unpack_from(">I", raw3, 24)[0], 32) / 1e6
                lo1 = _sm(struct.unpack_from(">I", raw3, 28)[0], 32) / 1e6
                lad = _sm(struct.unpack_from(">I", raw3, 33)[0], 32) / 1e6
                scan = raw3[45]
                check_scan(scan, stagger_ok=True)
                dx = struct.unpack_from(">I", raw3, 50)[0] / 1e3
                dy = struct.unpack_from(">I", raw3, 54)[0] / 1e3

                def norm_lon(v: float) -> float:
                    return v - 360.0 if v > 180.0 else v

                m.update(
                    ni=ni, nj=nj, grid="merc", scan=scan,
                    la1=la1, lo1=norm_lon(lo1), dx=dx, dy=dy,
                    proj={
                        "type": "merc", "lat_ts": lad,
                        "fe": 0.0, "fn": 0.0, "a": a, "inv_f": inv_f,
                    },
                )
            elif gdt == 20:  # polar stereographic (arctic/antarctic grids)
                raw3 = bytes(b[t : t + 51])
                a, inv_f = _earth_shape(raw3)
                ni = struct.unpack_from(">I", raw3, 16)[0]
                nj = struct.unpack_from(">I", raw3, 20)[0]
                la1 = _sm(struct.unpack_from(">I", raw3, 24)[0], 32) / 1e6
                lo1 = _sm(struct.unpack_from(">I", raw3, 28)[0], 32) / 1e6
                lad = _sm(struct.unpack_from(">I", raw3, 33)[0], 32) / 1e6
                lov = _sm(struct.unpack_from(">I", raw3, 37)[0], 32) / 1e6
                dx = struct.unpack_from(">I", raw3, 41)[0] / 1e3
                dy = struct.unpack_from(">I", raw3, 45)[0] / 1e3
                south = bool(raw3[49] & 0x80)
                scan = raw3[50]
                check_scan(scan, stagger_ok=True)

                def norm_lon(v: float) -> float:
                    return v - 360.0 if v > 180.0 else v

                m.update(
                    ni=ni, nj=nj, grid="ps", scan=scan,
                    j_positive=bool(scan & 0b01000000),
                    la1=la1, lo1=norm_lon(lo1), dx=dx, dy=dy,
                    proj={
                        # lat_ts sign selects the aspect in the warp's ps
                        # formulation; GRIB states it via the centre flag
                        "type": "ps",
                        "lat_ts": -abs(lad) if south else abs(lad),
                        "lon0": norm_lon(lov), "fe": 0.0, "fn": 0.0,
                        "a": a, "inv_f": inv_f,
                    },
                )
            else:  # 3.30: Lambert conformal (HRRR/NAM-style grids)
                raw3 = bytes(b[t : t + 67])
                a, inv_f = _earth_shape(raw3)
                ni = struct.unpack_from(">I", raw3, 16)[0]
                nj = struct.unpack_from(">I", raw3, 20)[0]
                la1 = _sm(struct.unpack_from(">I", raw3, 24)[0], 32) / 1e6
                lo1 = _sm(struct.unpack_from(">I", raw3, 28)[0], 32) / 1e6
                lad = _sm(struct.unpack_from(">I", raw3, 33)[0], 32) / 1e6
                lov = _sm(struct.unpack_from(">I", raw3, 37)[0], 32) / 1e6
                dx = struct.unpack_from(">I", raw3, 41)[0] / 1e3  # mm → m
                dy = struct.unpack_from(">I", raw3, 45)[0] / 1e3
                south_lcc = bool(raw3[49] & 0x80)
                scan = raw3[50]
                check_scan(scan, stagger_ok=True)
                latin1 = _sm(struct.unpack_from(">I", raw3, 51)[0], 32) / 1e6
                latin2 = _sm(struct.unpack_from(">I", raw3, 55)[0], 32) / 1e6
                if south_lcc != (latin1 < 0) and south_lcc != (latin2 < 0):
                    # the aspect is fully determined by the cone constant
                    # n, whose sign follows from the standard parallels in
                    # the Snyder formulation the warp uses; gate only when
                    # BOTH parallels contradict the centre flag — parallels
                    # straddling the equator (e.g. -10/30) form a valid
                    # north-aspect cone with n > 0
                    raise ValueError(
                        "GRIB2 Lambert projection-centre flag contradicts "
                        f"the standard parallels ({latin1}, {latin2})"
                    )

                def norm_lon(v: float) -> float:
                    return v - 360.0 if v > 180.0 else v

                m.update(
                    ni=ni, nj=nj, grid="lambert", scan=scan,
                    j_positive=bool(scan & 0b01000000),
                    la1=la1, lo1=norm_lon(lo1), dx=dx, dy=dy,
                    proj={
                        "type": "lcc", "sp1": latin1, "sp2": latin2,
                        "lat0": lad, "lon0": norm_lon(lov),
                        "fe": 0.0, "fn": 0.0, "a": a,
                        "inv_f": inv_f,
                    },
                )

            s4, _ = sec[4]
            pdt = struct.unpack(">H", bytes(b[s4 + 7 : s4 + 9]))[0]
            if pdt not in (0, 1, 2, 5, 6, 7, 8, 9, 10, 11, 12, 15):
                raise NotImplementedError(
                    f"GRIB2 product definition template 4.{pdt} "
                    "(4.0 / 4.1-4.2 ensemble/derived / 4.5 and 4.9 "
                    "probability / 4.6 and 4.10 percentile / 4.7 "
                    "error / 4.8 and the statistical 4.11/4.12 "
                    "twins / 4.15 spatial processing only)"
                )
            m["pdt"] = pdt
            m["param_category"] = b[s4 + 9]
            m["param_number"] = b[s4 + 10]
            # code table 4.4 (octet 18): exact hour conversions only —
            # anything else (months, centuries, reserved) would silently
            # mislabel time_cf, which is documented as forecast HOURS
            unit = b[s4 + 17]
            to_hours = {
                0: 1.0 / 60.0, 1: 1.0, 2: 24.0,
                10: 3.0, 11: 6.0, 12: 12.0, 13: 1.0 / 3600.0,
            }.get(unit)
            if to_hours is None:
                raise NotImplementedError(
                    f"GRIB2 time-range unit indicator {unit} "
                    "(minute/hour/day/3h/6h/12h/second only)"
                )
            m["time_unit"] = unit
            # octets 19-22 are SIGNED (sign-magnitude, like level_value):
            # reanalysis pre-initialization offsets carry negative forecast
            # times — reading '>I' would mislabel them as huge hour counts
            m["forecast_time"] = _sm(
                struct.unpack(">I", bytes(b[s4 + 18 : s4 + 22]))[0], 32
            )
            m["forecast_hours"] = m["forecast_time"] * to_hours
            # first fixed surface (octets 23-28): part of the message key —
            # one parameter at many levels (a GFS pressure-level file) must
            # not collapse into one tile stack
            m["level_type"] = b[s4 + 22]
            lv_raw = bytes(b[s4 + 24 : s4 + 28])
            if m["level_type"] == 255 or lv_raw == b"\xff\xff\xff\xff":
                m["level_value"] = None
            else:
                lsf = _sm(b[s4 + 23], 8) if b[s4 + 23] != 0xFF else 0
                m["level_value"] = (
                    _sm(struct.unpack(">I", lv_raw)[0], 32) / (10.0 ** lsf)
                )
            if pdt in (1, 11):  # individual ensemble member (octets 35-37;
                # 4.11 appends the 4.8-style statistical time-range spec)
                m["ens_type"] = b[s4 + 34]
                m["ens_member"] = b[s4 + 35]
                m["ens_count"] = b[s4 + 36]
            elif pdt in (2, 12):  # derived forecast (octets 35-36)
                m["ens_derived"] = b[s4 + 34]
                m["ens_count"] = b[s4 + 35]
            elif pdt in (5, 9):  # probability forecast (octets 35-47;
                # 4.9 appends the 4.8-style statistical time-range spec).
                # The threshold octets are read for the message KEY: one
                # parameter at many probability thresholds (an NBM/SREF
                # exceedance file) must not collapse into one tile stack.
                m["prob_number"] = b[s4 + 34]
                m["prob_total"] = b[s4 + 35]
                m["prob_type"] = b[s4 + 36]

                def _prob_limit(off: int) -> float | None:
                    raw = bytes(b[off + 1 : off + 5])
                    if raw == b"\xff\xff\xff\xff":
                        return None
                    lsf = _sm(b[off], 8) if b[off] != 0xFF else 0
                    return (
                        _sm(struct.unpack(">I", raw)[0], 32) / (10.0 ** lsf)
                    )

                m["prob_lower"] = _prob_limit(s4 + 37)
                m["prob_upper"] = _prob_limit(s4 + 42)
            elif pdt in (6, 10):  # percentile forecast (octet 35 = the
                # percentile 0-100; 4.10 appends the 4.8-style
                # statistical time-range spec). Read for the message
                # KEY: an NBM percentile file carries one parameter at
                # many percentiles and must not collapse into one
                # tile stack.
                m["percentile"] = b[s4 + 34]
            elif pdt == 15:  # spatially-processed values (octets 35-37:
                # statistical process, spatial processing type, number of
                # points used — e.g. neighborhood-averaged MRMS/NBM fields)
                m["spatial_stat"] = b[s4 + 34]
                m["spatial_type"] = b[s4 + 35]
                m["spatial_npoints"] = b[s4 + 36]

            s5, _ = sec[5]
            m["npoints"] = struct.unpack(">I", bytes(b[s5 + 5 : s5 + 9]))[0]
            drt = struct.unpack(">H", bytes(b[s5 + 9 : s5 + 11]))[0]
            if drt == 40:
                # DELIBERATE gate, the szip decision (hdf5.py): NOAA GFS
                # packs most fields with 5.40, but a from-spec JPEG2000
                # Part-1 decoder (tag-tree tier-2, MQ-coder tier-1 EBCOT,
                # reversible 5/3 DWT) written here could only ever be
                # tested against ITSELF — this sandbox has no openjpeg/
                # jasper/glymur/PIL/JAI to conformance-pin against, and a
                # self-consistent transcription error would silently
                # corrupt every GFS field. A typed error beats plausible
                # wrong pixels; wgrib2/GDAL read these via jasper/openjpeg.
                raise NotImplementedError(
                    "GRIB2 data representation template 5.40 (JPEG2000): "
                    "no in-sandbox reference codec to conformance-test a "
                    "from-scratch decoder against — deliberately gated "
                    "(see SURVEY.md §2 C36); re-encode with wgrib2 "
                    "-set_grib_type c2|s, or install a GDAL/eccodes "
                    "pipeline for 5.40 archives"
                )
            if drt not in (0, 2, 3, 41):
                raise NotImplementedError(
                    f"GRIB2 data representation template 5.{drt} "
                    "(simple 5.0 / complex 5.2 / complex+diff 5.3 / "
                    "PNG 5.41 only)"
                )
            m["drt"] = drt
            raw5 = bytes(b[s5 + 11 : s5 + 38])
            (m["R"],) = struct.unpack_from(">f", raw5, 0)
            m["E"] = _sm(struct.unpack_from(">H", raw5, 4)[0], 16)
            m["D"] = _sm(struct.unpack_from(">H", raw5, 6)[0], 16)
            m["nbits"] = raw5[8]
            if drt in (2, 3):
                # template 5.2 body past the 5.0 fields (section offsets
                # 21..46), 5.3 adds order + descriptor-octet count (47, 48)
                mvm = b[s5 + 22]
                if mvm not in (0, 1, 2):
                    raise NotImplementedError(
                        f"GRIB2 missing-value management {mvm} (0/1/2)"
                    )
                m["mvm"] = mvm
                if mvm:
                    # substitute values (octets 24-31), typed by the
                    # original-field-type octet 21: IEEE float or uint.
                    # The decoder emits missing points as ABSENT rows (same
                    # contract as the bitmap path) — the substitutes are
                    # recorded for metadata/debugging only.
                    ftype = raw5[9]
                    fmt = ">f" if ftype == 0 else ">I"
                    m["primary_sub"] = float(
                        struct.unpack(fmt, bytes(b[s5 + 23 : s5 + 27]))[0]
                    )
                    if mvm == 2:
                        m["secondary_sub"] = float(
                            struct.unpack(fmt, bytes(b[s5 + 27 : s5 + 31]))[0]
                        )
                m["ng"] = struct.unpack(">I", bytes(b[s5 + 31 : s5 + 35]))[0]
                m["wref"] = b[s5 + 35]
                m["wbits"] = b[s5 + 36]
                m["lref"] = struct.unpack(">I", bytes(b[s5 + 37 : s5 + 41]))[0]
                m["linc"] = b[s5 + 41]
                m["last_len"] = struct.unpack(
                    ">I", bytes(b[s5 + 42 : s5 + 46])
                )[0]
                m["lbits"] = b[s5 + 46]
                if drt == 3:
                    m["sd_order"] = b[s5 + 47]
                    m["sd_octets"] = b[s5 + 48]
                    if m["sd_order"] not in (1, 2):
                        raise NotImplementedError(
                            f"GRIB2 spatial differencing order {m['sd_order']}"
                        )

            s6 = sec.get(6)
            m["bitmap_off"] = None
            if s6 is not None:
                ind = b[s6[0] + 5]
                if ind == 0:
                    # mvm may legally combine with a bitmap: the packed
                    # stream covers bitmap-PRESENT points, embedded markers
                    # flag further missing among them; decode composes the
                    # two (mvm NaNs first, bitmap scatter after)
                    m["bitmap_off"] = s6[0] + 6
                    m["bitmap_len"] = s6[1] - 6
                    prev_bitmap = (m["bitmap_off"], m["bitmap_len"])
                elif ind == 254:
                    # reuse the previously defined bitmap (indicator 254):
                    # carried forward from the last indicator-0 message —
                    # NCEP packs repeated-mask multi-field files this way
                    if prev_bitmap is None:
                        raise ValueError(
                            "GRIB2 bitmap indicator 254 with no previously "
                            "defined bitmap in the file"
                        )
                    m["bitmap_off"], m["bitmap_len"] = prev_bitmap
                elif ind != 255:
                    raise NotImplementedError(
                        f"GRIB2 pre-defined bitmap indicator {ind}"
                    )

            s7, s7len = sec[7]
            m["data_off"] = s7 + 5
            m["data_len"] = s7len - 5
            messages.append(m)
            p += msg_len
        except (NotImplementedError, ValueError, struct.error,
                IndexError) as exc:
            # IndexError is what single-byte accesses (b[q + 3] on an
            # mmap/bytes cut mid-message) raise on truncation — without
            # it, tolerant mode crashed on most truncated GRIB1 cuts
            # (review r14). When the message evidently overruns the
            # file, BOTH modes name the truncation: fail-fast raises a
            # typed error instead of whichever parser detail tripped
            # first, tolerant mode lists the tail and stops the walk.
            truncated = pre_len > 0 and p + pre_len > size
            if not tolerant:
                if truncated:
                    raise ValueError(
                        f"truncated GRIB message at {p}: declares "
                        f"{pre_len} bytes, {size - p} available ({exc})"
                    ) from exc
                raise
            if pre_len <= 0:
                raise
            if truncated:
                # final message declares more bytes than the file has
                # (truncated download / interrupted append): report the
                # tail instead of aborting the whole inventory
                messages.append({
                    "offset": p, "length": size - p, "edition": edition,
                    "unsupported": (
                        f"truncated message: declares {pre_len} bytes, "
                        f"{size - p} available ({exc})"
                    ),
                })
                p = size
                continue
            # inventory mode (grib-info): list the message as
            # unsupported and keep walking — mixed archives are
            # exactly the files a user needs to inventory before
            # picking --param/--member/--threshold (ADVICE r12)
            messages.append({
                "offset": p, "length": pre_len, "edition": edition,
                "unsupported": str(exc),
            })
            p += pre_len
    if p < size:
        # trailing fragment shorter than a full section 0 (the loop
        # guard needs 16 bytes to read any message length): too short
        # to skip past, so surface it rather than silently dropping it
        if tolerant:
            messages.append({
                "offset": p, "length": size - p, "edition": None,
                "unsupported": (
                    f"truncated section 0: {size - p} trailing bytes"
                ),
            })
        else:
            raise ValueError(
                f"truncated GRIB section 0 at {p}: "
                f"{size - p} trailing bytes"
            )
    if hasattr(b, "close"):
        b.close()
    return {"path": path, "format": "grib2", "messages": messages}


def _ecc(p: dict) -> float:
    import math

    if p["inv_f"] == float("inf"):
        return 0.0
    f = 1.0 / p["inv_f"]
    return math.sqrt(2.0 * f - f * f)


def _snyder_t(phi: float, e: float) -> float:
    import math

    s = math.sin(phi)
    t = math.tan(math.pi / 4.0 - phi / 2.0)
    if e:
        t /= ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0)
    return t


def lcc_forward(p: dict, lon: float, lat: float) -> tuple[float, float]:
    """Python Lambert-Conformal-Conic forward (Snyder 15-1/14-15; the
    mirror of tiff_reader.lcc_inverse and of the warp's Column-
    expression forward) — used to anchor a GRIB Lambert grid's affine
    at its first grid point."""
    import math

    from raquet_spark.sources.tiff_reader import _lcc_constants

    k = _lcc_constants(p)
    t = _snyder_t(math.radians(lat), _ecc(p))
    rho = k["a"] * k["F"] * t ** k["n"]
    th = k["n"] * (math.radians(lon) - k["lon0"])
    return (
        k["fe"] + rho * math.sin(th),
        k["fn"] + k["rho0"] - rho * math.cos(th),
    )


def ps_forward(p: dict, lon: float, lat: float) -> tuple[float, float]:
    """Python Polar Stereographic forward (Snyder ch. 21; the mirror
    of tiff_reader.ps_inverse — north: y = -ρ·cos, south: original
    signs with φ negated)."""
    import math

    from raquet_spark.sources.tiff_reader import _ps_constants

    k = _ps_constants(p)
    phi = math.radians(-lat if k["south"] else lat)
    rho = k["rho_div"] * _snyder_t(phi, _ecc(p))
    dlam = math.radians(lon) - k["lon0"]
    if k["south"]:
        return k["fe"] + rho * math.sin(dlam), k["fn"] + rho * math.cos(dlam)
    return k["fe"] + rho * math.sin(dlam), k["fn"] - rho * math.cos(dlam)


def merc_forward(p: dict, lon: float, lat: float) -> tuple[float, float]:
    """Mercator at lat_ts, spherical and ellipsoidal (grid 3.10;
    Snyder 7-6/7-7 — mirror of tiff_reader.merc_inverse and of the
    warp's Column forward): y = -a·k0·ln t."""
    import math

    from raquet_spark.sources.tiff_reader import _merc_constants

    k = _merc_constants(p)
    return (
        k["fe"] + k["ak0"] * math.radians(lon),
        k["fn"] - k["ak0"] * math.log(
            _snyder_t(math.radians(lat), _ecc(p))
        ),
    )


def proj_forward(p: dict, lon: float, lat: float) -> tuple[float, float]:
    if p["type"] == "lcc":
        return lcc_forward(p, lon, lat)
    if p["type"] == "ps":
        return ps_forward(p, lon, lat)
    if p["type"] == "merc":
        return merc_forward(p, lon, lat)
    raise NotImplementedError(f"forward for projection {p['type']!r}")


def _unpack_bits(raw: bytes, n: int, nbits: int) -> np.ndarray:
    """First ``n`` big-endian ``nbits``-wide unsigned ints from a bit
    stream, vectorized (unpackbits → (n, nbits) → dot with powers)."""
    if nbits == 0:
        return np.zeros(n, dtype="i8")
    need = (n * nbits + 7) // 8
    bits = np.unpackbits(np.frombuffer(raw[:need], dtype="u1"))
    bits = bits[: n * nbits].reshape(n, nbits).astype("i8")
    weights = 1 << np.arange(nbits - 1, -1, -1, dtype="i8")
    return bits @ weights


def _unpack_complex(
    raw7: bytes, m: dict, npresent: int
) -> tuple[np.ndarray, np.ndarray | None]:
    """Templates 5.2/5.3: group-split values (+ optional spatial
    differencing). Block layout (the wgrib2/eccodes convention this
    module's writer also follows): [5.3: (order+1) sign-magnitude
    descriptor ints of sd_octets bytes — the first value(s) and the
    overall minimum of the differences], then byte-aligned blocks of
    NG group references (nbits), NG group widths (wbits, + wref), NG
    scaled group lengths (lbits, L = lref + linc*stored; the last
    group's true length from the template), then the group values as
    one continuous bit stream.

    Missing-value management (octet 23 = 1/2 — NCEP precip/radar
    fields embed missing points instead of carrying a bitmap): within
    a group of width w, a packed increment of all ones (2^w - 1) marks
    a primary missing point and, under mvm 2, 2^w - 2 a secondary one;
    a width-0 group whose REFERENCE is all ones (2^nbits - 1, or
    2^nbits - 2 for secondary) is missing in its entirety. Under 5.3
    the spatial differencing runs over the sequence of NON-missing
    points only (the descriptor firsts are the first non-missing
    values). Returns (values, missing-mask | None)."""
    ng = m["ng"]
    mvm = m.get("mvm", 0)
    pos = 0
    if m["drt"] == 3:
        o, w = m["sd_order"], m["sd_octets"]
        desc = [
            _sm(int.from_bytes(raw7[k * w : (k + 1) * w], "big"), 8 * w)
            for k in range(o + 1)
        ]
        firsts, gmin = desc[:o], desc[o]
        pos = (o + 1) * w
    refs = _unpack_bits(raw7[pos:], ng, m["nbits"])
    pos += (ng * m["nbits"] + 7) // 8
    widths = _unpack_bits(raw7[pos:], ng, m["wbits"]) + m["wref"]
    pos += (ng * m["wbits"] + 7) // 8
    lens = _unpack_bits(raw7[pos:], ng, m["lbits"]) * m["linc"] + m["lref"]
    pos += (ng * m["lbits"] + 7) // 8
    if ng:
        lens[-1] = m["last_len"]
    if int(lens.sum()) != npresent:
        raise ValueError(
            f"GRIB2 complex packing: group lengths sum {int(lens.sum())} "
            f"!= {npresent} present points"
        )
    # group values: one continuous bit stream (width-0 groups store
    # nothing — every point equals the group reference)
    bits = np.unpackbits(np.frombuffer(raw7[pos:], dtype="u1"))
    x = np.zeros(npresent, dtype="i8")
    miss = np.zeros(npresent, dtype=bool) if mvm else None
    ref_p = (1 << m["nbits"]) - 1 if m["nbits"] else None
    ref_s = ref_p - 1 if ref_p is not None and mvm == 2 else None
    bp = 0
    vp = 0
    for g in range(ng):
        ln, wd = int(lens[g]), int(widths[g])
        if wd == 0:
            if mvm and ref_p is not None and (
                refs[g] == ref_p or (ref_s is not None and refs[g] == ref_s)
            ):
                miss[vp : vp + ln] = True
            else:
                x[vp : vp + ln] = refs[g]
        else:
            seg = bits[bp : bp + ln * wd].reshape(ln, wd).astype("i8")
            weights = 1 << np.arange(wd - 1, -1, -1, dtype="i8")
            inc = seg @ weights
            if mvm:
                gm = inc == (1 << wd) - 1
                if mvm == 2:
                    gm |= inc == (1 << wd) - 2
                miss[vp : vp + ln] = gm
                inc = np.where(gm, 0, inc)  # masked below; keep finite
            x[vp : vp + ln] = inc + refs[g]
            bp += ln * wd
        vp += ln
    if m["drt"] == 3:
        o = m["sd_order"]
        if miss is not None and miss.any():
            # differencing covers NON-missing points only
            nz = np.nonzero(~miss)[0]
            v = x[nz]
            v[o:] += gmin
            v[: min(o, len(v))] = firsts[: min(o, len(v))]
            if o == 1:
                v = np.cumsum(v)
            else:
                for i in range(2, len(v)):
                    v[i] += 2 * v[i - 1] - v[i - 2]
            x[nz] = v
        else:
            x[o:] += gmin
            x[:o] = firsts
            # undifference in place: order 1: f[i] += f[i-1];
            # order 2: f[i] += 2 f[i-1] - f[i-2]
            if o == 1:
                x = np.cumsum(x)
            else:
                for i in range(2, npresent):
                    x[i] += 2 * x[i - 1] - x[i - 2]
    return x, miss


def decode_message(raw7: bytes, m: dict, bitmap: bytes | None) -> np.ndarray:
    """One message's values as an (nj, ni) float64 grid with NaN where
    the bitmap says 'missing'; row 0 = NORTH (j flipped when the scan
    direction is +j). ``Y = (R + X * 2^E) / 10^D``."""
    ni, nj = m["ni"], m["nj"]
    # ragged rows arrive two ways: reduced grids (per-row point lists,
    # per-row x spread) and alternating-Ni staggered grids (scan bit 8:
    # offset rows carry Ni-1 points at the parent spacing) — the scatter
    # into a NaN-padded rectangle is shared, the geometry differs
    row_ni = m.get("row_ni_scan")
    alt_ni = m.get("alt_ni_rows")
    counts = row_ni if row_ni is not None else alt_ni
    total = sum(counts) if counts is not None else ni * nj
    if bitmap is not None:
        if len(bitmap) * 8 < total:
            raise ValueError(
                f"GRIB bitmap carries {len(bitmap) * 8} bits for "
                f"{total} grid points"
            )
        mask = np.unpackbits(np.frombuffer(bitmap, dtype="u1"))[:total] == 1
        npresent = int(mask.sum())
    else:
        mask = None
        npresent = m["npoints"]
    emb_miss = None
    if m.get("drt", 0) in (2, 3):
        xi, emb_miss = _unpack_complex(raw7, m, npresent)
        x = xi.astype("f8")
    elif m.get("drt", 0) == 41:
        # PNG packing (NCEP radar/MRMS products): the payload IS a PNG
        # stream; the scaled ints ride the channels big-endian (8/16-bit
        # gray for <=8/<=16 bits, RGB for <=24, RGBA beyond) — decoded
        # by the repo's own from-scratch PNG codec. Image shape is
        # (nj, ni) for full grids or (1, npresent) under a bitmap.
        from raquet_spark.functions.png import png_decode

        img = png_decode(raw7).astype("i8")
        h, w, c = img.shape
        if h * w != npresent:
            raise ValueError(
                f"GRIB2 PNG packing: image {h}x{w} != {npresent} points"
            )
        if c == 1:  # 8- or 16-bit grayscale carries the value directly
            x = img[:, :, 0].ravel().astype("f8")
        else:
            v = np.zeros((h, w), dtype="i8")
            for ch in range(c):
                v = (v << 8) | img[:, :, ch]
            x = v.ravel().astype("f8")
    else:
        x = _unpack_bits(raw7, npresent, m["nbits"]).astype("f8")
    y = (m["R"] + x * (2.0 ** m["E"])) / (10.0 ** m["D"])
    if emb_miss is not None:
        # embedded (mvm) missing points: same contract as the bitmap —
        # NaN in the grid, absent rows in the pixel table
        y = np.where(emb_miss, np.nan, y)
    if mask is not None:
        full = np.full(total, np.nan)
        full[mask] = y
        y = full
    if counts is not None:
        # ragged rows: scatter each row's points into a NaN-padded
        # (nj, max_ni) rectangle — for reduced grids column k of row j
        # is the point at lon = lo1 + k * 360/row_ni[j]; for
        # alternating-Ni staggered grids it is lo1 + (k + 1/2) * di
        # (the warp's stagger_x shift). Padding beyond a row's count
        # is absent (same contract as bitmap-missing).
        rect = np.full((nj, ni), np.nan)
        pos = 0
        for j, n in enumerate(counts):
            rect[j, :n] = y[pos : pos + n]
            pos += n
        if m["j_positive"]:
            rect = rect[::-1]
        return rect
    # normalize the scan order (flag table 3.4 bits 1-4) to row-major,
    # row 0 = north, col 0 = west: values arrive as consecutive LINES
    # (i-lines row-major, j-lines when bit 3 says j-consecutive), odd
    # lines reversed under boustrophedon, line direction per bits 1/2
    col_major = m.get("col_major", False)
    lines = y.reshape((ni, nj) if col_major else (nj, ni))
    if m.get("boustro", False):
        lines = lines.copy()
        lines[1::2] = lines[1::2, ::-1]
    grid = lines.T if col_major else lines
    if m.get("i_negative", False):  # stored east→west: col 0 is west
        grid = grid[:, ::-1]
    if m["j_positive"]:  # stored south→north: flip so row 0 is north
        grid = grid[::-1]
    return grid


def select_messages(
    msgs: list[dict],
    param: tuple[int, int] | None = None,
    level: tuple | None = None,
    member: int | None = None,
    threshold: float | None = None,
    percentile: int | None = None,
) -> list[dict]:
    """Messages of ONE field: filtered by ``param`` (category, number)
    AND by ``level`` (first-fixed-surface type, value) — the surface is
    part of the key, so a pressure-level archive (one parameter at many
    levels, identical grids) never collapses into one tile stack with
    silently interleaved levels. ``member`` selects one ensemble
    member (PDT 4.1/4.11), ``threshold`` one probability lower
    limit (PDT 4.5/4.9), and ``percentile`` one percentile value
    (PDT 4.6/4.10), so multi-member/multi-threshold/multi-percentile
    archives are ingestable without upstream splitting. Defaults: the
    param/surface of the first message. Residual duplicates (two
    selected messages at the same forecast hour) raise."""
    if not msgs:
        raise ValueError("empty GRIB2 file")
    if member is not None:
        msgs = [m for m in msgs if m.get("ens_member") == member]
        if not msgs:
            raise ValueError(f"no GRIB2 messages for ensemble member {member}")
    if threshold is not None:
        # match the lower limit when the message carries one; messages
        # keyed by the UPPER limit only (probability type 4 "below
        # upper limit", lower limit encoded missing → prob_lower None)
        # fall back to matching prob_upper, so below-limit archives
        # stay selectable (ADVICE r12)
        def _thr_match(m: dict) -> bool:
            lim = m.get("prob_lower")
            if lim is None:
                lim = m.get("prob_upper")
            return lim is not None and abs(lim - threshold) < 1e-9

        msgs = [m for m in msgs if _thr_match(m)]
        if not msgs:
            raise ValueError(
                "no GRIB2 messages with probability lower limit "
                f"{threshold} (nor upper limit, for below-limit "
                "probability products)"
            )
    if percentile is not None:
        msgs = [m for m in msgs if m.get("percentile") == percentile]
        if not msgs:
            raise ValueError(
                f"no GRIB2 messages for percentile {percentile} "
                "(PDT 4.6/4.10)"
            )
    if param is None:
        param = (msgs[0]["param_category"], msgs[0]["param_number"])
    by_param = [
        m for m in msgs
        if (m["param_category"], m["param_number"]) == param
    ]
    if not by_param:
        raise ValueError(f"no GRIB2 messages for parameter {param}")
    if level is None:
        level = (by_param[0]["level_type"], by_param[0]["level_value"])
    sel = [
        m for m in by_param
        if (m["level_type"], m["level_value"]) == tuple(level)
    ]
    if not sel:
        raise ValueError(
            f"no GRIB2 messages for parameter {param} at surface {level}"
        )
    seen: dict[float, dict] = {}
    for m in sel:
        t = m["forecast_hours"]
        if t in seen:
            if m.get("pdt") in (1, 11):  # individual ensemble members
                detail = "/".join(
                    f"member {x.get('ens_member', '?')}"
                    for x in (seen[t], m)
                ) + " — select one with member="
            elif m.get("pdt") in (2, 12):  # derived forecasts
                detail = "/".join(
                    f"derived type {x.get('ens_derived', '?')}"
                    for x in (seen[t], m)
                )
            elif m.get("pdt") in (5, 9):
                detail = "/".join(
                    f"probability threshold {x.get('prob_lower', '?')}"
                    f"..{x.get('prob_upper', '?')}"
                    for x in (seen[t], m)
                ) + " — select one with threshold="
            elif m.get("pdt") in (6, 10):  # percentile forecasts
                detail = "/".join(
                    f"percentile {x.get('percentile', '?')}"
                    for x in (seen[t], m)
                ) + " — select one with percentile="
            else:
                detail = "same (param, level, time)"
            raise ValueError(
                f"GRIB2: {len(sel)} messages share parameter {param}, "
                f"surface {level}, forecast hour {t} ({detail}) — "
                "disambiguate by splitting the archive or selecting a "
                "single ensemble member upstream"
            )
        seen[t] = m
    return sel


def grib2_pixel_table(
    spark,
    g: dict,
    param: tuple[int, int] | None = None,
    level: tuple | None = None,
    member: int | None = None,
    threshold: float | None = None,
    percentile: int | None = None,
):
    """Distributed decode → (time_cf, sy, sx, band_1) pixel rows,
    ``time_cf`` = forecast hours (code-table 4.4 units converted); one
    mapInPandas task per message (byte-ranged read through
    sources/io.range_reader). Missing points (bitmap or embedded
    missing-value management) are omitted — GRIB has no inline fill
    value. ``param`` filters (category, number), ``level`` the first
    fixed surface; defaults: those of the first message."""
    import pandas as pd
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    sel = select_messages(g["messages"], param, level, member, threshold,
                          percentile)
    shape0 = (sel[0]["ni"], sel[0]["nj"])
    for m in sel:
        if (m["ni"], m["nj"]) != shape0:
            raise NotImplementedError(
                "GRIB2 messages of one parameter on different grids"
            )
    path = g["path"]
    n_part = max(1, min(len(sel), spark.sparkContext.defaultParallelism))
    import json

    task_df = spark.createDataFrame(
        pd.DataFrame([
            {
                "i": i, "forecast_time": float(m["forecast_hours"]),
                # the full per-message packing params ride as JSON so
                # every representation template shares one task schema
                "params": json.dumps(m),
            }
            for i, m in enumerate(sel)
        ])
    ).repartition(n_part)

    def decode(batches):
        import json

        from raquet_spark.sources.io import range_reader

        rd = range_reader(path)
        for pdf in batches:
            for row in pdf.to_dict("records"):
                m = json.loads(row["params"])
                bitmap = (
                    rd(m["bitmap_off"], m["bitmap_len"])
                    if m["bitmap_off"] is not None else None
                )
                grid = decode_message(
                    rd(m["data_off"], m["data_len"]), m, bitmap
                )
                sy, sx = np.nonzero(~np.isnan(grid))
                yield pd.DataFrame({
                    "time_cf": np.full(len(sy), float(row["forecast_time"])),
                    "sy": sy.astype("int64"),
                    "sx": sx.astype("int64"),
                    "band_1": grid[sy, sx],
                })

    return task_df.mapInPandas(
        decode, schema="time_cf double, sy bigint, sx bigint, band_1 double"
    )


def _grib2_info(m0: dict, path: str = "", nodata: float = -9999.0) -> dict:
    """The tiff_reader-shaped ``info`` dict (width/height/transform/
    projection/stagger) for one selected GRIB message — the grid
    normalization the warp consumes, shared by the conversion path
    and the tests that pin its geolocation bookkeeping."""
    ni, nj = m0["ni"], m0["nj"]
    # grid rows are normalized north-first by decode_message
    info = {
        "path": path,
        "width": ni,
        "height": nj,
        "n_bands": 1,
        "dtype": "float64",
        "nodata": nodata,
        "palette": None,
    }

    def _stagger_x_tuple() -> tuple | None:
        # bits 5/6: odd/even SCAN rows (1-based; scan row 1 = 0-based
        # index 0) offset by Di/2 in the scan +i direction. In the
        # normalized frame (row 0 north, col 0 west) this is a
        # per-row-parity half-sample x shift the warp applies when
        # picking the containing source cell — the shift lives in
        # source INDEX space, so it composes unchanged with lat/lon,
        # rotated, projected, and Gaussian-row y mappings.
        if not (m0.get("stagger_odd") or m0.get("stagger_even")):
            return None
        f = -0.5 if m0.get("i_negative") else 0.5

        def _applies(j: int) -> bool:
            scan_idx = (nj - 1 - j) if m0.get("j_positive") else j
            odd_row = scan_idx % 2 == 0  # 1-based odd
            return bool(
                (odd_row and m0.get("stagger_odd"))
                or (not odd_row and m0.get("stagger_even"))
            )

        return (
            f if _applies(0) else 0.0,
            f if _applies(1) else 0.0,
        )
    if m0.get("grid") in ("lambert", "ps", "merc"):
        # anchor the projected affine at the FIRST grid point: forward-
        # project (la1, lo1) (the python mirror of the warp's Snyder
        # expressions), then flip to a north-first row axis to
        # match decode_message's normalization
        proj = m0["proj"]
        x1, y1 = proj_forward(proj, m0["lo1"], m0["la1"])
        # the first grid point is the scan origin: move to the
        # west/north OUTER corner per the scan direction flags
        if m0.get("i_negative", False):
            x1 -= (ni - 1) * m0["dx"]
        y_top = y1 + (nj - 1) * m0["dy"] if m0["j_positive"] else y1
        if m0.get("stagger_j"):
            # bit 7 on a projected grid: every point offset by Dy/2 in
            # the scan +j direction (+y when j_positive, -y otherwise)
            y_top += m0["dy"] / 2.0 if m0["j_positive"] else -m0["dy"] / 2.0
        st = _stagger_x_tuple()
        if st:
            info["stagger_x"] = st
        info.update(
            epsg=32767,  # user-defined CRS: closed-form params below
            projection=proj,
            transform=(
                x1 - m0["dx"] / 2.0, m0["dx"], 0.0,
                y_top + m0["dy"] / 2.0, 0.0, -m0["dy"],
            ),
        )
    elif m0.get("grid") == "rotll":
        # rotated lat/lon: the model coordinates ARE rotated degrees
        # and the affine is the 3.0 shape in the rotated frame; the
        # warp applies the pole rotation as the forward "projection";
        # rotated lons normalize to (-180, 180] to match the forward's
        # atan2 range
        north = max(m0["lat1"], m0["lat2"])
        if m0.get("stagger_j"):
            # bit 7 in the rotated frame: Dj/2 shift along the rotated
            # +j scan axis, folded into the affine anchor exactly as on
            # the plain lat/lon grid (the pole rotation is applied
            # downstream of this affine)
            north += m0["dj"] / 2.0 if m0.get("j_positive") else -m0["dj"] / 2.0
        lo1r = m0["lon1"] - 360.0 if m0["lon1"] > 180.0 else m0["lon1"]
        if m0.get("i_negative", False):
            lo1r -= (ni - 1) * m0["di"]
        st = _stagger_x_tuple()
        if st:
            info["stagger_x"] = st
        info.update(
            epsg=32767,
            projection=m0["proj"],
            transform=(
                lo1r - m0["di"] / 2.0, m0["di"], 0.0,
                north + m0["dj"] / 2.0, 0.0, -m0["dj"],
            ),
        )
    elif m0.get("lat_centers") is not None:
        # explicit row latitudes (Gaussian grids — y is NOT affine —
        # and GRIB1 quasi-regular lat/lon, whose lats ARE affine but
        # ride the same list): the transform's y leg is anchored at
        # the exact outer EDGES (so corner/bounds math is exact) and
        # the warp overrides the per-row mapping with the broadcast
        # lat_centers row map
        lc = m0["lat_centers"]
        north_edge = lc[0] + (lc[0] - lc[1]) / 2.0
        south_edge = lc[-1] - (lc[-2] - lc[-1]) / 2.0
        if m0.get("row_ni") is not None:
            # REDUCED rows: x is not affine either — the warp indexes
            # each row's own spacing (360/_rn on global circles,
            # lon_span/(_rn-1) endpoint-inclusive regional rows); the
            # transform's x leg only anchors corner/zoom math at the
            # finest row's spacing
            lf = m0["lon1"]
            if lf > 180.0:
                lf -= 360.0
            span = m0.get("lon_span")
            if span is not None:  # regional (GRIB1 quasi-regular)
                x_leg = (lf - span / (2.0 * (ni - 1)), span / (ni - 1))
            else:  # global O-grid
                x_leg = (-180.0, 360.0 / ni)
            info.update(
                epsg=4326,
                lat_centers=lc,
                row_ni=list(m0["row_ni"]),
                lon_first=lf,
                lon_global=bool(m0.get("lon_global")),
                **({"lon_span": span} if span is not None else {}),
                transform=(
                    x_leg[0], x_leg[1], 0.0,
                    north_edge, 0.0, -(north_edge - south_edge) / nj,
                ),
            )
        else:
            w_lon = m0["lon1"] - (
                (ni - 1) * m0["di"] if m0.get("i_negative", False) else 0.0
            )
            # regular Gaussian rows: x IS affine, so the bits-5/6
            # half-sample shift rides the same stagger_x path as the
            # affine grids (the warp applies it after the lat_centers
            # row-map join replaces fsy); bit 7 is gated at parse time
            # (no Dj on a Gaussian grid to halve)
            st = _stagger_x_tuple()
            if st:
                info["stagger_x"] = st
            info.update(
                epsg=4326,
                lat_centers=lc,
                transform=(
                    w_lon - m0["di"] / 2.0, m0["di"], 0.0,
                    north_edge, 0.0, -(north_edge - south_edge) / nj,
                ),
            )
    else:
        north = max(m0["lat1"], m0["lat2"])
        if m0.get("stagger_j"):
            # flag-table 3.4 bit 7: every point offset by Dj/2 in the
            # scan +j direction — a uniform shift, folded into the
            # affine anchor. With bit 8 (alt_ni_rows) the offset column
            # carries Nj-1 points interleaving STRICTLY INSIDE the
            # parent rows, so the north row sits at parent north - Dj/2
            # regardless of scan direction (m0["nj"] already holds the
            # reduced row count).
            if m0.get("alt_ni_rows") is not None:
                north -= m0["dj"] / 2.0
            else:
                north += (
                    m0["dj"] / 2.0 if m0.get("j_positive")
                    else -m0["dj"] / 2.0
                )
        w_lon = m0["lon1"] - (
            (ni - 1) * m0["di"] if m0.get("i_negative", False) else 0.0
        )
        st = _stagger_x_tuple()
        if st:
            info["stagger_x"] = st
        info.update(
            epsg=4326,
            # lat/lon are CELL CENTERS (as in CF): origin is the outer
            # corner
            transform=(
                w_lon - m0["di"] / 2.0, m0["di"], 0.0,
                north + m0["dj"] / 2.0, 0.0, -m0["dj"],
            ),
        )
    return info


def grib2_to_raquet(
    spark,
    path: str,
    param: tuple[int, int] | None = None,
    level: tuple | None = None,
    zoom: int | None = None,
    block_size: int = 256,
    compression: str | None = "gzip",
    stats: bool = True,
    resampling: str = "near",
    nodata: float = -9999.0,
    member: int | None = None,
    threshold: float | None = None,
    percentile: int | None = None,
):
    """GRIB2 → RaQuet tiles on the mercator grid, forecast steps as
    ``time_cf`` — the same warp as :func:`netcdf.netcdf_to_raquet`
    (:func:`tiff_reader.warp_tiles`; the two formats carry the same
    grid + time-steps shape). ``member``/
    ``threshold``/``percentile`` select one ensemble member /
    probability threshold / percentile value out of a multi-member,
    exceedance, or percentile archive (PDT 4.1/4.11, 4.5/4.9, and
    4.6/4.10)."""
    from pyspark.sql import functions as F

    from raquet_spark.core.metadata import BandMeta, build_metadata
    from raquet_spark.operators.tile_stats import with_tile_stats
    from raquet_spark.sources.tiff_reader import (
        _lonlat_corners,
        _pick_zoom,
        _tile_aligned_bounds,
        warp_tiles,
    )

    g = read_grib2_structure(path)
    sel = select_messages(g["messages"], param, level, member, threshold,
                          percentile)
    m0 = sel[0]
    if param is None:
        param = (m0["param_category"], m0["param_number"])
    if level is None:
        level = (m0["level_type"], m0["level_value"])
    info = _grib2_info(m0, path, nodata)
    z = zoom if zoom is not None else _pick_zoom(info, block_size, "upper")
    px = grib2_pixel_table(spark, g, param, level, member, threshold,
                           percentile)
    # bitmap-missing points were omitted; the warp gather wants dense
    # rows only where data exists — absent sources resolve to nodata
    px = px.withColumn("band_1", F.coalesce("band_1", F.lit(nodata)))
    (w, s, e, n), (tx0, ty0, tx1, ty1) = _tile_aligned_bounds(
        _lonlat_corners(info), z
    )
    times = sorted({float(m["forecast_hours"]) for m in sel})
    meta = build_metadata(
        bands=[BandMeta(name="band_1", type="float64", nodata=nodata,
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
        spark, px, info, meta, (tx0, ty0, tx1, ty1), resampling,
        extra_key="time_cf" if len(times) > 1 else None,
        n_steps=len(times),
    )
    if len(times) > 1:
        meta["time"] = {
            "count": len(times), "values_cf": times,
            "cf:units": "hours since forecast reference time",
        }
    if stats:
        tiles = with_tile_stats(tiles, meta)
    return tiles, meta
