"""Overview pyramid construction (spec §Overview Availability;
reference builds overviews by GDAL re-warping per zoom,
/root/reference/raquet/raster2raquet.py:1959+ — single-node).

Spark-first reformulation: levels z-1 .. z-k are an aggregation of
level z — ``groupBy(cell_to_parent(block, z-k))`` then ``applyInPandas``
assembles the up-to-4^k children into one mosaic and downsamples it by
2, k times (:func:`build_levels_blocked`; :func:`build_level` is the
k=1 pass). Each level is ¼ the rows of the previous, the shuffle key is
the ancestor cell (Morton-local ⇒ AQE-friendly), and
:func:`build_pyramid` runs a short driver loop of
:data:`LEVELS_PER_PASS`-level passes — one shuffle per pass, fully
parallel within it. This is how the operation scales to 100 TB where
the reference's warp cannot.

Resampling kernels (reference exposes the GDAL set,
raster2raquet.py:933-946): ``near`` (top-left of each 2×2, GDAL-style),
``average`` (nodata-aware mean), ``mode`` (most common valid value),
``max`` / ``min`` / ``med`` / ``q1`` / ``q3`` (nodata-masked window
reductions), ``bilinear`` (≡ 2×2 box average at an exact 2× step).

``cubic`` / ``cubicspline`` / ``lanczos`` use a >2px convolution kernel
that crosses tile borders, so their level builder
(:func:`build_level_halo`) performs a halo exchange: every child tile
is shipped to its own parent group plus the ≤3 neighboring parent
groups its outer corner touches (4× replication of the level being
reduced — the minimal halo for a 2× step, far cheaper than a 9×
ring-1 broadcast). Inside a group the padded mosaic is convolved with
a separable kernel as two matmuls over (value·mask) and mask, which is
exactly 2-D normalized convolution under nodata. Kernel shapes follow
the standard definitions (Catmull-Rom a=-0.5; B-spline; Lanczos a=3)
scaled by the 2× step — GDAL is not present to mirror bit-for-bit; the
semantics are documented here and byte-verified against a single-mosaic
reference convolution in tests.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raquet_spark.core.metadata import parse_nodata
from raquet_spark.functions import quadbin as qb
from raquet_spark.functions.bands import DTYPES, decode_block, encode_block
from raquet_spark.plans.shape import pin_group_width


def _level_pixels(metadata: dict, zoom: int) -> int:
    """Upper bound on the decoded pixel volume of one pyramid level at
    ``zoom`` (native extent shrunk by 2^(max_zoom - zoom), +1 tile of
    alignment slack per axis, x band count) — the work hint for
    :func:`raquet_spark.plans.shape.pin_group_width`."""
    t = metadata["tiling"]
    bw, bh = t["block_width"], t["block_height"]
    k = max(0, t["max_zoom"] - zoom)
    tx_native = -(-metadata["width"] // bw)
    ty_native = -(-metadata["height"] // bh)
    tx = -(-tx_native // (1 << k)) + 1
    ty = -(-ty_native // (1 << k)) + 1
    return tx * ty * bw * bh * max(1, len(metadata.get("bands", [])))


def _downsample(block: np.ndarray, method: str, nodata) -> np.ndarray:
    """2× downsample a (h, w) array to (h/2, w/2)."""
    h, w = block.shape
    q = block.reshape(h // 2, 2, w // 2, 2).swapaxes(1, 2).reshape(h // 2, w // 2, 4)
    if method == "near":
        return q[:, :, 0]
    if method == "average":
        qf = q.astype("f8")
        if nodata is not None and not (isinstance(nodata, float) and np.isnan(nodata)):
            good = q != nodata
        else:
            good = np.isfinite(qf) if block.dtype.kind == "f" else np.ones(q.shape, bool)
        cnt = good.sum(axis=2)
        s = np.where(good, qf, 0.0).sum(axis=2)
        out = np.divide(s, cnt, out=np.full(cnt.shape, np.nan), where=cnt > 0)
        if nodata is not None:
            out = np.where(cnt > 0, out, nodata)
        return out.astype(block.dtype)
    if method == "mode":
        # vectorized 4-way mode: count occurrences of each candidate
        counts = (q[:, :, :, None] == q[:, :, None, :]).sum(axis=3)
        idx = counts.argmax(axis=2)
        return np.take_along_axis(q, idx[:, :, None], axis=2)[:, :, 0]
    if method in ("max", "min", "med", "q1", "q3", "bilinear"):
        # nodata-masked reductions over each 2x2 window. At an exact 2x
        # power-of-two downsample the bilinear kernel degenerates to the
        # 2x2 box average, so it shares the masked-mean path. Quantiles
        # use linear interpolation; integer dtypes round half away from
        # zero via rint (documented semantics — GDAL is not available
        # here to mirror bit-for-bit).
        qf = q.astype("f8")
        if nodata is not None and not (isinstance(nodata, float) and np.isnan(nodata)):
            qf[q == nodata] = np.nan
        elif block.dtype.kind == "f":
            qf[~np.isfinite(qf)] = np.nan
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            if method == "max":
                out = np.nanmax(qf, axis=2)
            elif method == "min":
                out = np.nanmin(qf, axis=2)
            elif method == "med":
                out = np.nanmedian(qf, axis=2)
            elif method == "q1":
                out = np.nanquantile(qf, 0.25, axis=2)
            elif method == "q3":
                out = np.nanquantile(qf, 0.75, axis=2)
            else:  # bilinear
                out = np.nanmean(qf, axis=2)
        empty = np.isnan(out)
        if nodata is not None:
            out = np.where(empty, nodata, out)
        if block.dtype.kind != "f":
            out = np.rint(out)
        return out.astype(block.dtype)
    raise ValueError(f"unknown resampling {method!r}")


# kernel radius R in OUTPUT pixels; support in source pixels is 2R
# either side of the output center (2x step)
_HALO_KERNELS = {"cubic": 2, "cubicspline": 2, "lanczos": 3}


def _kernel_fn(name: str):
    if name == "cubic":  # Catmull-Rom, a = -0.5 (GDAL's cubic default)
        a = -0.5

        def k(t):
            t = np.abs(t)
            return np.where(
                t <= 1.0,
                (a + 2.0) * t**3 - (a + 3.0) * t**2 + 1.0,
                np.where(t < 2.0, a * (t**3 - 5.0 * t**2 + 8.0 * t - 4.0), 0.0),
            )

        return k
    if name == "cubicspline":  # cubic B-spline

        def k(t):
            t = np.abs(t)
            return np.where(
                t <= 1.0,
                2.0 / 3.0 - t**2 + 0.5 * t**3,
                np.where(t < 2.0, (2.0 - t) ** 3 / 6.0, 0.0),
            )

        return k
    if name == "lanczos":  # a = 3

        def k(t):
            t = np.abs(t)
            return np.where(t < 3.0, np.sinc(t) * np.sinc(t / 3.0), 0.0)

        return k
    raise ValueError(f"unknown halo kernel {name!r}")


def halo_pad(resampling: str) -> int:
    """Source pixels of halo needed either side of the 2×(block) mosaic."""
    r = _HALO_KERNELS[resampling]
    # output o taps source i in [2o+1-2R, 2o+1+2R); extreme outputs need
    # 2R-1 pixels beyond the mosaic edge
    return 2 * r - 1


def _weight_matrix(n_out: int, pad: int, resampling: str) -> np.ndarray:
    """(n_out, 2*n_out + 2*pad) row-normalized separable weights.

    Row o holds kernel weights for output pixel o (source center
    2o + 1) against padded-source column j (source index j - pad),
    evaluated at t = (i + 0.5 - (2o + 1)) / 2 — the kernel dilated by
    the 2× step (anti-aliasing convention for downsampling)."""
    k = _kernel_fn(resampling)
    j = np.arange(2 * n_out + 2 * pad, dtype="f8")
    o = np.arange(n_out, dtype="f8")[:, None]
    t = ((j[None, :] - pad) + 0.5 - (2.0 * o + 1.0)) / 2.0
    w = k(t)
    return w / w.sum(axis=1, keepdims=True)


def _convolve_masked(
    mosaic: np.ndarray, valid: np.ndarray, wv: np.ndarray, wh: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """2-D normalized convolution: (Wv @ (v·m) @ Wh^T) / (Wv @ m @ Wh^T).
    Returns (values f8, covered bool)."""
    vm = np.where(valid, mosaic.astype("f8"), 0.0)
    m = valid.astype("f8")
    num = wv @ vm @ wh.T
    den = wv @ m @ wh.T
    covered = np.abs(den) > 1e-9
    out = np.divide(num, den, out=np.zeros_like(num), where=covered)
    return out, covered


def build_level_halo(
    df: DataFrame,
    metadata: dict,
    child_zoom: int,
    resampling: str,
) -> DataFrame:
    """Tiles at ``child_zoom - 1`` using a wide separable kernel with
    cross-tile halo exchange (cubic / cubicspline / lanczos).

    Scale shape: one groupBy shuffle on the parent cell, with each child
    tile replicated to at most 4 groups (its own parent + the ≤3
    neighbors its outer corner touches). Groups that contain only halo
    tiles (no children of their own) emit nothing, matching
    :func:`build_level` coverage semantics."""
    from raquet_spark.functions.quadbin import py_cell_to_tile, py_tile_to_cell
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    if resampling not in _HALO_KERNELS:
        raise ValueError(f"not a halo kernel: {resampling!r}")
    bands = [(b["name"], b["type"], parse_nodata(b.get("nodata"))) for b in metadata["bands"]]
    bw = metadata["tiling"]["block_width"]
    bh = metadata["tiling"]["block_height"]
    compression = metadata.get("compression", "gzip")
    parent_zoom = child_zoom - 1
    pad = halo_pad(resampling)
    if pad > min(bw, bh):
        raise ValueError(f"halo {pad}px exceeds block size {bw}x{bh}")
    wv = _weight_matrix(bh, pad, resampling)
    wh = _weight_matrix(bw, pad, resampling)
    m = 1 << parent_zoom

    children = (
        df.where(F.expr(qb.cell_to_zoom_sql("block", "spark")) == child_zoom)
        .withColumn("cx", F.expr(qb.cell_to_x_sql("block", "spark")))
        .withColumn("cy", F.expr(qb.cell_to_y_sql("block", "spark")))
    )
    # replicate each child to its parent plus the <=3 neighbor parents
    # its outer corner touches: dx = -1 for a left child else +1, same
    # for dy; offsets (dx,0),(0,dy),(dx,dy) — clamped to the zoom grid
    px, py = "CAST(cx DIV 2 AS BIGINT)", "CAST(cy DIV 2 AS BIGINT)"
    dx = "(CASE WHEN cx % 2 = 0 THEN -1 ELSE 1 END)"
    dy = "(CASE WHEN cy % 2 = 0 THEN -1 ELSE 1 END)"
    targets = (
        f"filter(array(named_struct('tx', {px}, 'ty', {py}, 'core', true), "
        f"named_struct('tx', {px} + {dx}, 'ty', {py}, 'core', false), "
        f"named_struct('tx', {px}, 'ty', {py} + {dy}, 'core', false), "
        f"named_struct('tx', {px} + {dx}, 'ty', {py} + {dy}, 'core', false)), "
        f"t -> t.tx >= 0 AND t.tx < {m} AND t.ty >= 0 AND t.ty < {m})"
    )
    routed = (
        children.withColumn("t", F.explode(F.expr(targets)))
        .withColumn(
            "parent",
            F.expr(qb.tile_to_cell_sql("t.tx", "t.ty", parent_zoom, "spark")),
        )
        .withColumn("core", F.col("t.core"))
        .drop("t")
    )

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        if not pdf["core"].any():
            return pd.DataFrame({
                "block": pd.Series([], dtype="int64"),
                **{name: pd.Series([], dtype=object) for name, _, _ in bands},
            })
        parent = int(key[0])
        ax, ay, _ = py_cell_to_tile(parent)
        out = {"block": [parent]}
        for name, btype, nodata in bands:
            dt = np.dtype(DTYPES[btype])
            mosaic = np.zeros((2 * bh + 2 * pad, 2 * bw + 2 * pad), dtype="f8")
            valid = np.zeros(mosaic.shape, dtype=bool)
            for blob, cx, cy in zip(pdf[name], pdf["cx"], pdf["cy"]):
                if blob is None:
                    continue
                tile = decode_block(blob, btype).reshape(bh, bw).astype("f8")
                # tile origin in padded-mosaic coordinates
                ox = (int(cx) - 2 * ax) * bw + pad
                oy = (int(cy) - 2 * ay) * bh + pad
                sx0, sy0 = max(0, -ox), max(0, -oy)
                sx1 = min(bw, mosaic.shape[1] - ox)
                sy1 = min(bh, mosaic.shape[0] - oy)
                if sx0 >= sx1 or sy0 >= sy1:
                    continue
                sub = tile[sy0:sy1, sx0:sx1]
                if nodata is not None and not (
                    isinstance(nodata, float) and np.isnan(nodata)
                ):
                    good = sub != nodata
                else:
                    good = np.isfinite(sub)
                my0, mx0 = oy + sy0, ox + sx0
                mosaic[my0 : my0 + sub.shape[0], mx0 : mx0 + sub.shape[1]] = sub
                valid[my0 : my0 + sub.shape[0], mx0 : mx0 + sub.shape[1]] = good
            vals, covered = _convolve_masked(mosaic, valid, wv, wh)
            fill = nodata if nodata is not None else (np.nan if dt.kind == "f" else 0)
            result = np.where(covered, vals, fill)
            if dt.kind != "f":
                result = np.rint(result)
            out[name] = [encode_block(result.astype(dt).reshape(-1), btype, compression)]
        return pd.DataFrame(out)

    schema = "block bigint, " + ", ".join(f"{name} binary" for name, _, _ in bands)
    routed = pin_group_width(
        routed, "parent", approx_pixels=_level_pixels(metadata, child_zoom)
    )
    return routed.groupBy("parent").applyInPandas(assemble, schema=schema)


def build_level(
    df: DataFrame,
    metadata: dict,
    child_zoom: int,
    resampling: str = "average",
) -> DataFrame:
    """Tiles at ``child_zoom - 1`` from tiles at ``child_zoom``: the
    halo exchange for the wide kernels, else a one-level
    :func:`build_levels_blocked` pass."""
    if resampling in _HALO_KERNELS:
        return build_level_halo(df, metadata, child_zoom, resampling)
    return build_levels_blocked(df, metadata, child_zoom, child_zoom - 1, resampling)


def build_levels_blocked(
    df: DataFrame,
    metadata: dict,
    child_zoom: int,
    target_zoom: int,
    resampling: str = "average",
) -> DataFrame:
    """All levels ``child_zoom - 1 .. target_zoom`` in ONE shuffle.

    Tiles group by their ``target_zoom`` ancestor; inside each group a
    single numpy pass assembles the (bh·2^k × bw·2^k) mosaic and
    downsamples it k times, emitting every intermediate level —
    byte-identical to k sequential one-level passes (each step casts
    back to the band dtype before the next). A tile exists at a level
    iff some child ROW lies in its footprint, even one whose band blobs
    are null (those pixels are fill). Intermediate levels are never
    shuffled: 1 shuffle instead of k, on the same total input. Group
    memory is bounded by 4^k child tiles, so callers cap k (see
    :data:`LEVELS_PER_PASS`)."""
    from raquet_spark.functions.quadbin import py_cell_to_tile, py_tile_to_cell
    from raquet_spark.session import ensure_package_shipped

    ensure_package_shipped(df.sparkSession)
    bands = [(b["name"], b["type"], parse_nodata(b.get("nodata"))) for b in metadata["bands"]]
    bw = metadata["tiling"]["block_width"]
    bh = metadata["tiling"]["block_height"]
    compression = metadata.get("compression", "gzip")
    k = child_zoom - target_zoom
    n = 1 << k

    children = df.where(
        F.expr(qb.cell_to_zoom_sql("block", "spark")) == child_zoom
    ).withColumn("anc", F.expr(qb.cell_to_parent_sql("block", target_zoom, "spark")))

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ax, ay, _ = py_cell_to_tile(int(key[0]))
        out: dict[str, list] = {"block": []}
        for name, _, _ in bands:
            out[name] = []
        # coverage mask: a level-j tile exists only if some source child
        # row lies in its footprint — tiles are never made out of pure fill
        offsets = []
        present = np.zeros((n, n), dtype=bool)
        for blk in pdf["block"]:
            cx, cy, _ = py_cell_to_tile(int(blk))
            dx, dy = cx - ax * n, cy - ay * n
            present[dy, dx] = True
            offsets.append((dx, dy))
        per_band: dict[str, np.ndarray] = {}
        for name, btype, nodata in bands:
            dt = np.dtype(DTYPES[btype])
            fill = nodata if nodata is not None else (np.nan if dt.kind == "f" else 0)
            mosaic = np.full((bh * n, bw * n), fill, dtype=dt)
            for blob, (dx, dy) in zip(pdf[name], offsets):
                if blob is not None:
                    mosaic[dy * bh : (dy + 1) * bh, dx * bw : (dx + 1) * bw] = (
                        decode_block(blob, btype).reshape(bh, bw)
                    )
            per_band[name] = mosaic
        for j in range(1, k + 1):
            m = 1 << (k - j)  # tiles per side at zoom child_zoom - j
            present = present.reshape(m, 2, m, 2).any(axis=(1, 3))
            for name, btype, nodata in bands:
                per_band[name] = _downsample(per_band[name], resampling, nodata)
            for dy in range(m):
                for dx in range(m):
                    if not present[dy, dx]:
                        continue
                    out["block"].append(
                        py_tile_to_cell(ax * m + dx, ay * m + dy, child_zoom - j)
                    )
                    for name, btype, _ in bands:
                        tile = per_band[name][
                            dy * bh : (dy + 1) * bh, dx * bw : (dx + 1) * bw
                        ]
                        out[name].append(
                            encode_block(tile.reshape(-1), btype, compression)
                        )
        return pd.DataFrame(out)

    schema = "block bigint, " + ", ".join(f"{name} binary" for name, _, _ in bands)
    children = pin_group_width(
        children, "anc", approx_pixels=_level_pixels(metadata, child_zoom)
    )
    return children.groupBy("anc").applyInPandas(assemble, schema=schema)


# levels per build_pyramid pass: per-group memory is bounded by 4^3 = 64
# child tiles (≤64 MB mosaic for 256px float64 bands)
LEVELS_PER_PASS = 3


def build_pyramid(
    df: DataFrame,
    metadata: dict,
    min_zoom: int,
    resampling: str = "average",
) -> tuple[DataFrame, dict]:
    """Full overview pyramid from native tiles down to ``min_zoom``.

    Returns (tiles ∪ overviews, updated metadata). Levels are built
    :data:`LEVELS_PER_PASS` at a time by :func:`build_levels_blocked` —
    one shuffle per pass instead of per level; wide (halo) kernels take
    one :func:`build_level_halo` shuffle per level. Each pass's coarsest level
    feeds the next pass and appears in the result union, so it is
    lineage-truncated via ``localCheckpoint(False)`` — computed once,
    not once per duplicated subtree. (On a real cluster the equivalent
    lever is writing each level out as it is built, which
    `write_raquet` of the returned union preserves.)
    """
    native_zoom = metadata["tiling"]["max_zoom"]
    levels = [df]
    current = df
    z = native_zoom
    while z > min_zoom:
        if resampling in _HALO_KERNELS:
            # wide kernels need the halo exchange each level; one
            # shuffle per level (cannot be blocked without re-haloing)
            pass_levels = build_level_halo(
                current, metadata, z, resampling
            ).localCheckpoint(False)
            target = z - 1
        else:
            target = max(z - LEVELS_PER_PASS, min_zoom)
            pass_levels = build_levels_blocked(
                current, metadata, z, target, resampling
            ).localCheckpoint(False)
        current = pass_levels.where(
            F.expr(qb.cell_to_zoom_sql("block", "spark")) == target
        )
        levels.append(pass_levels)
        z = target
    out = levels[0]
    for lvl in levels[1:]:
        # native tiles may carry extra columns (stats, time, metadata);
        # overview rows take nulls there — recompute stats downstream
        # with with_tile_stats if needed
        out = out.unionByName(lvl, allowMissingColumns=True)
    meta = dict(metadata)
    meta["tiling"] = dict(metadata["tiling"], min_zoom=min_zoom)
    return out, meta
