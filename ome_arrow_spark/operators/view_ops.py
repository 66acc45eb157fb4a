"""Viewer-equivalent query operators (reference V1 ``view_matplotlib``
view.py:16-63, V2 ``view_pyvista`` view.py:66-286, V3 ``_repr_html_``).

The reference linear-scans the planes list in Python per view; here
plane lookup, autoscale, stride downsampling, and contrast percentiles
are Catalyst expressions — rendering stays a driver-side concern and is
gated on matplotlib/pyvista availability (absent in this container)."""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def plane_lookup(
    images: DataFrame,
    t: int = 0,
    c: int = 0,
    z: int = 0,
    column: str = "ome_arrow",
    autoscale: bool = True,
) -> DataFrame:
    """Exact (t,c,z) plane per image + display range (V1 semantics:
    lookup view.py:32-41, autoscale from min/max view.py:49-54)."""
    p = F.element_at(
        F.filter(
            F.col(f"{column}.planes"),
            lambda q: (q["t"] == t) & (q["c"] == c) & (q["z"] == z),
        ),
        1,
    )
    out = images.select(
        F.col(f"{column}.id").alias("image_id"),
        F.col(f"{column}.pixels_meta.size_x").alias("size_x"),
        F.col(f"{column}.pixels_meta.size_y").alias("size_y"),
        p["pixels"].alias("pixels"),
    ).filter(F.col("pixels").isNotNull())
    if autoscale:
        out = out.select(
            "*",
            F.array_min("pixels").alias("vmin"),
            F.array_max("pixels").alias("vmax"),
        )
    return out


def stride_downsample(pixels, size_x, stride: int):
    """Every ``stride``-th pixel in both axes (V2 view.py:123-125)."""
    new_w = ((size_x - 1) / stride + 1).cast("int")
    new_h = ((F.size(pixels) / size_x - 1) / stride + 1).cast("int")
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), new_h - 1),
            lambda y: F.transform(
                F.sequence(F.lit(0), new_w - 1),
                lambda x: F.element_at(pixels, (y * stride * size_x + x * stride + 1).cast("int")),
            ),
        )
    )


def volume_contrast(
    images: DataFrame,
    c: int = 0,
    lo: float = 0.01,
    hi: float = 0.999,
    column: str = "ome_arrow",
    exact: bool = False,
) -> DataFrame:
    """Robust contrast limits for the (t=0, channel c) volume (V2
    view.py:132-136: percentiles 1.0/99.9). Default ``exact=False`` uses
    ``percentile_approx`` (t-digest, no per-image full voxel sort) — the
    plan a 100 TB interactive scan needs; ``exact=True`` switches to the
    exact ``percentile`` for oracle-grade reproducibility (the
    ``ome_volume_contrast`` suite query passes it explicitly)."""
    px = images.select(
        F.col(f"{column}.id").alias("image_id"),
        F.explode(
            F.filter(
                F.col(f"{column}.planes"),
                lambda q: (q["t"] == 0) & (q["c"] == c),
            )
        ).alias("p"),
    ).select("image_id", F.explode("p.pixels").alias("v"))
    fn = "percentile" if exact else "percentile_approx"
    return px.groupBy("image_id").agg(
        F.expr(f"{fn}(v, {lo})").alias("clim_lo"),
        F.expr(f"{fn}(v, {hi})").alias("clim_hi"),
        F.count("*").alias("n_voxels"),
    )


# viridis colormap anchors (the mpl colormap's published control
# points; the full map is linear interpolation between them — data
# released CC0 by its authors, Stéfan van der Walt & Nathaniel Smith)
_VIRIDIS_ANCHORS = (
    (0.267004, 0.004874, 0.329415),
    (0.282623, 0.140926, 0.457517),
    (0.253935, 0.265254, 0.529983),
    (0.206756, 0.371758, 0.553117),
    (0.163625, 0.471133, 0.558148),
    (0.127568, 0.566949, 0.550556),
    (0.134692, 0.658636, 0.517649),
    (0.266941, 0.748751, 0.440573),
    (0.477504, 0.821444, 0.318195),
    (0.741388, 0.873449, 0.149561),
    (0.993248, 0.906157, 0.143936),
)


def _apply_cmap(norm: "np.ndarray", cmap: str) -> "np.ndarray":
    """(H, W) floats in [0,1] → uint8 (H, W) gray or (H, W, 3)."""
    import numpy as np

    if cmap == "gray":
        return np.round(norm * 255.0).astype(np.uint8)
    if cmap == "viridis":
        anchors = np.asarray(_VIRIDIS_ANCHORS)
        pos = np.linspace(0.0, 1.0, len(anchors))
        rgb = np.stack(
            [np.interp(norm, pos, anchors[:, ch]) for ch in range(3)],
            axis=-1,
        )
        return np.round(rgb * 255.0).astype(np.uint8)
    raise ValueError(f"unknown cmap {cmap!r}; built-in: 'gray', 'viridis'")


def render_plane_png(
    record: dict[str, Any],
    tcz=(0, 0, 0),
    cmap: str = "gray",
    vmin: float | None = None,
    vmax: float | None = None,
) -> bytes:
    """Built-in V1 render: one (t,c,z) plane → PNG bytes through the
    from-scratch PNG encoder (sources/png_minimal.py) — no matplotlib
    needed.  Same display semantics as the reference's imshow path
    (view.py:32-54): min/max autoscale unless vmin/vmax given, gray or
    viridis mapping.  :func:`render_plane_matplotlib` remains the
    interactive-figure twin when matplotlib IS installed."""
    import numpy as np

    from ome_arrow_spark.sources.png_minimal import png_encode

    t, c, z = tcz
    pm = record["pixels_meta"]
    for p in record["planes"]:
        if (p["t"], p["c"], p["z"]) == (t, c, z):
            img = np.asarray(p["pixels"], dtype=np.float64).reshape(
                pm["size_y"], pm["size_x"]
            )
            lo = float(img.min() if vmin is None else vmin)
            hi = float(img.max() if vmax is None else vmax)
            span = hi - lo if hi > lo else 1.0
            norm = np.clip((img - lo) / span, 0.0, 1.0)
            return png_encode(_apply_cmap(norm, cmap))
    raise KeyError(f"plane {tcz} not found")


def render_volume_png(
    record: dict[str, Any],
    c: int = 0,
    cmap: str = "gray",
    clim: tuple[float, float] | None = None,
) -> bytes:
    """Built-in V2 render: the (t=0, channel c) volume's Z
    max-intensity projection → PNG bytes.  ``clim`` takes the robust
    percentile limits from :func:`volume_contrast` (the reference's
    1.0/99.9 contrast, view.py:132-136); defaults to the volume
    min/max."""
    import numpy as np

    from ome_arrow_spark.sources.png_minimal import png_encode

    vol, _spacing = build_volume_zyx(record, c=c)
    mip = vol.max(axis=0).astype(np.float64)
    lo, hi = (
        (float(vol.min()), float(vol.max())) if clim is None else clim
    )
    span = hi - lo if hi > lo else 1.0
    norm = np.clip((mip - lo) / span, 0.0, 1.0)
    return png_encode(_apply_cmap(norm, cmap))


def render_plane_matplotlib(record: dict[str, Any], tcz=(0, 0, 0), **kw):
    """Driver-side render (V1). Gated: matplotlib is not installed in
    this container."""
    try:  # pragma: no cover
        import matplotlib.pyplot as plt  # type: ignore
    except ImportError as e:
        raise NotImplementedError(
            "matplotlib is not installed; plane data is available via "
            "plane_lookup() — rendering requires matplotlib"
        ) from e
    import numpy as np  # pragma: no cover

    t, c, z = tcz  # pragma: no cover
    pm = record["pixels_meta"]  # pragma: no cover
    for p in record["planes"]:  # pragma: no cover
        if (p["t"], p["c"], p["z"]) == (t, c, z):
            img = np.asarray(p["pixels"]).reshape(pm["size_y"], pm["size_x"])
            fig, ax = plt.subplots()
            im = ax.imshow(img, cmap=kw.get("cmap", "gray"))
            return fig, ax, im
    raise KeyError(f"plane {tcz} not found")  # pragma: no cover


def build_volume_zyx(
    record: dict[str, Any],
    c: int = 0,
    downsample: int = 1,
    scaling_values: tuple[float, float, float] | None = None,
):
    """(Z, Y, X) uint16 volume + (dx, dy, dz) world spacing for T=0,
    channel ``c`` — the driver-side rebuild the reference does at
    view.py:116-126 (zero-filled missing z-planes, spacing from
    ``physical_size_*`` defaulting to 1.0, downsample scales spacing
    view.py:124-126). ``scaling_values`` is the reference's explicit
    (Z, Y, X) spacing override (view.py:70, 111-112); the reference's
    OTHER override source — a legacy ``pm["scaling_values"]`` dict key
    (view.py:105-110) — cannot exist here because pixels_meta is the
    typed OME-Arrow struct, so that branch is intentionally omitted.
    Pure numpy, no render dependency."""
    import numpy as np

    pm = record["pixels_meta"]
    sx, sy, sz = int(pm["size_x"]), int(pm["size_y"]), int(pm["size_z"])
    sc = int(pm["size_c"])
    if not (0 <= c < sc):
        raise ValueError(f"Channel out of range: 0..{sc - 1}")
    if scaling_values is not None:
        dz, dy, dx = (float(v) for v in scaling_values)
    else:
        dx = float(pm.get("physical_size_x") or 1.0)
        dy = float(pm.get("physical_size_y") or 1.0)
        dz = float(pm.get("physical_size_z") or 1.0)
    vol = np.zeros((sz, sy, sx), dtype=np.uint16)
    for p in record["planes"]:
        if int(p["t"]) == 0 and int(p["c"]) == c:
            vol[int(p["z"])] = np.asarray(p["pixels"], dtype=np.uint16).reshape(sy, sx)
    if downsample > 1:
        vol = vol[::downsample, ::downsample, ::downsample]
        dz, dy, dx = dz * downsample, dy * downsample, dx * downsample
    return vol, (dx, dy, dz)


def render_volume_pyvista(
    record: dict[str, Any],
    c: int = 0,
    downsample: int = 1,
    opacity="sigmoid",
    clim: tuple[float, float] | None = None,
    background: str = "black",
    percentile_clim: tuple[float, float] = (1.0, 99.9),
    show: bool = False,
    scaling_values: tuple[float, float, float] | None = None,
):
    """Driver-side volume render (V2, reference view.py:66-286): rebuild
    the (Z,Y,X) volume for T=0/channel c, transpose to VTK's (X,Y,Z)
    memory order, spacing from physical sizes (or the reference's
    explicit ``scaling_values`` (Z,Y,X) override, view.py:70),
    robust-percentile contrast limits when ``clim`` is None
    (view.py:133-136), then ``pv.ImageData`` + ``Plotter.add_volume``
    (view.py:163-196). Returns the Plotter. Import-gated: pyvista is
    absent in this container, so the construction is unit-tested against
    a fake module (tests/test_zarr_multiscale_views.py::
    test_render_volume_pyvista_fake_module)."""
    try:
        import pyvista as pv  # type: ignore
    except ImportError as e:
        raise NotImplementedError(
            "pyvista is not installed; volume data is available via "
            "planes_df()/volume_contrast() — rendering requires pyvista"
        ) from e
    import numpy as np

    vol_zyx, (dx, dy, dz) = build_volume_zyx(
        record, c=c, downsample=downsample, scaling_values=scaling_values
    )
    vol_xyz = vol_zyx.transpose(2, 1, 0)  # VTK memory order (view.py:129)
    nx, ny, nz = map(int, vol_xyz.shape)

    if clim is None:  # robust contrast, napari-style (view.py:133-136)
        lo, hi = np.percentile(vol_xyz, percentile_clim)
        lo = float(lo)
        hi = float(hi if hi > lo else lo + 1.0)
        clim = (lo, hi)

    img = pv.ImageData()
    img.dimensions = (nx, ny, nz)
    img.spacing = (dx, dy, dz)
    img.origin = (0.0, 0.0, 0.0)
    img.point_data["scalars"] = np.asfortranarray(vol_xyz).ravel(order="F")

    pl = pv.Plotter()
    pl.set_background(background)
    pl.add_volume(
        img,
        cmap="gray",
        opacity=opacity,
        clim=clim,
        shade=False,
        scalar_bar_args={"title": "intensity"},
        opacity_unit_distance=max(min(dx, dy, dz), 1e-6),
    )
    if show:  # pragma: no cover
        pl.show()
    return pl


def repr_html(record: dict[str, Any]) -> str:
    """Jupyter-style HTML summary card (reference V3 ``_repr_html_``,
    core.py:474-492) — summary text + channel table; the first-plane
    thumbnail needs matplotlib and degrades to a text placeholder."""
    pm = record["pixels_meta"]
    t, c, z = pm["size_t"], pm["size_c"], pm["size_z"]
    y, x = pm["size_y"], pm["size_x"]
    if t == 1 and z == 1:
        kind = "2D image"
    elif t == 1:
        kind = "3D image (z-stack)"
    elif z == 1:
        kind = "movie / timelapse"
    else:
        kind = "4D timelapse-volume"
    chinfo = f"multi-channel ({c} channels)" if c > 1 else "single-channel"
    rows = "".join(
        f"<tr><td>{i}</td><td>{ch.get('name')}</td><td>{ch.get('emission_um')}</td>"
        f"<td>{ch.get('excitation_um')}</td></tr>"
        for i, ch in enumerate(pm.get("channels") or [])
    )
    return (
        f"<div><b>{record.get('name', record.get('id'))}</b> "
        f"<code>{record.get('id')}</code><br/>"
        f"{kind}, {chinfo} — shape (T={t}, C={c}, Z={z}, Y={y}, X={x})<br/>"
        f"<table><tr><th>#</th><th>name</th><th>em µm</th><th>ex µm</th></tr>"
        f"{rows}</table>"
        f"<i>thumbnail: install matplotlib for plane rendering</i></div>"
    )


def max_intensity_projection(
    images: DataFrame, c: int = 0, t: int = 0, column: str = "ome_arrow"
) -> DataFrame:
    """MIP along Z: per (t, c), the element-wise max across that
    channel's z-planes — the standard z-stack visualization. Pure
    array fold: zip_with(greatest) over the filtered planes list, no
    explode, no UDF."""
    pm = f"{column}.pixels_meta"
    mip = (
        f"aggregate("
        f"  filter({column}.planes, p -> int(p.t) = {t} AND int(p.c) = {c}),"
        f"  array_repeat(0, int({pm}.size_x) * int({pm}.size_y)),"
        f"  (acc, p) -> zip_with(acc, p.pixels, (a, b) -> greatest(a, b)))"
    )
    return images.select(
        F.col(f"{column}.id").alias("image_id"),
        F.col(f"{pm}.size_x").alias("size_x"),
        F.col(f"{pm}.size_y").alias("size_y"),
        F.expr(mip).alias("mip"),
    )


def channel_colocalization(
    images: DataFrame, c1: int = 0, c2: int = 1, t: int = 0, z: int = 0,
    column: str = "ome_arrow",
) -> DataFrame:
    """Pearson colocalization between two channels of the same plane —
    the standard two-stain correlation analysis. Integer moments are
    computed exactly with array folds (engine-portable); the final
    Pearson arithmetic is plain double ops on those exact sums."""
    def plane(c: int):
        return (
            f"element_at(filter({column}.planes, "
            f"p -> int(p.t) = {t} AND int(p.c) = {c} AND int(p.z) = {z}), -1).pixels"
        )

    sums = (
        f"aggregate(zip_with({plane(c1)}, {plane(c2)}, (a, b) -> named_struct("
        f"'x', cast(a as bigint), 'y', cast(b as bigint))), "
        f"named_struct('n', 0L, 'sx', 0L, 'sy', 0L, 'sxy', 0L, 'sxx', 0L, 'syy', 0L), "
        f"(acc, e) -> named_struct("
        f"'n', acc.n + 1L, 'sx', acc.sx + e.x, 'sy', acc.sy + e.y, "
        f"'sxy', acc.sxy + e.x * e.y, 'sxx', acc.sxx + e.x * e.x, "
        f"'syy', acc.syy + e.y * e.y))"
    )
    m = images.select(
        F.col(f"{column}.id").alias("image_id"), F.expr(sums).alias("m")
    )
    n = F.col("m.n").cast("double")
    sx, sy = F.col("m.sx").cast("double"), F.col("m.sy").cast("double")
    sxy = F.col("m.sxy").cast("double")
    sxx, syy = F.col("m.sxx").cast("double"), F.col("m.syy").cast("double")
    return m.select(
        "image_id",
        F.col("m.n").alias("n_px"),
        (
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
        ).alias("pearson"),
    )


def extract_patches(images: DataFrame, patch: int = 64, column: str = "ome_arrow") -> DataFrame:
    """Non-overlapping ``patch``×``patch`` tiles from every plane — the
    images→training-patches expansion (each tile becomes a sample row).
    Returns (image_id, t, c, z, gy, gx, patch_pixels) with the tile
    flattened row-major; partial tiles at the right/bottom edges are
    dropped (standard training-crop semantics).

    All Catalyst: the grid is an exploded ``sequence`` cross product and
    the tile gather is ``flatten(transform(...slice...))`` over the
    flattened plane — no Python, no shuffle beyond the explode.
    Scale: output rows ≈ planes × (Y/patch)·(X/patch); each carries only
    patch² ints, so downstream repartitioning can target byte budgets
    exactly.
    """
    from ome_arrow_spark.operators.views import planes_df

    pl = planes_df(images, column).filter(
        (F.col("size_y") >= patch) & (F.col("size_x") >= patch)
    )
    grid = F.expr(
        f"""
        flatten(transform(sequence(0, CAST(size_y / {patch} AS INT) - 1),
                gy -> transform(sequence(0, CAST(size_x / {patch} AS INT) - 1),
                      gx -> named_struct('gy', gy, 'gx', gx))))
        """
    )
    tile = F.expr(
        f"""
        flatten(transform(sequence(0, {patch - 1}),
                r -> slice(pixels, (g.gy * {patch} + r) * size_x + g.gx * {patch} + 1,
                           {patch})))
        """
    )
    return (
        pl.select(
            "image_id", "t", "c", "z", "size_x", "pixels", F.explode(grid).alias("g")
        )
        .select(
            "image_id",
            "t",
            "c",
            "z",
            F.col("g.gy").alias("gy"),
            F.col("g.gx").alias("gx"),
            tile.alias("patch_pixels"),
        )
    )


def focus_metric(images: DataFrame, column: str = "ome_arrow") -> DataFrame:
    """Per-plane sharpness (Brenner-style: sum of squared horizontal
    neighbor differences) + best-focus rank per (image, t, c) — the
    z-stack QC / autofocus-selection query. Row-end pairs are excluded
    (a flattened plane is row-major, so index pairs spanning rows are
    not spatial neighbors).

    One aggregate fold per plane, JVM-side; ranking is a tiny window
    over |planes| rows per image — at 100 TB the fold dominates and
    parallelizes per-plane."""
    from pyspark.sql.window import Window

    from ome_arrow_spark.operators.views import planes_df

    pl = planes_df(images, column)
    focus = F.expr(
        """
        aggregate(sequence(0, size(pixels) - 2),
                  CAST(0 AS BIGINT),
                  (acc, i) -> acc + IF((i + 1) % size_x = 0, CAST(0 AS BIGINT),
                      CAST(element_at(pixels, i + 2) - element_at(pixels, i + 1) AS BIGINT)
                      * CAST(element_at(pixels, i + 2) - element_at(pixels, i + 1) AS BIGINT)))
        """
    )
    w = Window.partitionBy("image_id", "t", "c").orderBy(
        F.desc("focus"), F.col("z")
    )
    return (
        pl.select("image_id", "t", "c", "z", focus.alias("focus"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
    )
