"""The classic GDAL/OGR command-line utilities as file-to-file
compositions of the distributed operators.

Reference surfaces: apps/ogr2ogr_lib.cpp (-where/-select/-limit/
-s_srs/-t_srs), apps/gdal_rasterize_lib.cpp (-burn/-a/-add/-at),
alg/polygonizer (gdal_polygonize), apps/gdal_contour_bin.cpp
(-fl/-i), apps/gdaldem_lib.cpp (slope/aspect/hillshade/TRI/TPI/
roughness). Like raster/translate.py (gdalwarp, gdal_translate,
gdaladdo), each CLI option maps onto an existing distributed operator
— these functions only open, compose, and write, so the physical plan
is the operators' plans.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .raster import contour as RC
from .raster import focal as RF
from .raster import geotiff as GT
from .raster import grid as G
from .raster import polygonize as RP
from .raster import rasterize as RR
from .sources import registry as REG


def ogr2ogr(spark: SparkSession, src: str, dst: str,
            where: str | None = None, select: list[str] | None = None,
            limit: int | None = None, s_srs: str = "EPSG:4326",
            t_srs: str | None = None, geom_col: str = "geom",
            sql: str | None = None,
            clipsrc: tuple[float, float, float, float] | None = None,
            **write_kw) -> DataFrame:
    """`ogr2ogr [-where] [-select] [-limit] [-s_srs/-t_srs] [-sql]
    [-clipsrc xmin ymin xmax ymax] src dst` (apps/ogr2ogr_lib.cpp
    option order). WKB carries no CRS, so -t_srs needs the source CRS
    via s_srs (default the reference's common case, EPSG:4326).
    clipsrc CLIPS polygon geometry to the rectangle (st_clip_bbox) and
    drops features whose geometry leaves the window empty. Returns the
    written DataFrame."""
    df = REG.open_vector(spark, src)
    if sql is not None:
        df.createOrReplaceTempView("src_layer")
        df = spark.sql(sql)
    if where is not None:
        df = df.filter(where)
    if clipsrc is not None:
        from .functions.st_funcs import st_clip_bbox, st_isempty
        x0, y0, x1, y1 = (float(v) for v in clipsrc)
        df = (df.withColumn(geom_col, st_clip_bbox(
                  F.col(geom_col), F.lit(x0), F.lit(y0),
                  F.lit(x1), F.lit(y1)))
              .filter(F.col(geom_col).isNotNull()
                      & ~st_isempty(F.col(geom_col))))
    if select is not None:
        keep = list(select) + ([geom_col] if geom_col in df.columns
                               and geom_col not in select else [])
        df = df.select(*keep)
    if limit is not None:
        df = df.limit(int(limit))
    if t_srs is not None and t_srs != s_srs:
        from .functions.st_funcs import st_transform_fn
        tr = st_transform_fn(s_srs, t_srs)
        df = df.withColumn(geom_col, tr(F.col(geom_col)))
    REG.write_vector(df, dst, **write_kw)
    return df


def gdal_rasterize(spark: SparkSession, src: str, dst: str,
                   spec: G.GridSpec, burn: float | None = None,
                   attribute: str | None = None, add: bool = False,
                   all_touched: bool = False, geom_col: str = "geom",
                   dtype: str = "float64", nodata: float | None = None
                   ) -> G.GridSpec:
    """`gdal_rasterize [-burn v | -a field] [-add] [-at] src dst`
    (apps/gdal_rasterize_lib.cpp). The output grid is the caller's
    GridSpec (-te/-tr/-ts equivalent)."""
    if (burn is None) == (attribute is None):
        raise ValueError("pass exactly one of burn= / attribute=")
    df = REG.open_vector(spark, src)
    burn_col = F.col(attribute).cast("double") if attribute is not None \
        else F.lit(float(burn))
    feats = (df.withColumn("fid", F.monotonically_increasing_id())
             if "fid" not in df.columns else df)
    feats = feats.select(F.col("fid").cast("long").alias("fid"),
                         burn_col.alias("burn"),
                         F.col(geom_col).alias("geom"))
    tiles = RR.rasterize(feats, spec, merge="add" if add else "replace",
                         all_touched=all_touched)
    GT.write_geotiff(tiles, spec, dst, dtype=dtype, nodata=nodata)
    return spec


def gdal_polygonize(spark: SparkSession, src: str, dst: str,
                    connect8: bool = False) -> DataFrame:
    """`gdal_polygonize src dst` — raster components to vector
    features with traced ring geometry (value + pixel count kept as
    attributes, like the utility's DN field)."""
    spec, tiles = GT.read_geotiff(spark, src)
    polys = RP.polygonize_geoms(tiles, spec)
    out = polys.select(
        F.col("value").alias("DN"), F.col("n_px"), F.col("geom"))
    REG.write_vector(out, dst)
    return out


def gdal_contour(spark: SparkSession, src: str, dst: str,
                 levels: list[float] | None = None,
                 interval: float | None = None,
                 polygonize: bool = False) -> DataFrame:
    """`gdal_contour [-fl levels | -i interval] [-p] src dst`
    (apps/gdal_contour_bin.cpp). Interval mode derives the fixed
    levels from the raster's min/max, like ContourGenerate.
    polygonize=True is the `-p` POLYGONIZE mode (alg/contour.cpp:569):
    iso-POLYGON features between consecutive levels with ELEV_MIN /
    ELEV_MAX attributes, holes nested by winding containment."""
    spec, tiles = GT.read_geotiff(spark, src)
    if levels is None:
        if interval is None:
            raise ValueError("pass levels= or interval=")
        mm = tiles.select(
            F.min(F.array_min("px")).alias("lo"),
            F.max(F.array_max("px")).alias("hi")).collect()[0]
        lo = np.ceil(mm.lo / interval) * interval
        levels = list(np.arange(lo, mm.hi, interval))
        if not levels:
            raise ValueError(
                f"interval {interval} yields no levels in "
                f"[{mm.lo}, {mm.hi}]")
    lv = sorted(float(l) for l in levels)
    if polygonize:
        from .raster import density as D

        px = D.tiles_to_pixels(tiles, spec)
        boundary = RC.contour_polygon_boundary(tiles, px, spec, lv)
        polys = RC.contour_polygons(boundary)
        bounds = [float("-inf")] + lv + [float("inf")]
        lo_arr = F.array(*[F.lit(b) for b in bounds[:-1]])
        hi_arr = F.array(*[F.lit(b) for b in bounds[1:]])
        out = polys.select(
            F.element_at(lo_arr, F.col("slot") + 1).alias("ELEV_MIN"),
            F.element_at(hi_arr, F.col("slot") + 1).alias("ELEV_MAX"),
            "n_holes", "n_points", "area", "geom")
        REG.write_vector(out, dst)
        return out
    lines = RC.contour_polylines(tiles, spec, lv)
    out = lines.select(F.col("level").alias("ELEV"), "n_points",
                       "closed", "length", "geom")
    REG.write_vector(out, dst)
    return out


def ogrinfo(spark: SparkSession, src: str, geom_col: str = "geom",
            summary: bool = True) -> dict:
    """`ogrinfo -so src` (apps/ogrinfo_lib.cpp report): feature count,
    field schema, geometry-type histogram and layer extent — computed
    in ONE distributed aggregate over the opened layer."""
    df = REG.open_vector(spark, src)
    out = {"fields": {f.name: f.dataType.simpleString()
                      for f in df.schema.fields}}
    if not summary:
        return out
    has_geom = geom_col in df.columns
    if has_geom:
        from .functions.st_funcs import st_geometrytype
        from .geo import wkb as _wkb

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("xmin double, ymin double, xmax double, ymax double")
        def env(g):
            rows = []
            for b in g:
                if b is None:
                    rows.append((None, None, None, None))
                    continue
                t, payload = _wkb.decode(bytes(b))
                if t == _wkb.POINT:
                    rows.append((payload[0], payload[1],
                                 payload[0], payload[1]))
                    continue
                import numpy as np
                pts = np.vstack([r for r in _flat_coords(t, payload)])
                rows.append((float(pts[:, 0].min()),
                             float(pts[:, 1].min()),
                             float(pts[:, 0].max()),
                             float(pts[:, 1].max())))
            return pd.DataFrame(rows, columns=["xmin", "ymin",
                                               "xmax", "ymax"])

        agg = (df.withColumn("__e__", env(F.col(geom_col)))
               .withColumn("__t__", st_geometrytype(F.col(geom_col)))
               .groupBy("__t__")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.min("__e__.xmin").alias("x0"),
                    F.min("__e__.ymin").alias("y0"),
                    F.max("__e__.xmax").alias("x1"),
                    F.max("__e__.ymax").alias("y1")).collect())
        out["feature_count"] = int(sum(r.n for r in agg))
        out["geometry_types"] = {r["__t__"] or "NULL": int(r.n)
                                 for r in agg}
        xs = [r for r in agg if r.x0 is not None]
        if xs:
            out["extent"] = (min(r.x0 for r in xs),
                             min(r.y0 for r in xs),
                             max(r.x1 for r in xs),
                             max(r.y1 for r in xs))
    else:
        out["feature_count"] = df.count()
    return out


def _flat_coords(t, payload):
    from .geo import wkb as _wkb
    if t == _wkb.LINESTRING:
        yield payload
    elif t == _wkb.MULTIPOINT:
        import numpy as np
        yield np.asarray(payload, float).reshape(-1, 2)
    elif t == _wkb.POLYGON:
        yield from payload
    elif t == _wkb.MULTILINESTRING:
        yield from payload
    elif t == _wkb.MULTIPOLYGON:
        for p in payload:
            yield from p
    elif t == _wkb.GEOMETRYCOLLECTION:
        for kt, kp in payload:
            yield from _flat_coords(kt, kp)


def gdalinfo(spark: SparkSession, src: str,
             stats: bool = False) -> dict:
    """`gdalinfo [-stats] src` — dataset report as a dict
    (apps/gdalinfo_lib.cpp fields: size, CRS, geotransform, corner
    coords, band count, overview count; -stats adds distributed
    min/max/mean/std over the tile relation)."""
    from .raster.vrt import open_raster

    spec, tiles = open_raster(spark, src)
    if src.lower().endswith(".vrt"):
        n_bands, all_tags = 1, [{}]
    else:
        _, all_tags = GT._parse_ifds(src)
        n_bands = all_tags[0].get(GT._TAG_SPP, [1])[0]
    ul = (spec.gt[0], spec.gt[3])
    lr = (spec.gt[0] + spec.width * spec.gt[1],
          spec.gt[3] + spec.height * spec.gt[5])
    out = {"size": (spec.width, spec.height), "crs": spec.crs,
           "geotransform": spec.gt, "bands": n_bands,
           "overviews": len(all_tags) - 1, "tile": spec.tile,
           "corner_ul": ul, "corner_lr": lr}
    if stats:
        r = tiles.select(
            F.explode("px").alias("v")).agg(
            F.min("v").alias("mn"), F.max("v").alias("mx"),
            F.avg("v").alias("mean"),
            F.stddev_pop("v").alias("std")).collect()[0]
        out["stats"] = {"min": r.mn, "max": r.mx, "mean": r.mean,
                        "std": r.std}
    return out


def gdal_merge(spark: SparkSession, srcs: list[str], dst: str,
               method: str = "first", dtype: str = "float64",
               nodata: float | None = None) -> G.GridSpec:
    """`gdal_merge.py` analog: mosaic same-grid rasters (first source
    wins by default, like the utility's paint order; sum/max/min/mean
    via the mosaic operator). All inputs must share the grid —
    reproject with gdalwarp first otherwise."""
    specs_tiles = [GT.read_geotiff(spark, s) for s in srcs]
    spec0 = specs_tiles[0][0]
    for s, _ in specs_tiles[1:]:
        if s != spec0:
            raise ValueError(
                "gdal_merge inputs must share one grid — run gdalwarp "
                f"first ({s} != {spec0})")
    from .raster import calc as RCALC
    merged = RCALC.mosaic([t for _, t in specs_tiles], method=method)
    GT.write_geotiff(merged, spec0, dst, dtype=dtype, nodata=nodata)
    return spec0


def gdallocationinfo(spark: SparkSession, src: str,
                     points: list[tuple[float, float]],
                     kernel: str = "near") -> list[float]:
    """`gdallocationinfo -geoloc src x y ...` — sample the raster at
    world coordinates (apps/gdallocationinfo.cpp over the
    interpolate-at-point operator)."""
    from .raster import calc as RCALC
    spec, tiles = GT.read_geotiff(spark, src)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(points)],
        "pt_id long, x double, y double")
    got = {r.pt_id: r.value
           for r in RCALC.interpolate_at_points(
               tiles, spec, pts, kernel=kernel).collect()}
    return [got.get(i) for i in range(len(points))]


_DEM_MODES = ("slope", "aspect", "hillshade", "tri", "tpi", "roughness")


def gdaldem(spark: SparkSession, mode: str, src: str, dst: str,
            z_factor: float = 1.0, dtype: str = "float64",
            nodata: float | None = None) -> G.GridSpec:
    """`gdaldem <mode> src dst [-z]` (apps/gdaldem_lib.cpp) over the
    halo-exchange focal operator."""
    if mode not in _DEM_MODES:
        raise ValueError(f"mode {mode!r}: want one of {_DEM_MODES}")
    spec, tiles = GT.read_geotiff(spark, src)
    out = RF.focal(tiles, spec, mode, z_factor=z_factor)
    GT.write_geotiff(out, spec, dst, dtype=dtype, nodata=nodata)
    return spec


def gdal_grid(spark: SparkSession, src: str, dst: str, spec: G.GridSpec,
              algorithm: str = "invdist", zfield: str = "z",
              geom_col: str = "geom", dtype: str = "float64",
              nodata: float = 0.0, **params) -> G.GridSpec:
    """`gdal_grid -a <alg>[:params] -zfield f src dst`
    (apps/gdal_grid_lib.cpp): vector points -> interpolated raster.
    Algorithms map 1:1 onto raster/gridding.py + geo/delaunay.py:

      invdist               power/radius (unbounded radius broadcasts)
      invdistnn             radius + max_points/min_points/smoothing
                            (+ per-quadrant caps)
      nearest               radius
      average               radius1/radius2/angle/min_points
      linear                radius (TIN fallback rule)
      minimum/maximum/range/count/average_distance/
      average_distance_pts  data metrics (radius1/radius2/angle)
    """
    from .geo import wkb as W
    from .raster import gridding as GR

    df = REG.open_vector(spark, src)

    @F.pandas_udf("double")
    def gx(g: pd.Series) -> pd.Series:
        return pd.Series([W.decode(bytes(b))[1][0] for b in g])

    @F.pandas_udf("double")
    def gy(g: pd.Series) -> pd.Series:
        return pd.Series([W.decode(bytes(b))[1][1] for b in g])

    pts = df.select(gx(F.col(geom_col)).alias("x"),
                    gy(F.col(geom_col)).alias("y"),
                    F.col(zfield).cast("double").alias("v"))
    if algorithm == "invdist":
        tiles = GR.grid_idw(pts, spec, nodata=nodata, **params)
    elif algorithm == "invdistnn":
        tiles = GR.grid_invdistnn(pts, spec, nodata=nodata, **params)
    elif algorithm == "nearest":
        tiles = GR.grid_nearest(pts, spec, nodata=nodata, **params)
    elif algorithm == "average":
        tiles = GR.grid_average(pts, spec, nodata=nodata, **params)
    elif algorithm == "linear":
        tiles = GR.grid_linear(pts, spec, nodata=nodata, **params)
    elif algorithm in GR.DATA_METRICS:
        tiles = GR.grid_data_metric(pts, spec, algorithm,
                                    nodata=nodata, **params)
    else:
        raise ValueError(f"unknown gridding algorithm {algorithm!r}")
    GT.write_geotiff(tiles, spec, dst, dtype=dtype, nodata=nodata)
    return spec


def rgb2pct(spark: SparkSession, src: str, dst: str, n_colors: int = 256,
            dither: bool = False) -> "np.ndarray":
    """`rgb2pct.py [-n colors] src dst` (the reference's
    swig/python/gdal-utils rgb2pct): median-cut palette over the RGB
    bands, nearest-entry mapping (or exact Floyd-Steinberg when
    dither=True, driver-side under the palette module's pixel budget);
    writes the index band; returns the palette."""
    from .raster import palette as PAL

    spec, bands = GT.read_geotiff_bands(spark, src)
    if len(bands) < 3:
        raise ValueError("rgb2pct needs a 3-band source")
    rgb = (bands[0].withColumnRenamed("px", "r")
           .join(bands[1].withColumnRenamed("px", "g"),
                 ["tile_y", "tile_x"])
           .join(bands[2].withColumnRenamed("px", "b"),
                 ["tile_y", "tile_x"]))
    pal = PAL.compute_median_cut_pct(rgb, n_colors)
    idx = (PAL.rgb_to_pct_dithered(rgb, spec, pal) if dither
           else PAL.rgb_to_pct(rgb, pal))
    GT.write_geotiff(idx, spec, dst, dtype="uint8")
    return pal


def pct2rgb(spark: SparkSession, src: str, dst: str,
            palette: "np.ndarray") -> None:
    """`pct2rgb.py src dst`: expand an index band back to RGB planes
    through the palette (broadcast lookup, per-tile numpy take)."""
    import numpy as np

    spec, tiles = GT.read_geotiff(spark, src)
    pal = np.asarray(palette, np.float64)

    def chan(c):
        lut = F.array(*[F.lit(float(v)) for v in pal[:, c]])
        return F.transform("px", lambda x: F.element_at(
            lut, x.cast("int") + F.lit(1)))

    bands = [tiles.select("tile_y", "tile_x", chan(c).alias("px"))
             for c in range(3)]
    GT.write_geotiff_bands(bands, spec, dst, dtype="uint8")


def gdal_sieve(spark: SparkSession, src: str, dst: str, threshold: int,
               connect8: bool = False, dtype: str = "float64") -> None:
    """`gdal_sieve.py -st threshold [-8] src dst`
    (apps/gdal_sieve analog over the distributed cascade)."""
    from .raster import sieve as SV
    from .raster.vrt import open_raster

    spec, tiles = open_raster(spark, src)
    GT.write_geotiff(SV.sieve(tiles, spec, threshold, connect8=connect8),
                     spec, dst, dtype=dtype)


def gdal_proximity(spark: SparkSession, src: str, dst: str,
                   max_dist: float = float("inf"), nodata: float = -1.0,
                   dtype: str = "float64") -> None:
    """`gdal_proximity.py [-maxdist d] src dst` — pixel-unit distance
    to the nearest nonzero pixel (alg/gdalproximity.cpp semantics,
    broadcast or scale path, chosen by target count)."""
    from .raster import proximity as PX
    from .raster.vrt import open_raster

    spec, tiles = open_raster(spark, src)
    GT.write_geotiff(PX.proximity(tiles, spec, max_dist, nodata),
                     spec, dst, dtype=dtype, nodata=nodata)


def gdal_fillnodata(spark: SparkSession, src: str, dst: str,
                    nodata: float, iterations: int = 3,
                    dtype: str = "float64") -> None:
    """`gdal_fillnodata.py src dst` — iterated neighbour-mean fill of
    the nodata regions (alg/gdal_fillnodata analog via halo passes)."""
    from .raster import focal as FO
    from .raster.vrt import open_raster

    spec, tiles = open_raster(spark, src)
    GT.write_geotiff(FO.fillnodata(tiles, spec, nodata,
                                   iterations=iterations),
                     spec, dst, dtype=dtype)


def gdal_viewshed(spark: SparkSession, src: str, dst: str, ox: int,
                  oy: int, obs_height: float = 2.0,
                  max_distance: float = float("inf"),
                  dtype: str = "float64") -> None:
    """`gdal_viewshed -ox -oy [-oz h] [-md d] src dst`
    (apps/gdal_viewshed_lib analog; observer in PIXEL coords)."""
    from .raster import viewshed as VS
    from .raster.vrt import open_raster

    spec, tiles = open_raster(spark, src)
    GT.write_geotiff(VS.viewshed(tiles, spec, ox, oy, obs_height,
                                 max_distance),
                     spec, dst, dtype=dtype)
