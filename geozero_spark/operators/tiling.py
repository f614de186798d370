"""z/x/y tile assignment + Mapbox Vector Tile materialization.

Tile sink parity target: MvtWriter (geozero/src/mvt/mvt_writer.rs) —
the affine map->tile transform with Y flip (:157-173), validity rules
(:254-307), layer assembly (:148-155). The Spark shape is:

    geoms -> explode tiles covering bbox (JVM-side)    # cover
          -> groupBy(z, x, y)                          # shuffle on tile key
          -> applyInPandas(encode MVT layer per tile)  # one Arrow batch/tile

The shuffle key is the tile id, so tile hot spots (dense cities at low
zoom) are the skew surface: AQE skew-join/partition splitting plus an
optional per-tile feature cap (``max_features``, applied deterministically
by sort key) bound the worst tile. Feature order inside a tile is sorted
by the feature key for run-to-run byte-identical tiles.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import sqlgen as sg
from ..kernel import tiles as ktiles

TILE_SCHEMA = ("z int, x bigint, y bigint, n_features int, "
               "n_skipped int, mvt binary")


def with_tile_eq(df: DataFrame, lon: str, lat: str, z: int,
                 quadkey: bool = False) -> DataFrame:
    """Equirectangular tile assignment (kernel.tiles.tile_xy_eq)."""
    x, y = sg.tile_xy_eq(lon, lat, z)
    out = (df.withColumn("z", F.lit(z))
             .withColumn("x", F.expr(x)).withColumn("y", F.expr(y)))
    if quadkey:
        out = out.withColumn(
            "quadkey", F.expr(sg.quadkey("x", "y", z, sg.SPARK)))
    return out


def with_tile_wm(df: DataFrame, lon: str, lat: str, z: int,
                 quadkey: bool = False) -> DataFrame:
    """WebMercator (OSM slippy) tile assignment."""
    x, y = sg.tile_xy_wm(lon, lat, z)
    out = (df.withColumn("z", F.lit(z))
             .withColumn("x", F.expr(x)).withColumn("y", F.expr(y)))
    if quadkey:
        out = out.withColumn(
            "quadkey", F.expr(sg.quadkey("x", "y", z, sg.SPARK)))
    return out


def explode_tiles_eq(df: DataFrame, z: int, bbox_col: str = "geom.bbox"
                     ) -> DataFrame:
    """One row per (row, covering equirect tile) from the bbox — JVM-side."""
    nx, ny = 2 << z, 1 << z

    def gx(e: str) -> str:
        return sg.clamp(sg.ibigint(
            f"(({e}) + {sg.f64(180.0)}) / {sg.f64(360.0)} * {nx}"),
            "0", str(nx - 1))

    def gy(e: str) -> str:
        return sg.clamp(sg.ibigint(
            f"({sg.f64(90.0)} - ({e})) / {sg.f64(180.0)} * {ny}"),
            "0", str(ny - 1))

    x0 = gx(f"element_at({bbox_col}, 1)")
    x1 = gx(f"element_at({bbox_col}, 3)")
    y0 = gy(f"element_at({bbox_col}, 4)")  # top edge -> smaller y
    y1 = gy(f"element_at({bbox_col}, 2)")
    return (df
            # empty geometries carry bbox=[]; skip them rather than
            # fail the job on ANSI element_at
            .where(F.expr(f"size({bbox_col}) = 4"))
            .withColumn("z", F.lit(z))
            .withColumn("x", F.expr(f"explode(sequence({x0}, {x1}))"))
            .withColumn("y", F.expr(f"explode(sequence({y0}, {y1}))")))


def mvt_tiles(df: DataFrame, z: int, key: str = "url",
              geom: str = "geom", layer: str = "layer",
              extent: int = 4096,
              max_features: Optional[int] = None,
              props: Optional[list] = None) -> DataFrame:
    """Materialize one MVT blob per (z, x, y).

    df must carry ``key`` (stable feature id / sort key) and a geometry
    struct column ``geom`` in lon/lat degrees. Invalid-in-tile features
    (MVT validity, mvt_writer.rs:254-307) are counted in ``n_skipped``.

    ``props``: optional list of df column names emitted as TYPED
    feature properties next to the default {"id": str(key)} tag —
    integral columns become MVT int values, floating-point columns
    double values, booleans bool values, everything else strings
    (mvt_writer.rs:380-401 value mapping; keys/values are deduped into
    the layer tables per :357-374). NULLs (and NaN stand-ins Arrow
    uses for nulls in numeric columns) drop that tag on that feature.
    The prop columns ride the (z,x,y) exchange as flat columns like
    the geometry lanes — no struct/dict materialization per row."""
    from pyspark.sql import types as T

    props = list(props) if props else []
    prop_kinds: list = []
    if props:
        by_name = {f.name: f.dataType for f in df.schema.fields}
        for p in props:
            dt = by_name[p]  # unknown column -> loud KeyError
            if isinstance(dt, T.BooleanType):
                k = "bool"
            elif isinstance(dt, (T.LongType, T.IntegerType,
                                 T.ShortType, T.ByteType)):
                k = "int"
            elif isinstance(dt, (T.DoubleType, T.FloatType)):
                k = "float"
            else:
                k = "str"
            prop_kinds.append(k)

    cover = explode_tiles_eq(df.select(key, geom, *props), z,
                             bbox_col=f"{geom}.bbox")
    # the bbox did its job in the cover explode; shuffle only the
    # fields the encoder reads (bbox/srid/t-lanes are ~35% of the
    # struct's bytes and pure dead weight through the (z,x,y)
    # exchange) — and ship them FLAT: the same bytes cross the
    # exchange, but Arrow -> pandas then yields numpy/object columns
    # instead of materializing a python dict per row (~several us/row
    # inside the encode stage, measured)
    cover = cover.select(
        key, "z", "x", "y",
        F.col(f"{geom}.kind").alias("_kind"),
        F.col(f"{geom}.has_z").alias("_has_z"),
        F.col(f"{geom}.has_m").alias("_has_m"),
        F.col(f"{geom}.coords").alias("_coords"),
        F.col(f"{geom}.offs1").alias("_offs1"),
        F.col(f"{geom}.offs2").alias("_offs2"),
        F.col(f"{geom}.wkb").alias("_wkb"),
        *[F.col(p).alias(f"_p{i}") for i, p in enumerate(props)])
    if max_features is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("z", "x", "y").orderBy(key)
        cover = (cover.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") <= max_features).drop("_rn"))

    _GCOLS = ("_kind", "_has_z", "_has_m", "_coords", "_offs1",
              "_offs2", "_wkb")

    def _col_lists(pdf):
        keys_l = pdf[key].tolist()
        cols_l = [pdf[c].tolist() for c in _GCOLS]
        # kind can arrive as float (nullable int -> NaN) from Arrow
        cols_l[0] = [None if v is None or v != v else int(v)
                     for v in cols_l[0]]
        return keys_l, cols_l

    def _props_list(pdf, keys_l):
        """Per-feature typed property dicts in sorted-row order, or
        None for the default {"id": str(key)}-only tagging. Coercion
        follows the DRIVER-captured Spark column type, not the pandas
        dtype — Arrow turns a nullable int column into float64+NaN,
        which must come back as MVT int values, not doubles."""
        if not props:
            return None
        cols_v = [pdf[f"_p{i}"].tolist() for i in range(len(props))]
        out = []
        for j, k in enumerate(keys_l):
            d = {"id": str(k)}
            for nm, kd, col in zip(props, prop_kinds, cols_v):
                v = col[j]
                if v is None or (isinstance(v, float) and v != v):
                    continue
                if kd == "int":
                    d[nm] = int(v)
                elif kd == "float":
                    d[nm] = float(v)
                elif kd == "bool":
                    d[nm] = bool(v)
                else:
                    d[nm] = str(v)
            out.append(d)
        return out

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        from . import mvt_fast
        zz = int(pdf["z"].iloc[0])
        xx = int(pdf["x"].iloc[0])
        yy = int(pdf["y"].iloc[0])
        left, bottom, right, top = ktiles.tile_bounds_eq(zz, xx, yy)
        pdf = pdf.sort_values(key, kind="mergesort")
        keys_l, cols_l = _col_lists(pdf)
        props_l = _props_list(pdf, keys_l)
        blob, n_feats, skipped = mvt_fast.encode_tile_cols(
            layer, extent, keys_l, *cols_l, left, bottom, right, top,
            props_list=props_l)
        return pd.DataFrame([{"z": zz, "x": xx, "y": yy,
                              "n_features": n_feats,
                              "n_skipped": skipped, "mvt": blob}])

    return cover.groupBy("z", "x", "y").applyInPandas(encode, TILE_SCHEMA)
