"""Raster ⇄ vector tiling (north-star operator; no direct reference
analog beyond the z12 tile grid, WebMercatorTile.java:16-18).

* ``rasterize_nodes`` — the vector→raster direction: aggregate point
  features onto the z-level tile grid (a density/value raster).

* ``vectorize_raster`` — raster→vector: cells above a threshold become
  bbox polygon features (WKT-ish ring rendered as text; corner coords
  from the inverse tile formula, display/WebMercatorTile.java:53-68).

Both directions are Column-expression pipelines; the inverse tile
corners use the shared numpy kernel inside a vectorized Arrow UDF.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_lib_spark.functions.geo import from_fixed
from osm_lib_spark.functions.tiles import (
    ZOOM,
    np_tile_bbox,
    tile_x_col,
    tile_y_col,
)


def rasterize_nodes(nodes: DataFrame, zoom: int = ZOOM) -> DataFrame:
    """(xtile, ytile, n_points) density raster at ``zoom``.

    One shuffle: map-side partial counts per tile, final agg on the
    tile key. Dense-city skew is bounded because the key space is the
    tile grid itself (the hottest key holds one tile's points).
    """
    lat = from_fixed(F.col("fixed_lat"))
    lon = from_fixed(F.col("fixed_lon"))
    return (
        nodes
        # unparseable spans surface as null coords (try_cast) — drop
        # them here rather than emitting a (null, null) bucket
        .where(F.col("fixed_lat").isNotNull() & F.col("fixed_lon").isNotNull())
        .select(
            tile_x_col(lon, zoom).alias("xtile"), tile_y_col(lat, zoom).alias("ytile")
        )
        .groupBy("xtile", "ytile")
        .agg(F.count("*").alias("n_points"))
    )


_CORNERS = T.StructType(
    [T.StructField(c, T.DoubleType()) for c in ("north", "south", "east", "west")]
)


@F.arrow_udf(_CORNERS)
def _tile_corners(xtile: pa.Array, ytile: pa.Array) -> pa.Array:
    corners = np_tile_bbox(xtile.to_numpy().astype(np.int64), ytile.to_numpy().astype(np.int64))
    return pa.StructArray.from_arrays([pa.array(c) for c in corners], _CORNERS.names)


def vectorize_raster(raster: DataFrame, min_points: int = 1) -> DataFrame:
    """Cells ≥ min_points → vector features (xtile, ytile, n_points,
    wkt): a closed 5-point bbox ring in WKT POLYGON form."""
    cells = raster.where(F.col("n_points") >= min_points)
    c = _tile_corners(F.col("xtile"), F.col("ytile"))
    cells = cells.withColumn("c", c)
    pt = lambda lon, lat: F.concat_ws(" ", F.format_number(lon, 7), F.format_number(lat, 7))  # noqa: E731
    ring = F.concat_ws(
        ", ",
        pt(F.col("c.west"), F.col("c.south")),
        pt(F.col("c.east"), F.col("c.south")),
        pt(F.col("c.east"), F.col("c.north")),
        pt(F.col("c.west"), F.col("c.north")),
        pt(F.col("c.west"), F.col("c.south")),
    )
    return cells.select(
        "xtile",
        "ytile",
        "n_points",
        F.concat(F.lit("POLYGON (("), ring, F.lit("))")).alias("wkt"),
    )
