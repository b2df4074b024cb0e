"""Point-in-polygon via ray casting in vectorized Arrow batches.

Engine addition (no reference analog; BASELINE.json north_star mandates
"ray-casting point-in-polygon in pandas batches"). One operator,
``points_in_polygons_bucketed``, serves every polygon set: polygons
live in a DataFrame (``polygons_df`` builds one from a dict), each is
exploded to its covering z12 tiles, points equi-join the polygon tiles
on the tile key, and a pandas UDF decides membership per Arrow batch —
numpy does V vector operations per polygon group for a V-vertex
polygon, never per-row Python.

The numpy kernel (ray_cast_contains) is shared with the pure-pandas
oracle so engine and golden fixtures agree bit-for-bit; the kernel
itself is unit-tested against hand-computed cases in tests/test_geo.py.

Multipolygon-with-holes convention: even-odd across all rings (a point
is inside iff it is inside an odd number of rings), matching the
multipolygon relation fixture (role=outer/inner members).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_lib_spark.functions.geo import from_fixed
from osm_lib_spark.functions.tiles import ZOOM, tile_x_col, tile_y_col
from osm_lib_spark.session import collect_bounded, local_frame
from osm_lib_spark.sources.oracle import ray_cast_contains


def polygons_df(spark, polygons: dict[int, list[np.ndarray]]) -> DataFrame:
    """dict polygon set → DataFrame (poly_id, rings) — the input shape
    of ``points_in_polygons_bucketed``. rings is
    array<array<array<double>>>: rings[r][v] = [lat, lon]. One row per
    polygon carries ALL its rings so even-odd with holes evaluates per
    row after the tile join."""
    rows = [
        (
            int(pid),
            [
                [[float(v[0]), float(v[1])] for v in np.asarray(ring, dtype=np.float64)]
                for ring in rings
            ],
        )
        for pid, rings in sorted(polygons.items())
    ]
    return local_frame(spark, rows, "poly_id long, rings array<array<array<double>>>")


def _contains_by_polygon(
    poly_id: pd.Series, lat: pd.Series, lon: pd.Series, rings_of
) -> pd.Series:
    """Per-bucket ray cast behind both UDFs: the rows of one Arrow batch
    are grouped by polygon and each group runs the SAME vectorized
    even-odd kernel the pandas oracle uses (``ray_cast_contains``) — one
    kernel invocation per (polygon, ring, batch), never per row.
    ``rings_of(i)`` gives the rings of row ``i``'s polygon as (V, 2)
    float64 arrays."""
    pid = poly_id.to_numpy()
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    out = np.zeros(len(pid), dtype=bool)
    order = np.argsort(pid, kind="stable")
    for ii in np.split(order, np.flatnonzero(np.diff(pid[order])) + 1):
        if len(ii):
            inside = np.zeros(len(ii), dtype=bool)
            for ring in rings_of(int(ii[0])):
                inside ^= ray_cast_contains(ring, la[ii], lo[ii])
            out[ii] = inside
    return pd.Series(out)


def _ring_arrays(rings) -> list[np.ndarray]:
    """One polygon's ``rings`` value → its rings as (V, 2) float64 arrays."""
    return [np.stack([np.asarray(v, dtype=np.float64) for v in ring]) for ring in rings]


@F.pandas_udf(T.BooleanType())
def _contains_rings_udf(
    poly_id: pd.Series, lat: pd.Series, lon: pd.Series, rings: pd.Series
) -> pd.Series:
    """Membership with the rings riding each candidate row."""
    return _contains_by_polygon(poly_id, lat, lon, lambda i: _ring_arrays(rings.iloc[i]))


TILE_DDL = (
    "poly_id long, xtile int, ytile int, "
    "lat_min double, lat_max double, lon_min double, lon_max double"
)


def _driver_rings(polygons: DataFrame) -> dict[int, list[np.ndarray]] | None:
    """poly_id → rings as (V, 2) float64 arrays, collected through
    ``collect_bounded`` one row per ring VERTEX, so the ring payload is
    measured by its size, not by its polygon count; ``None`` when the
    vertices are over ``spark.sql.autoBroadcastJoinThreshold``."""
    verts = polygons.select("poly_id", F.posexplode("rings").alias("ring", "vs")).select(
        "poly_id", "ring", F.posexplode("vs").alias("vertex", "v")
    )
    table = collect_bounded(
        verts.select(
            "poly_id", "ring", "vertex", F.col("v")[0].alias("lat"), F.col("v")[1].alias("lon")
        )
    )
    if table is None:
        return None
    if not table.num_rows:
        return {}
    pid, ring, vertex, lat, lon = (c.to_numpy(zero_copy_only=False) for c in table.columns)
    order = np.lexsort((vertex, ring, pid))
    pid, ring = pid[order], ring[order]
    starts = np.flatnonzero((np.diff(pid) != 0) | (np.diff(ring) != 0)) + 1
    rings_of: dict[int, list[np.ndarray]] = {}
    for p, latlon in zip(
        pid[np.r_[0, starts]], np.split(np.column_stack([lat[order], lon[order]]), starts)
    ):
        rings_of.setdefault(int(p), []).append(latlon)
    return rings_of


def points_in_polygons_bucketed(
    nodes: DataFrame, polygons: DataFrame, zoom: int = ZOOM
) -> DataFrame:
    """→ (poly_id, node_id) for every node inside each polygon of
    ``polygons`` (poly_id, rings), the ``polygons_df`` shape.

    Plan shape:

    1. per-polygon bbox from the rings column (pure Column fold);
    2. explode each polygon to its covering z``zoom`` tiles —
       |P|·avg_covering_tiles rows;
    3. points compute their own (xtile, ytile) and EQUI-join the
       polygon-tile table on the tile key, the polygon side always the
       build side. The size rule of every driver-or-cluster choice
       picks how (``session.collect_bounded``): when the tile table
       without rings AND the ring vertices (``_driver_rings``, 40 B a
       vertex) each fit under ``spark.sql.autoBroadcastJoinThreshold``,
       the tile table is collected once into a LocalRelation the
       planner broadcasts by its exact size (no point shuffles at all),
       and the ring geometry ships ONCE PER EXECUTOR as a Spark
       broadcast variable — at 1M nodes × 500 polygons the per-row
       rings payload through Arrow was the dominant cost (measured
       6.9s, PLANS §14). If either is over the threshold (a coastline
       with 10⁶ vertices over a few tiles is over on its vertices
       alone), the rings ride the polygon-tile rows under a
       SHUFFLE_HASH hint (both sides hash-exchange on uniform tile
       keys); left to the planner, a polygon side without stats can
       invert the join and broadcast the corpus;
    4. a Column predicate drops candidates outside the polygon's own
       bbox in the join's codegen stage, then the shared ray-cast
       kernel (``_contains_by_polygon``) decides the rest per bucket.

    Exactness: bbox-covering tiles ⊇ polygon tiles and a point outside
    every covering tile cannot be inside, so the join only ever prunes
    true negatives; the kernel decides the rest. Each point has exactly
    one tile and a polygon covers a tile at most once → no dup pairs.

    Limits (documented, asserted): polygons crossing the antimeridian
    are not supported (split them into two rings); latitudes beyond the
    Web-Mercator range clamp onto the edge tile rows, where the kernel
    still decides exactly. Skew: a huge polygon's candidates spread
    over its many covering tiles (per-tile buckets), so no single task
    sees the whole polygon's point load; very-high-vertex polygons pay
    ring duplication per covering tile on the rings-on-rows path —
    clip rings per tile at that scale.
    """
    ntiles = 1 << zoom

    def clamp(c):
        return F.greatest(F.least(c, F.lit(ntiles - 1)), F.lit(0))

    verts = F.flatten(F.col("rings"))
    lats = F.transform(verts, lambda v: F.element_at(v, 1))
    lons = F.transform(verts, lambda v: F.element_at(v, 2))
    p = polygons.select(
        "poly_id",
        "rings",
        F.array_min(lats).alias("lat_min"),
        F.array_max(lats).alias("lat_max"),
        F.array_min(lons).alias("lon_min"),
        F.array_max(lons).alias("lon_max"),
    ).where(
        # lazy runtime assertion: reject antimeridian-wrapping rings
        F.when(
            F.col("lon_max") - F.col("lon_min") > 180.0,
            F.raise_error(
                F.concat(
                    F.lit("points_in_polygons_bucketed: polygon "),
                    F.col("poly_id").cast("string"),
                    F.lit(" spans >180 deg of longitude — split it at the antimeridian"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )
    bbox_cols = ["lat_min", "lat_max", "lon_min", "lon_max"]
    ptiles = (
        p.select(
            "poly_id",
            "rings",
            *bbox_cols,
            F.explode(
                F.sequence(
                    clamp(tile_x_col(F.col("lon_min"), zoom)),
                    clamp(tile_x_col(F.col("lon_max"), zoom)),
                )
            ).alias("xtile"),
            clamp(tile_y_col(F.col("lat_max"), zoom)).alias("y0"),
            clamp(tile_y_col(F.col("lat_min"), zoom)).alias("y1"),
        )
        .select(
            "poly_id",
            "rings",
            "xtile",
            F.explode(F.sequence(F.col("y0"), F.col("y1"))).alias("ytile"),
            *bbox_cols,
        )
    )
    pts = nodes.select(
        F.col("id").alias("node_id"),
        from_fixed(F.col("fixed_lat")).alias("lat"),
        from_fixed(F.col("fixed_lon")).alias("lon"),
    ).select(
        "node_id",
        "lat",
        "lon",
        clamp(tile_x_col(F.col("lon"), zoom)).alias("xtile"),
        clamp(tile_y_col(F.col("lat"), zoom)).alias("ytile"),
    )
    tiles = collect_bounded(ptiles.drop("rings"))
    rings_of = None if tiles is None else _driver_rings(polygons)
    if rings_of is None:
        cand = pts.join(ptiles.hint("SHUFFLE_HASH"), ["xtile", "ytile"])
        contains = _contains_rings_udf(
            F.col("poly_id"), F.col("lat"), F.col("lon"), F.col("rings")
        )
    else:
        spark = polygons.sparkSession
        bc = spark.sparkContext.broadcast(rings_of)

        @F.pandas_udf(T.BooleanType())
        def contains_bc(poly_id: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
            by_pid = bc.value
            return _contains_by_polygon(poly_id, lat, lon, lambda i: by_pid[int(poly_id.iat[i])])

        cand = pts.join(local_frame(spark, tiles, TILE_DDL), ["xtile", "ytile"])
        contains = contains_bc(F.col("poly_id"), F.col("lat"), F.col("lon"))
    # polygon-bbox prefilter: a candidate in a covering tile can still be
    # outside the polygon's own bbox (tiles are ~0.088° at z12, most grid
    # polygons are 0.01-0.06° half-size). The bbox test is a plain Column
    # predicate in the same codegen stage as the join, so rows it kills
    # never cross into Python. bbox ⊇ polygon, so only true negatives
    # are dropped — exactness holds.
    in_bbox = (
        F.col("lat").between(F.col("lat_min"), F.col("lat_max"))
        & F.col("lon").between(F.col("lon_min"), F.col("lon_max"))
    )
    return cand.where(in_bbox).where(contains).select("poly_id", "node_id")


def grid_polygons(
    centers: list[tuple[float, float]], n_per: int = 240, seed: int = 7
) -> dict[int, list[np.ndarray]]:
    """Deterministic LARGE polygon set for the bucketed path's gate and
    tests: ``n_per`` polygons on a jittered grid spanning ±0.45° around
    EACH cluster center (the fixture clusters are 0.09°-std blobs, so
    most of these see real points), plus 20 spread world-wide for empty
    coverage. Shapes cycle through axis box / diamond / hexagon /
    box-with-hole at half-sizes 0.01°–0.06° (a z12 tile is ~0.088° —
    most polygons cover 1-4 tiles); every 20th polygon is a large 0.3°
    box exercising wide multi-tile coverage. Pure function of (centers,
    n_per, seed); shared by the Spark gate query and the pandas golden
    oracle. Sizes are tuned so the sf-s golden stays ~10⁵ rows (driver
    compare collects both sides)."""
    rng = np.random.default_rng(seed)
    g = int(math.ceil(math.sqrt(n_per)))
    span = 0.45
    sites: list[tuple[float, float, float]] = []
    for clat, clon in centers:
        for i in range(n_per):
            gx, gy = i % g, i // g
            cx = clon - span + 2.0 * span * (gx + 0.5) / g + rng.uniform(-0.02, 0.02)
            cy = clat - span + 2.0 * span * (gy + 0.5) / g + rng.uniform(-0.02, 0.02)
            s = 0.3 if i % 20 == 19 else float(rng.uniform(0.01, 0.06))
            sites.append((cy, cx, s))
    for _ in range(20):
        sites.append(
            (float(rng.uniform(-70, 70)), float(rng.uniform(-170, 170)), float(rng.uniform(0.05, 0.3)))
        )
    polys: dict[int, list[np.ndarray]] = {}
    for i, (cy, cx, s) in enumerate(sites):
        cy = min(max(cy, -80.0), 80.0)
        shape = i % 4
        if shape == 0:
            rings = [
                [[cy - s, cx - s], [cy - s, cx + s], [cy + s, cx + s], [cy + s, cx - s]]
            ]
        elif shape == 1:
            rings = [[[cy - s, cx], [cy, cx + s], [cy + s, cx], [cy, cx - s]]]
        elif shape == 2:
            rings = [
                [
                    [cy + s * math.sin(t * math.pi / 3.0), cx + s * math.cos(t * math.pi / 3.0)]
                    for t in range(6)
                ]
            ]
        else:
            h = s / 3.0
            rings = [
                [[cy - s, cx - s], [cy - s, cx + s], [cy + s, cx + s], [cy + s, cx - s]],
                [[cy - h, cx - h], [cy - h, cx + h], [cy + h, cx + h], [cy + h, cx - h]],
            ]
        polys[i + 1] = [np.asarray(r, dtype=np.float64) for r in rings]
    return polys

