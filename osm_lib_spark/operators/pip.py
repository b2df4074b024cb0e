"""Point-in-polygon via ray casting in vectorized Arrow batches.

Engine addition (no reference analog; BASELINE.json north_star mandates
"ray-casting point-in-polygon in pandas batches"). The polygon set is
small (broadcast via closure capture); points stream through a scalar
pandas UDF in Arrow batches — numpy does V vector operations per batch
for a V-vertex polygon, never per-row Python.

The numpy kernel (ray_cast_contains) is shared with the pure-pandas
oracle so engine and golden fixtures agree bit-for-bit; the kernel
itself is unit-tested against hand-computed cases in tests/test_geo.py.

Multipolygon-with-holes convention: even-odd across all rings (a point
is inside iff it is inside an odd number of rings), matching the
multipolygon relation fixture (role=outer/inner members).

Scale path: pre-filter points to the polygon's bbox tiles first (a
prunable column predicate) so the UDF only sees candidate rows, then
ray-cast. For polygon sets too large to broadcast, use
``points_in_polygons_bucketed``: polygons live in a DataFrame, each is
exploded to its covering z12 tiles, points equi-join polygon buckets
on the tile key, and the shared ray-cast kernel decides membership per
bucket — no closure-captured polygon list anywhere.
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
from osm_lib_spark.session import local_frame
from osm_lib_spark.sources.oracle import ray_cast_contains


def points_in_polygons(
    nodes: DataFrame, polygons: dict[int, list[np.ndarray]]
) -> DataFrame:
    """→ (poly_id, node_id) for every node inside each polygon.

    ``polygons``: poly_id → [ring, ...], each ring an (V, 2) float64
    array of (lat, lon) vertices.
    """
    # serialize rings to plain lists for closure pickling (small)
    poly_items = [
        (int(pid), [np.asarray(r, dtype=np.float64) for r in rings])
        for pid, rings in sorted(polygons.items())
    ]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def containing_polys(lat: pd.Series, lon: pd.Series) -> pd.Series:
        la = lat.to_numpy(dtype=np.float64)
        lo = lon.to_numpy(dtype=np.float64)
        hits: list[list[int]] = [[] for _ in range(len(la))]
        for pid, rings in poly_items:
            inside = np.zeros(len(la), dtype=bool)
            for ring in rings:
                inside ^= ray_cast_contains(ring, la, lo)
            for i in np.nonzero(inside)[0]:
                hits[i].append(pid)
        return pd.Series(hits)

    # bbox prefilter: cheap column predicate cuts the UDF input to
    # candidates only (pushdown-friendly); union of all polygon bboxes.
    all_lat = np.concatenate([r[:, 0] for _, rings in poly_items for r in rings])
    all_lon = np.concatenate([r[:, 1] for _, rings in poly_items for r in rings])
    pts = nodes.select(
        F.col("id").alias("node_id"),
        from_fixed(F.col("fixed_lat")).alias("lat"),
        from_fixed(F.col("fixed_lon")).alias("lon"),
    ).where(
        F.col("lat").between(float(all_lat.min()), float(all_lat.max()))
        & F.col("lon").between(float(all_lon.min()), float(all_lon.max()))
    )

    return (
        pts.withColumn("poly_ids", containing_polys(F.col("lat"), F.col("lon")))
        .where(F.size("poly_ids") > 0)
        .select(F.explode("poly_ids").alias("poly_id"), "node_id")
    )


def polygons_df(spark, polygons: dict[int, list[np.ndarray]]) -> DataFrame:
    """dict polygon set → DataFrame (poly_id, rings) — the input shape
    of the bucketed scale path. rings is array<array<array<double>>>:
    rings[r][v] = [lat, lon]. One row per polygon carries ALL its rings
    so even-odd with holes evaluates per row after the tile join."""
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


@F.pandas_udf(T.BooleanType())
def _pip_contains_udf(
    poly_id: pd.Series, lat: pd.Series, lon: pd.Series, rings: pd.Series
) -> pd.Series:
    """Per-bucket ray cast: rows of one Arrow batch are grouped by
    polygon and each group runs the SAME vectorized even-odd kernel the
    pandas oracle uses (``ray_cast_contains``) — one kernel invocation
    per (polygon, batch), never per row."""
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    out = np.zeros(len(la), dtype=bool)
    pid = poly_id.to_numpy()
    order = np.argsort(pid, kind="stable")
    sp = pid[order]
    starts = np.flatnonzero(np.r_[True, sp[1:] != sp[:-1]]) if len(sp) else np.array([], dtype=int)
    bounds = np.r_[starts, len(order)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        ii = order[a:b]
        inside = np.zeros(len(ii), dtype=bool)
        for ring in rings.iloc[int(ii[0])]:
            ring_arr = np.stack([np.asarray(v, dtype=np.float64) for v in ring])
            inside ^= ray_cast_contains(ring_arr, la[ii], lo[ii])
        out[ii] = inside
    return pd.Series(out)


BROADCAST_TILE_ROWS = 500_000  # polygon-tile rows (~100 MB with rings) that still broadcast


def points_in_polygons_bucketed(
    nodes: DataFrame,
    polygons: DataFrame,
    zoom: int = ZOOM,
    broadcast_tile_rows: int = BROADCAST_TILE_ROWS,
) -> DataFrame:
    """→ (poly_id, node_id): the SCALE path for polygon sets too large
    to broadcast as a closure (the docstring promise at module top).

    Plan shape (all declarative — Catalyst/AQE pick the join strategy
    from stats, no forced broadcast):

    1. per-polygon bbox from the rings column (pure Column fold);
    2. explode each polygon to its covering z``zoom`` tiles —
       |P|·avg_covering_tiles rows, distributed, never collected;
    3. points compute their own (xtile, ytile) and EQUI-join the
       polygon-tile table on the tile key. The POLYGON side is always
       the build side: a cheap polygon-side count picks broadcast-hash
       when the tile table is ≤ ``broadcast_tile_rows`` (no point
       shuffles at all) and a SHUFFLE_HASH hint on the polygon side
       otherwise (both sides hash-exchange on uniform tile keys).
       Without this the planner can invert the join at toy scale — a
       polygon set without stats lets Catalyst broadcast the CORPUS
       side; a stats-bearing polygon table (``polygons_df``'s
       LocalRelation, Iceberg) gives the same decision for free;
    4. the shared ray-cast kernel filters candidates per bucket inside
       the post-join stage (no second shuffle — the rings ride the
       build side of the join into the same codegen stage).

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
    ring duplication per covering tile — clip rings per tile at that
    scale.
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
            *bbox_cols,
            "xtile",
            F.explode(F.sequence(F.col("y0"), F.col("y1"))).alias("ytile"),
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
    if ptiles.count() <= broadcast_tile_rows:
        # broadcast regime: the tile table broadcasts WITHOUT the rings
        # column, and ring geometry ships ONCE PER EXECUTOR as a Spark
        # broadcast variable instead of riding every candidate row —
        # at 1M nodes × 500 polygons the per-row rings payload through
        # Arrow was the dominant cost (measured 6.9s → see PLANS §14;
        # the collect is bounded by the same threshold that justifies
        # the broadcast)
        spark = polygons.sparkSession
        ring_rows = polygons.select("poly_id", "rings").collect()
        ring_map = {
            int(r["poly_id"]): [
                np.stack([np.asarray(v, dtype=np.float64) for v in ring])
                for ring in r["rings"]
            ]
            for r in ring_rows
        }
        bc = spark.sparkContext.broadcast(ring_map)

        @F.pandas_udf(T.BooleanType())
        def contains_bc(poly_id: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
            rings_by_pid = bc.value
            la = lat.to_numpy(dtype=np.float64)
            lo = lon.to_numpy(dtype=np.float64)
            out = np.zeros(len(la), dtype=bool)
            pid = poly_id.to_numpy()
            order = np.argsort(pid, kind="stable")
            sp = pid[order]
            starts = (
                np.flatnonzero(np.r_[True, sp[1:] != sp[:-1]])
                if len(sp)
                else np.array([], dtype=int)
            )
            bounds = np.r_[starts, len(order)]
            for a, b in zip(bounds[:-1], bounds[1:]):
                ii = order[a:b]
                inside = np.zeros(len(ii), dtype=bool)
                for ring_arr in rings_by_pid[int(sp[a])]:
                    inside ^= ray_cast_contains(ring_arr, la[ii], lo[ii])
                out[ii] = inside
            return pd.Series(out)

        # polygon-bbox prefilter: a candidate in a covering tile can
        # still be outside the polygon's own bbox (tiles are ~0.088° at
        # z12, most grid polygons are 0.01-0.06° half-size). The bbox
        # test is a plain Column predicate in the same codegen stage as
        # the join, so rows it kills never cross into Python (guide §4:
        # pass the UDF only the rows it can possibly keep). bbox ⊇
        # polygon, so only true negatives are dropped — exactness holds.
        in_bbox = (
            F.col("lat").between(F.col("lat_min"), F.col("lat_max"))
            & F.col("lon").between(F.col("lon_min"), F.col("lon_max"))
        )
        tile_cols = ["poly_id", "xtile", "ytile", "lat_min", "lat_max", "lon_min", "lon_max"]
        cand = pts.join(F.broadcast(ptiles.select(tile_cols)), ["xtile", "ytile"]).where(
            in_bbox
        )
        return cand.where(
            contains_bc(F.col("poly_id"), F.col("lat"), F.col("lon"))
        ).select("poly_id", "node_id")

    cand = pts.join(ptiles.hint("SHUFFLE_HASH"), ["xtile", "ytile"]).where(
        F.col("lat").between(F.col("lat_min"), F.col("lat_max"))
        & F.col("lon").between(F.col("lon_min"), F.col("lon_max"))
    )
    return cand.where(
        _pip_contains_udf(F.col("poly_id"), F.col("lat"), F.col("lon"), F.col("rings"))
    ).select("poly_id", "node_id")


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


def polygon_rings_from_relation(
    relations: DataFrame, ways: DataFrame, nodes: DataFrame, relation_id: int
) -> dict[int, list[np.ndarray]]:
    """Resolve a type=multipolygon relation's member ways into rings.

    Way→node resolution with order restored via posexplode + sort
    (the J1 join, TileOSMSource.java:77-84): member ways' node_ids are
    looked up and each way's coordinate sequence becomes one ring.
    Returns {relation_id: [outer_ring, inner_ring, ...]} with rings in
    member order (role=outer first by convention of the fixture).
    """
    members = (
        relations.where(F.col("id") == relation_id)
        .select(F.posexplode("members").alias("m_pos", "m"))
        .where(F.col("m.type") == "WAY")
        .select("m_pos", F.col("m.member_id").alias("way_id"), F.col("m.role").alias("role"))
    )
    way_pts = (
        members.join(ways, members.way_id == ways.id, "inner")
        .select("m_pos", "way_id", F.posexplode("node_ids").alias("n_pos", "ref_id"))
        .join(
            nodes.select(
                F.col("id").alias("nid"),
                from_fixed(F.col("fixed_lat")).alias("lat"),
                from_fixed(F.col("fixed_lon")).alias("lon"),
            ),
            F.col("ref_id") == F.col("nid"),
            "inner",
        )
        .groupBy("m_pos", "way_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("n_pos", "lat", "lon"))
            ).alias("pts")
        )
        .orderBy("m_pos")
        .collect()
    )
    rings = [
        np.array([[p.lat, p.lon] for p in row.pts], dtype=np.float64)
        for row in way_pts
        if len(row.pts) >= 3
    ]
    return {relation_id: rings}
