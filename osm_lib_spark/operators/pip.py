"""Point-in-polygon via vectorized ray casting.

Engine addition (no reference analog; BASELINE.json north_star mandates
"ray-casting point-in-polygon in pandas batches", run here on Arrow
batches). One operator,
``points_in_polygons_bucketed``, serves every polygon set: polygons
live in a DataFrame (``polygons_df`` builds one from a dict), and each
covers the z12 tiles of its bbox. When the polygons, the nodes in
their tiles and the (polygon, node) pairs in their bboxes fit under
``spark.sql.autoBroadcastJoinThreshold``, numpy decides on the driver
over the ``session.resident`` copy of cached ``nodes`` (no job), else
over those nodes brought in one bounded collect (on sf-m nodes this
beat the Spark form at every polygon set and share of the bound
timed, ROADMAP forks table); otherwise points
equi-join the polygon tiles on the tile key and an Arrow UDF decides
membership per Arrow batch. Either way numpy does V
vector operations per polygon group for a V-vertex polygon, never
per-row Python.

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
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_lib_spark.functions.geo import FIXED_PRECISION_FACTOR, from_fixed
from osm_lib_spark.functions.tiles import ZOOM, np_tile_x, np_tile_y, tile_x_col, tile_y_col
from osm_lib_spark.session import broadcast_threshold, collect_bounded, local_frame, resident, row_bytes
from osm_lib_spark.sources.oracle import ray_cast_contains


POLYGON_DDL = "poly_id long, rings array<array<array<double>>>"
RESULT_DDL = "poly_id long, node_id long"
ANSWER_DDL = "poly_id long, node_ids array<long>"
_WRAP_MESSAGE = (
    "points_in_polygons_bucketed: polygon {} spans >180 deg of longitude"
    " — split it at the antimeridian"
)


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
    return local_frame(spark, rows, POLYGON_DDL)


def _contains_by_polygon(
    pid: np.ndarray, la: np.ndarray, lo: np.ndarray, rings_of
) -> np.ndarray:
    """Per-bucket ray cast behind every PIP form: the rows (poly_id,
    lat, lon arrays) are grouped by polygon and each group runs the
    SAME vectorized even-odd kernel the pandas oracle uses
    (``ray_cast_contains``) — one kernel invocation per (polygon, ring,
    batch), never per row. ``rings_of(i)`` gives the rings of row
    ``i``'s polygon as (V, 2) float64 arrays."""
    out = np.zeros(len(pid), dtype=bool)
    order = np.argsort(pid, kind="stable")
    for ii in np.split(order, np.flatnonzero(np.diff(pid[order])) + 1):
        if len(ii):
            inside = np.zeros(len(ii), dtype=bool)
            for ring in rings_of(int(ii[0])):
                inside ^= ray_cast_contains(ring, la[ii], lo[ii])
            out[ii] = inside
    return out


def _ring_arrays(rings) -> list[np.ndarray]:
    """One polygon's ``rings`` value (collected lists, or the arrays of
    an Arrow batch) → its rings as (V, 2) float64 arrays."""
    return [
        np.array([np.asarray(v, dtype=np.float64) for v in ring]).reshape(-1, 2)
        for ring in ([] if rings is None else rings)
    ]


@F.arrow_udf(T.BooleanType())
def _contains_rings_udf(
    poly_id: pa.Array, lat: pa.Array, lon: pa.Array, rings: pa.Array
) -> pa.Array:
    """Membership with the rings riding each candidate row."""
    inside = _contains_by_polygon(
        poly_id.to_numpy(), lat.to_numpy(), lon.to_numpy(), lambda i: _ring_arrays(rings[i].as_py())
    )
    return pa.array(inside)


TILE_DDL = (
    "poly_id long, xtile int, ytile int, "
    "lat_min double, lat_max double, lon_min double, lon_max double"
)


def _driver_polygons(polygons: DataFrame) -> tuple[list, dict[int, list[np.ndarray]]] | None:
    """(the collected (poly_id, rings) rows, poly_id → rings as (V, 2)
    float64 arrays), or ``None`` when the polygons are over
    ``spark.sql.autoBroadcastJoinThreshold``: at most ``threshold //
    row_bytes`` rows, and their ring vertices (16 B each) under the
    threshold too, as ``row_bytes`` counts an array as one element.
    Over a LocalRelation (``polygons_df``) the limited collect runs no
    job: the optimizer folds the limit into the relation."""
    spark = polygons.sparkSession
    threshold = broadcast_threshold(spark)
    if threshold <= 0:
        return None
    frame = polygons.select("poly_id", "rings")
    max_rows = threshold // row_bytes(spark, frame.schema)
    rows = frame.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    rings_of = {int(pid): _ring_arrays(rings) for pid, rings in rows}
    if sum(ring.nbytes for rings in rings_of.values() for ring in rings) > threshold:
        return None
    return rows, rings_of


def _polygon_bounds(rings_of: dict[int, list[np.ndarray]], zoom: int) -> dict[str, np.ndarray]:
    """Per polygon with vertices: its poly_id, bbox (lat_min, lat_max,
    lon_min, lon_max) and covering z``zoom`` tile ranges (x0, x1, y0,
    y1), as arrays. Raises ``ValueError`` for a ring spanning >180° of
    longitude. The y ranges are widened by 1e-9° of latitude, so
    numpy's and the JVM's last-bit differences in the y formula cannot
    drop a tile that the nodes' Column tiles hold; the bbox test
    decides exactly."""
    ntiles = 1 << zoom
    pids, boxes = [], []
    for pid, rings in rings_of.items():
        v = np.concatenate(rings) if rings else np.empty((0, 2))
        if not len(v):  # no vertices: no bbox, no covering tile
            continue
        (lat_min, lon_min), (lat_max, lon_max) = v.min(axis=0), v.max(axis=0)
        if lon_max - lon_min > 180.0:
            raise ValueError(_WRAP_MESSAGE.format(pid))
        pids.append(pid)
        boxes.append((lat_min, lat_max, lon_min, lon_max))
    lat_min, lat_max, lon_min, lon_max = np.array(boxes, dtype=np.float64).reshape(-1, 4).T

    def tile(values, fn):
        with np.errstate(invalid="ignore"):
            return np.clip(fn(values, zoom), 0, ntiles - 1).astype(np.int64)

    return {
        "poly_id": np.array(pids, dtype=np.int64),
        "lat_min": lat_min,
        "lat_max": lat_max,
        "lon_min": lon_min,
        "lon_max": lon_max,
        "x0": tile(lon_min, np_tile_x),
        "x1": tile(lon_max, np_tile_x),
        "y0": tile(np.clip(lat_max + 1e-9, -89.0, 89.0), np_tile_y),
        "y1": tile(np.clip(lat_min - 1e-9, -89.0, 89.0), np_tile_y),
    }


def _covering_tiles(bounds: dict[str, np.ndarray], max_rows: int) -> pa.Table | None:
    """One ``TILE_DDL`` row per (polygon, covering tile), with the
    polygon's bbox; ``None`` past ``max_rows`` rows, counted before any
    row is built."""
    per_row = bounds["y1"] - bounds["y0"] + 1
    counts = (bounds["x1"] - bounds["x0"] + 1) * per_row
    if counts.sum() > max_rows:
        return None
    poly = np.repeat(np.arange(len(counts)), counts)
    j = np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)
    return pa.table(
        {
            "poly_id": bounds["poly_id"][poly],
            "xtile": (bounds["x0"][poly] + j // per_row[poly]).astype(np.int32),
            "ytile": (bounds["y0"][poly] + j % per_row[poly]).astype(np.int32),
            **{c: bounds[c][poly] for c in ("lat_min", "lat_max", "lon_min", "lon_max")},
        }
    )


def _driver_pip(
    pts: DataFrame,
    rings_of: dict[int, list[np.ndarray]],
    bounds: dict[str, np.ndarray],
    tiles: pa.Table | None,
    zoom: int,
    nodes: DataFrame,
) -> DataFrame | None:
    """The point-in-polygon answer decided per polygon in numpy by its
    bbox and ``_contains_by_polygon``, or ``None`` when the candidates
    are over the bound, or the (polygon, candidate) pairs in the
    polygons' bboxes are at 8 B a pair: they bound the answer. The
    candidates are the ``session.resident`` copy of ``nodes`` (no job),
    lat/lon as ``fixed / 1e7`` in float64, the division
    ``from_fixed`` makes, and a null coordinate drops out as in Spark;
    else one bounded collect of the (node_id, lat, lon) rows of ``pts``
    in the polygons' covering ``tiles`` (32 B a row,
    ``session.collect_bounded``).

    The answer is a ``local_frame`` of one row per polygon holding its
    node ids as an array, exploded into (poly_id, node_id). A
    LocalRelation ships its rows to the tasks of any action that is not
    a driver-side collect, one serialized row at a time: with a
    1.29M-row flat answer the call and its count cost 8.6-9.4 CPU-s,
    5.7 of them the count; with the exploded one, 1.9-2.2 (ROADMAP
    forks table).

    The tile predicate is one SQL ``IN`` list over the distinct tile
    keys, which Spark plans as an ``InSet``: its code does not grow with
    the polygons (a Column ``isin`` costs a py4j call per key). Past one
    grid row's worth of keys (4096 at z12; parsing the list costs
    ~0.06 ms a key), or when the tile rows are over their bound, the
    tiles' envelope stands in for it."""
    spark = pts.sparkSession
    if not len(bounds["poly_id"]):
        return local_frame(spark, [], RESULT_DDL)
    copy = resident(nodes)
    if copy is not None:
        coords = copy.select(["id", "fixed_lat", "fixed_lon"]).drop_null()
        node_id = coords.column("id").to_numpy()
        lat, lon = (coords.column(c).to_numpy().astype(np.float64) / FIXED_PRECISION_FACTOR for c in ("fixed_lat", "fixed_lon"))
        return _decide(spark, rings_of, bounds, node_id, lat, lon)
    ntiles = 1 << zoom
    keys = None
    if tiles is not None:
        keys = np.unique(
            tiles.column("xtile").to_numpy().astype(np.int64) * ntiles
            + tiles.column("ytile").to_numpy()
        )
    if keys is not None and len(keys) <= ntiles:
        in_tiles = f"xtile * {ntiles} + ytile IN ({','.join(map(str, keys))})"
    else:
        in_tiles = (
            f"xtile BETWEEN {bounds['x0'].min()} AND {bounds['x1'].max()}"
            f" AND ytile BETWEEN {bounds['y0'].min()} AND {bounds['y1'].max()}"
        )
    table = collect_bounded(pts.where(F.expr(in_tiles)).select("node_id", "lat", "lon"))
    if table is None:
        return None
    return _decide(spark, rings_of, bounds, *(c.to_numpy() for c in table.columns))


def _decide(spark, rings_of, bounds, node_id, lat, lon) -> DataFrame | None:
    """``_driver_pip``'s answer over its candidate (node_id, lat, lon)
    arrays, or None when the pairs are over the bound."""
    # each polygon's latitude band is one slice of the candidates sorted
    # by latitude; its longitude range is then tested on that slice only
    by_lat = np.argsort(lat, kind="stable")
    starts = np.searchsorted(lat[by_lat], bounds["lat_min"], side="left")
    ends = np.searchsorted(lat[by_lat], bounds["lat_max"], side="right")
    pids, idx = [], []
    for pid, a, b, lo0, lo1 in zip(bounds["poly_id"], starts, ends, bounds["lon_min"], bounds["lon_max"]):
        ii = by_lat[a:b]
        ii = ii[(lon[ii] >= lo0) & (lon[ii] <= lo1)]
        pids.append(np.full(len(ii), pid))
        idx.append(ii)
    pid, ii = np.concatenate(pids), np.concatenate(idx)
    if len(pid) * 8 > broadcast_threshold(spark):
        return None
    inside = _contains_by_polygon(pid, lat[ii], lon[ii], lambda i: rings_of[int(pid[i])])
    pid, nid = pid[inside], node_id[ii[inside]]
    # pid runs polygon by polygon: each run is one row's array
    heads = np.flatnonzero(np.diff(pid, prepend=pid[:1] - 1)) if len(pid) else np.empty(0, np.int64)
    offsets = pa.array(np.append(heads, len(pid)), pa.int32())
    answer = pa.table({"poly_id": pid[heads], "node_ids": pa.ListArray.from_arrays(offsets, pa.array(nid))})
    return local_frame(spark, answer, ANSWER_DDL).select(
        "poly_id", F.explode("node_ids").alias("node_id")
    )


def _rings_on_rows(pts: DataFrame, polygons: DataFrame, zoom: int):
    """(candidates, membership Column) with the rings riding the
    polygon-tile rows into a SHUFFLE_HASH join: both sides
    hash-exchange on uniform tile keys; left to the planner, a polygon
    side without stats can invert the join and broadcast the corpus."""
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
                F.format_string(_WRAP_MESSAGE.replace("{}", "%s"), F.col("poly_id"))
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
    # 500 polygons over sf-m nodes at 105-120% of the candidate bound:
    # this form cost 127-150 CPU-s where broadcast rings cost 49-53
    # (ROADMAP forks table), so it runs only for polygons or tile rows
    # over the threshold, the size no broadcast form can take
    return (
        pts.join(ptiles.hint("SHUFFLE_HASH"), ["xtile", "ytile"]),
        _contains_rings_udf(F.col("poly_id"), F.col("lat"), F.col("lon"), F.col("rings")),
    )


def points_in_polygons_bucketed(
    nodes: DataFrame, polygons: DataFrame, zoom: int = ZOOM
) -> DataFrame:
    """→ (poly_id, node_id) for every node inside each polygon of
    ``polygons`` (poly_id, rings), the ``polygons_df`` shape.

    Plan shape:

    1. per-polygon bbox from the rings (min/max over all vertices);
    2. each polygon's covering z``zoom`` tiles, from its bbox;
    3. where it runs follows the size rule of every driver-or-cluster
       choice in the engine (``session.collect_bounded``), the first
       form that fits:

       * the driver: the polygons fit under
         ``spark.sql.autoBroadcastJoinThreshold`` (``_driver_polygons``:
         rows, and their ring vertices at 16 B each), and so do the
         nodes in their covering tiles (32 B a row) and the (polygon,
         node) pairs in the polygons' bboxes (8 B, ``_driver_pip``):
         the resident copy of cached ``nodes``, else one bounded
         collect of those nodes, on the driver, numpy keeps each
         polygon's bbox and the shared ray-cast kernel decides the
         rest; the result is a LocalRelation of one row per polygon
         with its node ids as an array, exploded. Over a
         ``polygons_df`` frame the polygons come without a job, so the
         call runs none over loaded cached nodes and one otherwise;
       * broadcast rings: the polygons fit, their candidate nodes or
         pairs do not (that collect is spent) and the polygon-tile
         rows built on the driver (``TILE_DDL``) do: points compute
         their own (xtile, ytile) and equi-join a ``local_frame`` of the
         tile rows, which the planner broadcasts by its exact size (no
         point shuffles), and the rings ship once per executor as a
         Spark broadcast variable. Just over the candidate bound this
         form took 49-53 CPU-s where rings on rows took 127-150
         (ROADMAP forks table);
       * rings on rows (``_rings_on_rows``): the rings ride the
         polygon-tile rows into a SHUFFLE_HASH join. When the polygons
         fit and only their tile rows do not, the polygon side is a
         ``local_frame`` of the rows already collected;
    4. on the Spark side, a Column predicate drops candidates outside
       the polygon's own bbox in the join's codegen stage, then the
       ray-cast kernel (``_contains_by_polygon``) decides the rest per
       Arrow batch.

    Exactness: bbox-covering tiles ⊇ polygon tiles and a point outside
    every covering tile cannot be inside, so the tiles only ever prune
    true negatives; the kernel decides the rest. Each point has exactly
    one tile and a polygon covers a tile at most once → no dup pairs.

    Limits (documented, asserted): polygons crossing the antimeridian
    are not supported (split them into two rings); the driver path
    raises ``ValueError`` at the call, the Spark side the same message
    at the action. Latitudes beyond the Web-Mercator range clamp onto
    the edge tile rows, where the kernel still decides exactly. Skew:
    a huge polygon's candidates spread over its many covering tiles
    (per-tile buckets), so no single task sees the whole polygon's
    point load; very-high-vertex polygons pay ring duplication per
    covering tile on the Spark side — clip rings per tile at that
    scale.
    """
    ntiles = 1 << zoom

    def clamp(c):
        return F.greatest(F.least(c, F.lit(ntiles - 1)), F.lit(0))

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
    spark = polygons.sparkSession
    cand = None
    collected = _driver_polygons(polygons)
    if collected is not None:
        rows, rings_of = collected
        bounds = _polygon_bounds(rings_of, zoom)
        tiles = _covering_tiles(bounds, broadcast_threshold(spark) // row_bytes(spark, TILE_DDL))
        out = _driver_pip(pts, rings_of, bounds, tiles, zoom, nodes)
        if out is not None:
            return out
        if tiles is None:
            polygons = local_frame(spark, rows, POLYGON_DDL)
        else:
            bc = spark.sparkContext.broadcast(rings_of)

            @F.arrow_udf(T.BooleanType())
            def contains_bc(poly_id: pa.Array, lat: pa.Array, lon: pa.Array) -> pa.Array:
                by_pid, pid = bc.value, poly_id.to_numpy()
                inside = _contains_by_polygon(
                    pid, lat.to_numpy(), lon.to_numpy(), lambda i: by_pid[int(pid[i])]
                )
                return pa.array(inside)

            cand = pts.join(local_frame(spark, tiles, TILE_DDL), ["xtile", "ytile"])
            contains = contains_bc(F.col("poly_id"), F.col("lat"), F.col("lon"))
    if cand is None:
        cand, contains = _rings_on_rows(pts, polygons, zoom)
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

