"""k-nearest-neighbor search over nodes (engine addition; the
reference has no kNN — BASELINE.json north_star mandates "kNN via
iterative k-ring expansion" over the tile grid).

Two strategies, both exact:

* ``knn_brute_force`` — cross-join query points (broadcast: there are
  few) against all nodes, haversine in pure Column expressions
  (codegen), per-query top-k via window. O(Q·N) — the correctness
  baseline and fine when Q is small.

* ``knn_kring`` — the scale path: ONE round per ring expansion over
  the whole *frontier* of unsatisfied queries (the same frontier
  discipline as the relation closure in operators/extract) — never a
  per-query Spark job. Ring radii double per round, so a query that
  terminates at radius R has scanned ≤ 4/3 · (2R+1)² tiles total
  (geometric series). Where a round runs and where its results
  accumulate follow the size rule of every driver-or-cluster choice in
  the engine (``session.collect_bounded``), in three modes:

  1. *Driver rounds* — while the k·Q result rows fit under
     ``spark.sql.autoBroadcastJoinThreshold`` (32 B a row as Spark
     sizes it: ~210k queries at k=10 and the 64 MiB session default)
     and the round's candidate nodes fit too (40 B a tiled-store row:
     1.68M), numpy ranks each ring of a strip round
     (``_driver_round``). A cached ``tiled`` store held by
     ``session.resident`` is ranked as it is, and a call runs no job;
     else a round is one bounded collect of the store rows in the
     frontier's rings. That filter is the OR of the rings' windows
     while there are at most ``RING_WINDOWS_MAX``, else an InSet of
     their tile keys while there are at most ``RING_KEYS_MAX``; past
     both, that round runs in Spark with nothing spent
     (``_ring_predicate``). The result is a LocalRelation.
  2. *Spark rounds, driver accumulation* — the first round whose
     candidates are over (that collect is spent), every later round of
     the call, and the coarse-cell rounds: each round broadcasts a
     (query_id, xtile-strip) table (or coarse cells) and hash-joins it
     against the tile-keyed node store, so per-node cost is one hash
     probe regardless of frontier size and never a broadcast-nested-
     loop over range predicates; a window ranks each query, and the
     round's top-k rows come to the driver as one Arrow table.
  3. *Executor accumulation* — past the results' bound every result
     slice stays persisted ON THE EXECUTORS: the driver exchanges only
     Q control rows per round (stats up, satisfied ids down) and the
     returned DataFrame is the union of the cached round frames, so an
     offline Q=10⁶ batch never funnels k·Q result rows through one
     process.

Exactness guard: a query stops expanding only when it has k hits AND
its k-th distance is ≤ a proven LOWER bound on the distance to any
point outside the explored ring. North/south ring edges bound by the
meridian distance to the bounding parallel; east/west edges by the
meridian CROSS-TRACK distance R·asin(cos(qlat)·sin(Δλ)) — the
same-latitude haversine overstates the minimum (the closest point of
a meridian lies poleward), which at large radii/high latitudes could
stop the loop while a closer node exists outside the ring.

At 100 TB the node store is the Hilbert-range-partitioned table built
by operators/indexes (one tile ↦ one partition range), so the strip
hash-join's build side is the broadcast and the probe side streams
straight off the columnar scan; storage-level pruning comes from the
frontier's global tile bounding box pushed down as a min/max predicate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_lib_spark.functions.geo import EARTH_RADIUS_M, from_fixed, haversine_m, np_haversine_m
from osm_lib_spark.functions.tiles import NTILES, np_tile_bbox, np_tile_x, np_tile_y
from osm_lib_spark.session import broadcast_threshold, collect_bounded, local_frame, resident, row_bytes

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _nodes_with_coords(nodes: DataFrame) -> DataFrame:
    return nodes.select(
        F.col("id").alias("node_id"),
        from_fixed(F.col("fixed_lat")).alias("lat"),
        from_fixed(F.col("fixed_lon")).alias("lon"),
    )


def _ranked(cand: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of (query_id, node_id, dist_m) candidates by
    (distance, node_id), ranked from 1: ties broken by id."""
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("node_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "node_id", "dist_m")
    )


def knn_brute_force(
    nodes: DataFrame, query_points: list[tuple[int, float, float]], k: int = 10
) -> DataFrame:
    """Exact kNN: broadcast the query points, score every node.

    The cross join is broadcast-nested-loop with the tiny side
    broadcast; distance math is whole-stage-codegen Column expressions
    (no Python). Output: (query_id, rank, node_id).
    """
    spark = nodes.sparkSession
    q = local_frame(spark, query_points, "query_id int, qlat double, qlon double")
    coords = _nodes_with_coords(nodes)
    joined = coords.crossJoin(q).select(
        "query_id",
        "node_id",
        haversine_m(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon")).alias(
            "dist_m"
        ),
    )
    return _ranked(joined, k).drop("dist_m")


def _min_dist_beyond_ring(qlat: float, qlon: float, qx: int, qy: int, radius: int) -> float:
    """Lower bound on haversine distance to any point OUTSIDE the ring
    of Chebyshev ``radius`` tiles around (qx, qy).

    Any point outside the ring lies either north of the ring's top
    parallel, south of its bottom parallel, or beyond one of its two
    boundary meridians. The bound is the min over the applicable edges:

    * parallels: great-circle distance along the query's own meridian
      (exact — the nearest point of a parallel is due north/south);
    * meridians: cross-track distance R·asin(cos(qlat)·sin(Δλ)) — any
      great-circle path from the query (inside the ring's longitude
      interval) to a point outside it crosses a boundary meridian, and
      the cross-track distance lower-bounds the distance to that
      meridian's full great circle. (The same-latitude haversine
      2R·asin(cos·sin(Δλ/2)) OVERSTATES the minimum and is unsafe.)

    Returns ``inf`` when the ring covers the whole grid (nothing is
    outside), letting the caller terminate even with < k total nodes.
    """
    x_covered = 2 * radius + 1 >= NTILES
    y_top_open = qy - radius > 0
    y_bot_open = qy + radius < NTILES - 1

    bounds: list[float] = []
    if y_top_open:
        north, _, _, _ = np_tile_bbox(np.array([qx]), np.array([qy - radius]))
        bounds.append(float(np_haversine_m(qlat, qlon, float(north[0]), qlon)))
    if y_bot_open:
        _, south, _, _ = np_tile_bbox(np.array([qx]), np.array([qy + radius]))
        bounds.append(float(np_haversine_m(qlat, qlon, float(south[0]), qlon)))
    if not x_covered:
        # wrap-aware boundary meridians: west edge of the ring's western
        # tile column, east edge of its eastern tile column
        wx = (qx - radius) % NTILES
        ex = (qx + radius) % NTILES
        _, _, _, west_lon = np_tile_bbox(np.array([wx]), np.array([qy]))
        _, _, east_lon, _ = np_tile_bbox(np.array([ex]), np.array([qy]))
        for edge_lon in (float(west_lon[0]), float(east_lon[0])):
            dlon = abs(math.radians(edge_lon - qlon)) % (2.0 * math.pi)
            dlon = min(dlon, 2.0 * math.pi - dlon)  # ∈ [0, π]
            ct = EARTH_RADIUS_M * math.asin(
                min(1.0, abs(math.cos(math.radians(qlat)) * math.sin(dlon)))
            )
            bounds.append(ct)
    if not bounds:
        return math.inf
    return min(bounds)


def _frontier_strips(spark, frontier: list[dict]) -> DataFrame:
    """Frontier → one row per (query, xtile column in its ring).

    The strip table is the broadcast build side of a HASH join on
    xtile (wrap-aware via modulo), carrying the query's y-range and
    coordinates; per-node probe cost is O(1) in the frontier size.
    """
    rows = []
    for f in frontier:
        r = f["radius"]
        if 2 * r + 1 >= NTILES:
            xs = range(NTILES)
        else:
            xs = ((f["qx"] + dx) % NTILES for dx in range(-r, r + 1))
        ymin = max(f["qy"] - r, 0)
        ymax = min(f["qy"] + r, NTILES - 1)
        for x in xs:
            rows.append((f["query_id"], int(x), ymin, ymax, f["qlat"], f["qlon"]))
    return local_frame(
        spark, rows, "query_id int, xtile int, ymin int, ymax int, qlat double, qlon double"
    )


def _strip_candidates(spark, probe: DataFrame, frontier: list[dict]) -> DataFrame:
    """(query_id, node_id, dist_m) of every node in each frontier
    query's ring: the tile-keyed store hash-joins the broadcast strip
    table on xtile, then keeps the strip's y-range."""
    return (
        probe.join(_frontier_strips(spark, frontier), "xtile")
        .where(F.col("ytile").between(F.col("ymin"), F.col("ymax")))
        .select(
            "query_id",
            "node_id",
            haversine_m(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon")).alias(
                "dist_m"
            ),
        )
    )


def _ring_window(f: dict) -> tuple[int, int, int]:
    """A frontier query's ring as (x0, y0, y1): its tiles have
    pmod(xtile - x0, NTILES) ≤ 2·radius (wrap-aware, as in
    ``_coarse_cell_candidates``) and y0 ≤ ytile ≤ y1."""
    r = f["radius"]
    return f["qx"] - r, max(f["qy"] - r, 0), min(f["qy"] + r, NTILES - 1)


STORE_COLUMNS = ["node_id", "lat", "lon", "xtile", "ytile"]

# a driver round's predicate: the OR of the ring windows while they
# are few (on sf-m nodes 32 windows cost what an InSet does, 64 fell
# out of whole-stage codegen and cost 12x), else an InSet of the rings'
# tile keys while they are at most this many (parsing the list costs
# ~0.06 ms a key); past both the round runs in Spark
RING_WINDOWS_MAX = 32
RING_KEYS_MAX = 16384


def _ring_predicate(frontier: list[dict]) -> str | None:
    """The SQL predicate that keeps exactly the store rows in the
    frontier's rings, or ``None`` when neither form is cheap. One SQL
    string: a Column built per window or key costs a py4j call per
    literal."""
    windows = set()
    for f in frontier:
        x0, y0, y1 = _ring_window(f)
        w = f"ytile BETWEEN {y0} AND {y1}"
        if 2 * f["radius"] + 1 < NTILES:
            w += f" AND pmod(xtile - ({x0}), {NTILES}) <= {2 * f['radius']}"
        windows.add(f"({w})")
    if len(windows) <= RING_WINDOWS_MAX:
        return " OR ".join(sorted(windows))
    spans = [(_ring_window(f), min(2 * f["radius"] + 1, NTILES)) for f in frontier]
    if sum(width * (y1 - y0 + 1) for (_, y0, y1), width in spans) > RING_KEYS_MAX:
        return None
    keys = np.unique(
        np.concatenate(
            [
                (((x0 + np.arange(width)) % NTILES)[:, None] * NTILES + np.arange(y0, y1 + 1)).ravel()
                for (x0, y0, y1), width in spans
            ]
        )
    )
    return f"xtile * {NTILES} + ytile IN ({','.join(map(str, keys))})"


def _driver_round(
    candidates: DataFrame | pa.Table, frontier: list[dict], k: int
) -> tuple[pa.Table, dict[int, tuple[int, float]]] | None:
    """One strip round on the driver: numpy ranks each query's ring by
    (distance, node_id) with the oracle's haversine. ``candidates`` is
    the resident tiled store (``session.resident``: no job), or the
    store rows in the frontier's rings (the store filtered by
    ``_ring_predicate``), which come back in one bounded collect (40 B
    a row, ``session.collect_bounded``). → (the round's top table, as
    ``_ranked`` gives it, and per-query (rows, k-th distance) stats), or
    ``None`` when the collected candidates are over the bound."""
    if isinstance(candidates, DataFrame):
        candidates = collect_bounded(candidates.select(*STORE_COLUMNS))
        if candidates is None:
            return None
    # a null tile or coordinate is in no ring, as in Spark
    node_id, lat, lon, xtile, ytile = (c.to_numpy() for c in candidates.select(STORE_COLUMNS).drop_null().columns)
    # a ring is one slice per tile column of the rows sorted by tile key
    key = xtile.astype(np.int64) * NTILES + ytile
    order = np.argsort(key, kind="stable")
    key = key[order]
    qids, ranks, picks, dists, stats = [], [], [], [], {}
    for f in frontier:
        x0, y0, y1 = _ring_window(f)
        columns = (x0 + np.arange(min(2 * f["radius"] + 1, NTILES))) % NTILES * NTILES
        lo, hi = np.searchsorted(key, columns + y0, "left"), np.searchsorted(key, columns + y1, "right")
        n = hi - lo
        ii = order[np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())]
        dist = np_haversine_m(f["qlat"], f["qlon"], lat[ii], lon[ii])
        top = np.lexsort((node_id[ii], dist))[:k]
        if len(top):
            stats[f["query_id"]] = (len(top), float(dist[top[-1]]))
        qids.append(np.full(len(top), f["query_id"], dtype=np.int32))
        ranks.append(np.arange(1, len(top) + 1, dtype=np.int32))
        picks.append(ii[top])
        dists.append(dist[top])
    top = pa.table(
        {
            "query_id": np.concatenate(qids),
            "rank": np.concatenate(ranks),
            "node_id": node_id[np.concatenate(picks)],
            "dist_m": np.concatenate(dists),
        }
    )
    return top, stats


STRIP_SWITCH_ROWS = 8192  # strip rows above which a round joins on coarse cells
# batches above this many queries cache an ad-hoc tiled projection
CACHE_MIN_QUERIES = 1024
# one round's top-k row as the driver collects it
RANKED_DDL = "query_id int, rank int, node_id long, dist_m double"


def _coarse_cell_candidates(spark, probe: DataFrame, frontier: list[dict]) -> DataFrame:
    """Large-Q/large-ring rounds: the per-(query, xtile-column) strip
    table grows as Q·(2r+1) rows; thousands of queries with wide rings
    bloat the broadcast. Instead, cover each ring with ancestor cells in
    the functions/cells layout at a per-query zoom where the ring spans
    ≤3 cells per axis — ≤9 build rows per query REGARDLESS of radius —
    and equi-join nodes on their (exploded, one per distinct zoom this
    round) ancestor cell.

    Cells only BLOCK; a post-join tile predicate then restricts
    candidates to EXACTLY the query's ring (same membership as the
    strip path) before anything shuffles. Without it the cell coverage
    is up to a ~9× superset of the ring area, and in clustered data
    that superset flooded the per-query top-k window with tens of
    millions of rows — measured 19s for ONE 1000-query round at sf0.1;
    with the ring filter (map-side, same codegen stage as the broadcast
    probe) the round is a few hundred ms. Exactness is unchanged
    either way — membership now equals the ring, and termination is
    gated by the ring's distance bound.
    """
    from osm_lib_spark.functions.tiles import ZOOM

    rows = []
    zoom_dz: dict[int, int] = {}
    for f in frontier:
        r = f["radius"]
        span = min(2 * r + 1, NTILES)
        dz = min(span.bit_length() - 1, ZOOM)  # 2^dz ∈ (span/2, span]
        zc = ZOOM - dz
        step = 1 << dz
        ncells = NTILES >> dz
        if 2 * r + 1 >= NTILES:
            cxs = list(range(ncells))
        else:
            ax0 = (f["qx"] - r) // step
            ax1 = (f["qx"] + r) // step
            cxs = sorted({ax % ncells for ax in range(ax0, ax1 + 1)})
        ay0 = max(f["qy"] - r, 0) // step
        ay1 = min(f["qy"] + r, NTILES - 1) // step
        zoom_dz[zc] = dz
        for cx in cxs:
            for cy in range(ay0, ay1 + 1):
                cell = (zc << 58) | (cx << 29) | cy
                rows.append(
                    (f["query_id"], cell, f["qlat"], f["qlon"], f["qx"], f["qy"], r)
                )
    cells_df = local_frame(
        spark,
        rows,
        "query_id int, cell long, qlat double, qlon double, qx int, qy int, radius int",
    )
    # one ancestor cell per distinct round zoom (radii grow in powers,
    # so this is 1-3 values, not Q values)
    cell_exprs = [
        F.shiftleft(F.lit(zc).cast("long"), 58)
        .bitwiseOR(F.shiftleft(F.shiftright(F.col("xtile").cast("long"), dz), 29))
        .bitwiseOR(F.shiftright(F.col("ytile").cast("long"), dz))
        for zc, dz in sorted(zoom_dz.items())
    ]
    probed = probe.withColumn("cell", F.explode(F.array(*cell_exprs)))
    two_r = F.col("radius") * 2
    in_x = (two_r + 1 >= F.lit(NTILES)) | (
        F.pmod(F.col("xtile") - (F.col("qx") - F.col("radius")), F.lit(NTILES)) <= two_r
    )
    in_y = F.col("ytile").between(
        F.greatest(F.col("qy") - F.col("radius"), F.lit(0)),
        F.least(F.col("qy") + F.col("radius"), F.lit(NTILES - 1)),
    )
    return (
        probed.join(cells_df, "cell")
        .where(in_x & in_y)
        .select(
            "query_id",
            "node_id",
            haversine_m(F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon")).alias(
                "dist_m"
            ),
        )
    )


def tiled_node_store(nodes: DataFrame) -> DataFrame:
    """(node_id, lat, lon, xtile, ytile): the tile-keyed node table the
    k-ring search probes. Build once per dataset (at 100 TB this is the
    Hilbert-partitioned store from operators/indexes, not an ad-hoc
    projection) and pass to ``knn_kring`` via ``tiled=`` so repeated
    query batches skip the re-tiling scan. Polar outliers clamp onto
    the edge rows so ring expansion reaches them."""
    from osm_lib_spark.functions.tiles import tile_y_col

    return (
        _nodes_with_coords(nodes)
        .withColumn(
            "xtile",
            F.pmod(
                F.floor((F.col("lon") + 180.0) / 360.0 * NTILES).cast("int"),
                F.lit(NTILES),
            ),
        )
        .withColumn(
            "ytile",
            F.least(F.greatest(tile_y_col(F.col("lat")), F.lit(0)), F.lit(NTILES - 1)),
        )
    )


def knn_kring(
    nodes: DataFrame | None,
    query_points: list[tuple[int, float, float]],
    k: int = 10,
    initial_ring: int | None = None,
    tiled: DataFrame | None = None,
    est_n_nodes: int | None = None,
) -> DataFrame:
    """Exact kNN via batched iterative k-ring expansion.

    One Spark job per expansion ROUND (not per query): all unsatisfied
    queries share one bounded collect of their ring windows, or one
    join of the tile-keyed store with a broadcast strip table;
    satisfied queries leave the frontier. Results match
    ``knn_brute_force`` exactly (asserted in tests and oracle-gated as
    ``osm_knn_kring`` against an independent SQL brute force).

    ``tiled`` (from ``tiled_node_store``, ideally persisted): skip the
    per-call tiling scan — the steady-state serving path. With
    ``tiled`` supplied, ``nodes`` may be None (a serving layer reads
    only the persisted store).

    Rounds whose strip table would exceed ``STRIP_SWITCH_ROWS`` rows
    (Q·(2r+1) growth — thousands of queries with wide rings) switch to
    the coarse-cell ancestor equi-join (``_coarse_cell_candidates``):
    O(Q) broadcast rows regardless of radius, same exact results.

    ``initial_ring``: starting Chebyshev radius; None (default) derives
    it from global node density when ``est_n_nodes`` is supplied, else
    1. The derivation holds the FIRST ROUND's expected candidate volume
    roughly constant: r_unif is the radius at which a uniform corpus
    puts ~2k nodes in one query's ring, and the span shrinks by
    √(Q_REF/Q) so Q queries together still scan ~2k·Q_REF expected
    candidates — a small interactive batch starts near its terminal
    radius (each round is a fixed Spark job; measured 3.1→2.0s at
    Q=5/sf0.1), while a 1000-query batch starts at 1 (per-round cost
    there is CANDIDATE VOLUME, and clustered data makes local density
    ≫ global — starting wide cost 21s/round vs 5s at r=1; dense
    queries retire from the frontier after one cheap round anyway).
    EXACTNESS is untouched in all cases — termination is gated by the
    ring distance bound. Callers that know the corpus size (benches,
    serving layers with table stats) should pass ``est_n_nodes``.

    Rounds and results follow the engine's one size rule (the three
    modes of the module docstring): while the k·Q result rows
    (``RANKED_DDL``, sized by ``session.row_bytes``) fit under
    ``spark.sql.autoBroadcastJoinThreshold``, each strip round ranks
    its candidate nodes in numpy, read from the resident copy of a
    cached ``tiled`` store with no job, else collected, one job a
    round, until a round's candidates are over; from then on each round ranks in
    Spark and collects its top-k as one Arrow table. The result is a
    LocalRelation either way. Past the results' bound (or at a
    threshold ≤ 0) every result slice stays persisted ON THE EXECUTORS
    and the returned DataFrame is the union of the cached round frames.
    Either way, a batch of more than ``CACHE_MIN_QUERIES`` queries
    without a ``tiled`` store caches its own tiled projection.
    """
    if nodes is None and tiled is None:
        raise ValueError("knn_kring needs nodes or a tiled store")
    spark = (nodes if tiled is None else tiled).sparkSession
    if initial_ring is None:
        if est_n_nodes and est_n_nodes > 0:
            density = est_n_nodes / float(NTILES * NTILES)  # nodes per tile
            span_unif = math.sqrt(2.0 * k / max(density, 1e-12))
            q_ref = 8.0
            span = span_unif * math.sqrt(q_ref / max(len(query_points), 1))
            initial_ring = min(max(int(math.ceil((span - 1.0) / 2.0)), 1), 64)
        else:
            initial_ring = 1
    collect_mode = len(query_points) * k * row_bytes(spark, RANKED_DDL) <= broadcast_threshold(
        spark
    )
    # Cache the ad-hoc tiled projection only for LARGE batches: a small
    # interactive batch runs 1-3 rounds, and materializing a full node
    # cache costs more than the rounds' re-derivation of the (cheap,
    # columnar) tile columns from the upstream table. Serving layers
    # pass a persisted ``tiled=`` store and skip this entirely.
    own_cache = tiled is None and len(query_points) > CACHE_MIN_QUERIES
    coords = tiled if tiled is not None else tiled_node_store(nodes)
    if own_cache:
        coords = coords.cache()

    frontier = [
        dict(
            query_id=int(qid),
            qlat=float(qlat),
            qlon=float(qlon),
            qx=int(np_tile_x(np.array([qlon]))[0]) % NTILES,
            qy=min(max(int(np_tile_y(np.array([qlat]))[0]), 0), NTILES - 1),
            radius=max(int(initial_ring), 1),
        )
        for qid, qlat, qlon in query_points
    ]
    driver_rounds = collect_mode
    # a cached store held on the driver: every driver round reads it, no job
    store = resident(tiled) if collect_mode and tiled is not None else None
    parts: list[DataFrame] = []
    tables: list[pa.Table] = []  # satisfied top-k rows (small-Q mode)
    round_frames: list[DataFrame] = []  # persisted per-round top-k (large-Q mode)

    # the finally releases every persisted round frame (and the own
    # coords cache) on success AND on error: a long-lived serving
    # session must not accumulate caches without bound
    try:
        while frontier:
            # coarse prefilter: the frontier's global tile bounding box as
            # PLAIN column predicates — these push down to parquet row-group
            # stats / in-memory batch pruning, which the join condition
            # cannot; skipped when any ring wraps the antimeridian
            probe = coords
            if all(2 * f["radius"] + 1 < NTILES and f["qx"] - f["radius"] >= 0
                   and f["qx"] + f["radius"] < NTILES for f in frontier):
                gx0 = min(f["qx"] - f["radius"] for f in frontier)
                gx1 = max(f["qx"] + f["radius"] for f in frontier)
                gy0 = min(max(f["qy"] - f["radius"], 0) for f in frontier)
                gy1 = max(min(f["qy"] + f["radius"], NTILES - 1) for f in frontier)
                probe = coords.where(
                    F.col("xtile").between(gx0, gx1) & F.col("ytile").between(gy0, gy1)
                )
            est_strip_rows = sum(min(2 * f["radius"] + 1, NTILES) for f in frontier)
            found = candidates = None
            if driver_rounds and est_strip_rows <= STRIP_SWITCH_ROWS:
                candidates = store
                if store is None and (predicate := _ring_predicate(frontier)) is not None:
                    candidates = probe.where(F.expr(predicate))
            if candidates is not None:
                # over the bound this round's collect is spent and every
                # later round runs in Spark: at most one spent collect a call
                found = _driver_round(candidates, frontier, k)
                driver_rounds = found is not None
            if found is not None:
                top, stats = found
            else:
                if est_strip_rows > STRIP_SWITCH_ROWS:
                    cand = _coarse_cell_candidates(spark, probe, frontier)
                else:
                    cand = _strip_candidates(spark, probe, frontier)
                ranked = _ranked(cand, k)
                if collect_mode:
                    # the queries' own ≤ k·|frontier|-row top-k comes
                    # to the driver directly as one Arrow table
                    top = ranked.toArrow()
                    agg = top.group_by("query_id").aggregate(
                        [("rank", "count"), ("dist_m", "max")]
                    )
                    stats = dict(
                        zip(
                            agg["query_id"].to_pylist(),
                            zip(agg["rank_count"].to_pylist(), agg["dist_m_max"].to_pylist()),
                        )
                    )
                else:
                    # large batch: the top-k PERSISTS executor-side and the
                    # stats aggregate is the one materializing action: the
                    # driver collects ONLY per-query (count, k-th distance)
                    # control rows. Frames
                    # stay persisted (k·Q rows per round; eviction merely
                    # recomputes deterministically from lineage).
                    ranked = ranked.persist()
                    round_frames.append(ranked)
                    stats = {
                        r["query_id"]: (int(r["n"]), float(r["kth"]))
                        for r in ranked.groupBy("query_id")
                        .agg(F.count("*").alias("n"), F.max("dist_m").alias("kth"))
                        .collect()
                    }

            next_frontier = []
            satisfied_ids: list[int] = []
            for f in frontier:
                n_rows, kth = stats.get(f["query_id"], (0, math.inf))
                bound = _min_dist_beyond_ring(
                    f["qlat"], f["qlon"], f["qx"], f["qy"], f["radius"]
                )
                covered_all = math.isinf(bound)
                if covered_all or (n_rows >= k and kth <= bound):
                    satisfied_ids.append(f["query_id"])
                else:
                    # deficit-adaptive growth: each round costs a fixed
                    # Spark job, so sparse regions jump harder (×8 on an
                    # empty ring, ×4 while short of k) and only the final
                    # bound-tightening rounds double. Exactness is
                    # untouched — termination is gated by the distance
                    # bound, never by the growth schedule.
                    growth = 2 if n_rows >= k else (4 if n_rows else 8)
                    f["radius"] = min(f["radius"] * growth, NTILES)
                    next_frontier.append(f)
            if satisfied_ids and collect_mode:
                done = pc.is_in(top["query_id"], value_set=pa.array(satisfied_ids, pa.int32()))
                tables.append(top.filter(done).select(["query_id", "rank", "node_id"]))
            elif satisfied_ids:
                # slice this round's satisfied results out of the cached
                # frame, executor-side, by a semi-join on a local_frame of
                # their ids (the planner broadcasts it by its exact size)
                sat = local_frame(spark, [(int(q),) for q in satisfied_ids], "query_id int")
                sliced = ranked.join(sat, "query_id", "left_semi")
                parts.append(sliced.select("query_id", "rank", "node_id"))
            frontier = next_frontier

        if collect_mode or not parts:
            rows = pa.concat_tables(tables, promote_options="default") if tables else []
            return local_frame(spark, rows, "query_id int, rank int, node_id long")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # materialize the union ONCE executor-side (k·Q rows); the
        # checkpointed result no longer references the round frames' lineage
        return out.localCheckpoint(eager=True)
    finally:
        if own_cache:
            coords.unpersist()
        for rf in round_frames:
            rf.unpersist()
