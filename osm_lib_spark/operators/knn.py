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
  (geometric series). Every round ranks with one numpy kernel
  (``_rank_rings``: the oracle's haversine, ties by node id); where it
  runs and where the results accumulate follow the size rule of every
  driver-or-cluster choice in the engine (k·Q result rows at 32 B
  against ``spark.sql.autoBroadcastJoinThreshold``: ~210k queries at
  k=10 and the 64 MiB session default), in three modes:

  1. *Driver rounds* — a cached ``tiled`` store held by
     ``session.resident`` is ranked as it is on the driver, and a call
     runs no job.
  2. *Partition rounds, driver accumulation* — otherwise, while the
     results fit, a round is one Arrow UDF job over the store rows in
     the frontier's bounding box (and rings, ``_ring_predicate``):
     each task ranks its rows once and keeps k rows a query
     (``_partition_round``), and the driver merges the tasks' tops.
     The result is a LocalRelation.
  3. *Executor accumulation* — past the results' bound the tasks' tops
     are ranked by a window and every result slice stays persisted ON
     THE EXECUTORS: the driver exchanges only Q control rows per round
     (stats up, satisfied ids down) and the returned DataFrame is the
     union of the cached round frames, so an offline Q=10⁶ batch never
     funnels k·Q result rows through one process.

Exactness guard: a query stops expanding only when it has k hits AND
its k-th distance is ≤ a proven LOWER bound on the distance to any
point outside the explored ring. North/south ring edges bound by the
meridian distance to the bounding parallel; east/west edges by the
meridian CROSS-TRACK distance R·asin(cos(qlat)·sin(Δλ)) — the
same-latitude haversine overstates the minimum (the closest point of
a meridian lies poleward), which at large radii/high latitudes could
stop the loop while a closer node exists outside the ring.

At 100 TB the node store is the Hilbert-range-partitioned table built
by operators/indexes (one tile ↦ one partition range): a partition
round streams straight off the columnar scan, the frontier's arrays
ride the task closure, and storage-level pruning comes from the
frontier's global tile bounding box pushed down as a min/max predicate.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_lib_spark.functions.geo import EARTH_RADIUS_M, from_fixed, haversine_m, np_haversine_m
from osm_lib_spark.functions.tiles import NTILES, np_tile_bbox, np_tile_x, np_tile_y, tile_y_col
from osm_lib_spark.operators.similarity import _top
from osm_lib_spark.session import broadcast_threshold, local_frame, resident, row_bytes

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
    (distance, node_id), ranked from 1: ties broken by id. A candidate
    without a distance (a node without coordinates) is no neighbour."""
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("node_id").asc())
    return (
        cand.where(F.col("dist_m").isNotNull())
        .withColumn("rank", F.row_number().over(w))
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


def _ring_window(f: dict) -> tuple[int, int, int]:
    """A frontier query's ring as (x0, y0, y1): its tiles have
    pmod(xtile - x0, NTILES) ≤ 2·radius (wrap-aware) and
    y0 ≤ ytile ≤ y1."""
    r = f["radius"]
    return f["qx"] - r, max(f["qy"] - r, 0), min(f["qy"] + r, NTILES - 1)


STORE_COLUMNS = ["node_id", "lat", "lon", "xtile", "ytile"]

# a partition round's ring filter: the OR of the ring windows while
# they are few (on sf-m nodes 32 windows cost what an InSet does, 64
# fell out of whole-stage codegen and cost 12x), else an InSet of the
# rings' tile keys while they are at most this many (parsing the list
# costs ~0.06 ms a key); past both the round reads the bounding box
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


def _ring_rows(coords: DataFrame, frontier: list[dict]) -> DataFrame:
    """The store rows a partition round reads: the frontier's global
    tile bounding box as PLAIN column predicates, which push down to
    parquet row-group stats and in-memory batch pruning (skipped when
    any ring wraps the antimeridian), ANDed with the rings' own filter
    while ``_ring_predicate`` offers one."""
    probe = coords
    if all(2 * f["radius"] + 1 < NTILES and f["qx"] - f["radius"] >= 0
           and f["qx"] + f["radius"] < NTILES for f in frontier):
        gx0 = min(f["qx"] - f["radius"] for f in frontier)
        gx1 = max(f["qx"] + f["radius"] for f in frontier)
        gy0 = min(max(f["qy"] - f["radius"], 0) for f in frontier)
        gy1 = max(min(f["qy"] + f["radius"], NTILES - 1) for f in frontier)
        probe = coords.where(F.col("xtile").between(gx0, gx1) & F.col("ytile").between(gy0, gy1))
    if (predicate := _ring_predicate(frontier)) is not None:
        probe = probe.where(F.expr(predicate))
    return probe


# batches above this many queries cache an ad-hoc tiled projection
CACHE_MIN_QUERIES = 1024
# one round's top-k row as the driver collects it
RANKED_DDL = "query_id int, rank int, node_id long, dist_m double"
# a partition round's value for each store row: the queries whose first
# k of its task's rows it is among
TOPS_TYPE = "array<struct<query_id:int,dist_m:double>>"
# candidate rows ``_rank_rings`` ranks at once (whole queries, ~120 B
# of numpy temporaries a row): a wide frontier never holds all its
# rings' rows together
RANK_CHUNK_ROWS = 1 << 20


def _sorted_store(table: pa.Table) -> tuple[np.ndarray, ...]:
    """(tile key, node_id, lat, lon, row) arrays of a tiled-store
    table's rows, sorted by tile key ``xtile * NTILES + ytile`` so a
    ring is one slice per tile column; ``row`` is each one's position in
    ``table``. A row with a null column is in no ring."""
    valid = np.all([c.is_valid().to_numpy(zero_copy_only=False) for c in table.select(STORE_COLUMNS).columns], axis=0)
    row = np.flatnonzero(valid)
    node_id, lat, lon, xtile, ytile = (c.to_numpy() for c in table.select(STORE_COLUMNS).filter(valid).columns)
    key = xtile.astype(np.int64) * NTILES + ytile
    order = np.argsort(key)
    return key[order], node_id[order], lat[order], lon[order], row[order]


def _rank_rings(store: tuple[np.ndarray, ...], fr: dict[str, np.ndarray], k: int):
    """(query_id, store row, dist_m) arrays of the first ``k`` rows of
    each frontier query's ring in ``store`` (``_sorted_store``'s
    arrays, indexed by the store rows), by (distance, node_id) with the
    oracle's haversine: every (query, ring tile column) pair, its rows
    found by two searchsorted calls, then one lexsort
    (``similarity._top``) per chunk of whole queries over the rows that
    can be among their query's first k. The driver's rounds and every
    task of a partition round rank with it."""
    key, node_id, lat, lon, _ = store
    r = fr["radius"]
    width = np.minimum(2 * r + 1, NTILES)
    pq = np.repeat(np.arange(len(r)), width)  # the query of each pair
    col = ((fr["qx"] - r)[pq] + np.arange(len(pq)) - np.repeat(np.cumsum(width) - width, width)) % NTILES * NTILES
    lo = np.searchsorted(key, col + np.maximum(fr["qy"] - r, 0)[pq], "left")
    n = np.searchsorted(key, col + np.minimum(fr["qy"] + r, NTILES - 1)[pq], "right") - lo
    chunk = np.cumsum(n)[np.cumsum(width) - 1] // RANK_CHUNK_ROWS  # by query, nondecreasing
    out = []
    for c in np.unique(chunk):
        pick = (chunk == c)[pq]
        cn = n[pick]
        rows = np.repeat(lo[pick] - np.cumsum(cn) + cn, cn) + np.arange(cn.sum())
        q = np.repeat(pq[pick], cn)
        dist = np_haversine_m(fr["qlat"][q], fr["qlon"][q], lat[rows], lon[rows])
        # only rows whose key is at most their query's k-th smallest key
        # reach the lexsort: fl(q·2^25 + dist) is monotone in dist and
        # keeps the queries apart (a distance is < 2^25 m), so they hold
        # each query's first k
        key_q = q * 2.0**25 + dist
        if len(key_q):
            count = np.bincount(q, minlength=len(r))
            kth = np.sort(key_q)[np.cumsum(count) - count + np.minimum(count, k) - 1]
            keep = np.flatnonzero(key_q <= kth[q])
            q, rows, dist = q[keep], rows[keep], dist[keep]
        top, _ = _top(q, node_id[rows], k, dist)
        out.append((fr["query_id"][q[top]], rows[top], dist[top]))
    return tuple(np.concatenate(c) for c in zip(*out))


def _partition_round(candidates: DataFrame, fr: dict[str, np.ndarray], k: int) -> DataFrame:
    """One round over the store rows of ``candidates`` as one job of an
    iterator Arrow UDF: each task ranks all its rows once with
    ``_rank_rings`` and gives each row the queries whose first k of the
    task's rows it is among (``TOPS_TYPE``), exploded into (query_id,
    node_id, dist_m) rows. The first k of a union are the first k of
    its parts' first k, so ranking the tasks' tops again gives one
    ranking's rows. (Not ``mapInArrow``: Spark feeds that its rows as
    one struct column, ~2.6x the JVM CPU a row on the sf-m store.)"""

    def task(batches: Iterator[Tuple[pa.Array, ...]]) -> Iterator[pa.Array]:
        batches = [pa.RecordBatch.from_arrays(list(b), STORE_COLUMNS) for b in batches]
        if batches:
            table = pa.Table.from_batches(batches)
            store = _sorted_store(table)
            qid, rows, dist = _rank_rings(store, fr, k)
            row = store[4][rows]
            order = np.argsort(row, kind="stable")
            offsets = np.r_[0, np.cumsum(np.bincount(row, minlength=table.num_rows))]
            tops = pa.StructArray.from_arrays(
                [pa.array(qid[order], pa.int32()), pa.array(dist[order])], ["query_id", "dist_m"]
            )
            yield pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), tops)

    tops = F.arrow_udf(task, TOPS_TYPE)(*STORE_COLUMNS)
    return candidates.select("node_id", F.inline(tops)).select("query_id", "node_id", "dist_m")


def _top_table(qid: np.ndarray, node_id: np.ndarray, dist: np.ndarray, k: int):
    """The round's top table, as ``_ranked`` gives it, of (query_id,
    node_id, dist_m) candidates, and per-query (rows, k-th distance)
    stats."""
    rows, rank = _top(qid, node_id, k, dist)
    qid, dist = qid[rows], dist[rows]
    ids, first, count = np.unique(qid, return_index=True, return_counts=True)
    stats = dict(zip(ids.tolist(), zip(count.tolist(), dist[first + count - 1].tolist())))
    top = pa.table({"query_id": pa.array(qid, pa.int32()), "rank": pa.array(rank, pa.int32()),
                    "node_id": node_id[rows], "dist_m": dist})
    return top, stats


def tiled_node_store(nodes: DataFrame) -> DataFrame:
    """(node_id, lat, lon, xtile, ytile): the tile-keyed node table the
    k-ring search probes. Build once per dataset (at 100 TB this is the
    Hilbert-partitioned store from operators/indexes, not an ad-hoc
    projection) and pass to ``knn_kring`` via ``tiled=`` so repeated
    query batches skip the re-tiling scan. Polar outliers clamp onto
    the edge rows so ring expansion reaches them; a node without
    coordinates gets no tile, so it is in no ring."""
    return (
        _nodes_with_coords(nodes)
        .withColumn("xtile", F.pmod(F.floor((F.col("lon") + 180.0) / 360.0 * NTILES).cast("int"), F.lit(NTILES)))
        .withColumn(
            "ytile",
            F.when(
                F.col("lat").isNotNull(), F.least(F.greatest(tile_y_col(F.col("lat")), F.lit(0)), F.lit(NTILES - 1))
            ),
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

    At most one Spark job per expansion ROUND (not per query): all
    unsatisfied queries share one ranking of their rings (``_rank_rings``);
    satisfied queries leave the frontier. Results match
    ``knn_brute_force`` exactly (asserted in tests and oracle-gated as
    ``osm_knn_kring`` against an independent SQL brute force).

    ``tiled`` (from ``tiled_node_store``, ideally persisted): skip the
    per-call tiling scan — the steady-state serving path. With
    ``tiled`` supplied, ``nodes`` may be None (a serving layer reads
    only the persisted store).

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

    Rounds and results follow the module docstring's three modes, by
    the k·Q result rows (``RANKED_DDL``, sized by
    ``session.row_bytes``) against ``broadcast_threshold``. A batch of
    more than ``CACHE_MIN_QUERIES`` queries without a ``tiled`` store
    caches its own tiled projection.
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
    collect_mode = len(query_points) * k * row_bytes(spark, RANKED_DDL) <= broadcast_threshold(spark)
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
    # a cached store held on the driver: every round ranks it, no job
    store = resident(tiled) if collect_mode and tiled is not None else None
    if store is not None:
        store = _sorted_store(store)
    parts: list[DataFrame] = []
    tables: list[pa.Table] = []  # satisfied top-k rows (small-Q mode)
    round_frames: list[DataFrame] = []  # persisted per-round top-k (large-Q mode)

    # the finally releases every persisted round frame (and the own
    # coords cache) on success AND on error: a long-lived serving
    # session must not accumulate caches without bound
    try:
        while frontier:
            fr = {c: np.array([f[c] for f in frontier]) for c in ("query_id", "qlat", "qlon", "qx", "qy", "radius")}
            if store is not None:
                qid, rows, dist = _rank_rings(store, fr, k)
                top, stats = _top_table(qid, store[1][rows], dist, k)
            elif collect_mode:
                # the tasks' tops (≤ k a query each) merge on the driver
                tops = _partition_round(_ring_rows(coords, frontier), fr, k).toArrow()
                top, stats = _top_table(*(tops.column(c).to_numpy() for c in ("query_id", "node_id", "dist_m")), k)
            else:
                # large batch: the top-k PERSISTS executor-side and the
                # stats aggregate is the one materializing action: the
                # driver collects ONLY per-query (count, k-th distance)
                # control rows. Frames stay persisted (k·Q rows per
                # round; eviction merely recomputes deterministically
                # from lineage).
                ranked = _ranked(_partition_round(_ring_rows(coords, frontier), fr, k), k).persist()
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
