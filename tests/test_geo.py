"""kNN + point-in-polygon tests (vs golden oracle and hand-computed)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import osm_lib_spark.operators.knn as knn
from osm_lib_spark.operators.knn import RANKED_DDL, knn_brute_force, knn_kring
from osm_lib_spark.operators.pip import grid_polygons, points_in_polygons_bucketed, polygons_df
from osm_lib_spark.session import row_bytes
from osm_lib_spark.sources.oracle import ray_cast_contains
from osm_lib_spark.sources.span_codec import parse_nodes
from tests.conftest import assert_df_equal, both_paths, golden, loaded, record_resident, spark_jobs, threshold

NODE_DDL = "id long, fixed_lat int, fixed_lon int, tags array<struct<key:string,value:string>>"


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def nodes_xs(docs_xs):
    return parse_nodes(docs_xs).cache()


def _rows(df):
    return sorted(map(tuple, df.collect()))


KNN_ROUND = "osm_lib_spark.operators.knn._driver_round"
PIP_ANSWER = "osm_lib_spark.operators.pip._driver_pip"


def _three_paths(spark, monkeypatch, step, fn):
    """Sorted rows of ``fn()`` on the driver path (session threshold),
    on the Spark form under the threshold (the driver ``step`` reporting
    its candidates over the bound) and at threshold -1: for kNN the
    driver rounds, Spark rounds with the results collected and executor
    accumulation; for PIP the driver's numpy, broadcast rings and rings
    on rows."""
    driver, at_minus_one = both_paths(spark, lambda: _rows(fn()))
    with monkeypatch.context() as m:
        m.setattr(step, lambda *a: None)
        over = _rows(fn())
    return driver, over, at_minus_one


def _both_inputs(spark, monkeypatch, step, call, frame):
    """``_three_paths`` of ``call(frame)`` with ``frame`` a loaded cache
    (the driver path reads its ``session.resident`` copy), then of
    ``call`` over a filter on it that keeps every row (no cache matches
    it: the driver path collects): the six sorted row lists. ``frame``
    is released after unless it was cached before."""
    was_cached = frame.is_cached
    frame = loaded(frame)
    uncached = frame.where(F.col(frame.columns[0]).isNotNull())
    out = []
    with monkeypatch.context() as m:
        reads = record_resident(m, step.rsplit(".", 1)[0])
        for held, df in ((True, frame), (False, uncached)):
            reads.clear()
            out += _three_paths(spark, monkeypatch, step, lambda: call(df))
            assert reads and (reads[0] is not None) is held, held
    if not was_cached:
        frame.unpersist()
    return out


def _kring(pts, **kw):
    """``knn_kring`` over a tiled store, as ``_both_inputs`` calls it."""
    return lambda store: knn_kring(None, pts, tiled=store, **kw)


def test_ray_cast_hand_computed():
    square = np.array([[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0]])
    lat = np.array([5.0, 5.0, 15.0, -1.0, 9.999])
    lon = np.array([5.0, 10.5, 5.0, 5.0, 9.999])
    np.testing.assert_array_equal(
        ray_cast_contains(square, lat, lon), [True, False, False, False, True]
    )
    # concave: L-shape — the notch is outside
    lshape = np.array([[0, 0], [0, 10], [5, 10], [5, 5], [10, 5], [10, 0]], dtype=float)
    lat = np.array([2.0, 7.0, 7.0])
    lon = np.array([2.0, 2.0, 7.0])
    np.testing.assert_array_equal(ray_cast_contains(lshape, lat, lon), [True, True, False])


def test_knn_brute_force_vs_golden(nodes_xs, fixture_xs, meta_xs):
    pts = [tuple(p) for p in meta_xs["knn_points"]]
    got = knn_brute_force(nodes_xs, pts, k=10)
    assert_df_equal(got, golden(fixture_xs, "knn"), sort_cols=["query_id", "rank"])


def test_knn_kring_matches_brute_force(spark, nodes_xs, meta_xs, monkeypatch):
    """k-ring rows equal brute force on all three paths, with the
    density-derived initial ring too, and over the candidate bound: at a
    threshold the k·Q results fit under and the first round's candidate
    rows do not, one driver round is tried (its collect spent) and every
    later round runs in Spark."""
    # ALL query points — includes the near-polar and open-ocean ones
    # whose ring bound degrades to 0 (conservative full expansion)
    pts = [tuple(p) for p in meta_xs["knn_points"]]
    brute = _rows(knn_brute_force(nodes_xs, pts, k=10))
    for rows in _both_inputs(spark, monkeypatch, KNN_ROUND, _kring(pts, k=10), knn.tiled_node_store(nodes_xs)):
        assert rows == brute
    # density-derived initial ring (est_n_nodes) must be EXACTLY equal
    # too — the start radius only moves rounds, never the bound
    assert _rows(knn_kring(nodes_xs, pts, k=10, est_n_nodes=nodes_xs.count())) == brute

    tried, real = [], knn._driver_round
    monkeypatch.setattr(knn, "_driver_round", lambda *a: tried.append(real(*a)) or tried[-1])
    with threshold(spark, str(len(pts) * 10 * row_bytes(spark, RANKED_DDL))):
        assert _rows(knn_kring(nodes_xs, pts, k=10)) == brute
    assert tried == [None]

    # a first round ranked on the driver, then one over the bound: the
    # call's top tables mix numpy and Spark rounds
    tried.clear()
    sizes = []
    monkeypatch.setattr(
        knn,
        "_driver_round",
        lambda probe, frontier, k: sizes.append(len(frontier))
        or tried.append(None if tried else real(probe, frontier, k))
        or tried[-1],
    )
    assert _rows(knn_kring(nodes_xs, pts, k=10, initial_ring=1)) == brute
    assert tried[0] is not None and tried[1:] == [None] and sizes[1] < sizes[0]


def test_ring_bound_is_lower_bound_high_lat():
    """_min_dist_beyond_ring must LOWER-bound the distance to every
    point outside the ring. At high latitude + large radius the old
    same-latitude-haversine east/west bound overstated (nearest point
    of a meridian lies poleward); the cross-track bound must not."""
    from osm_lib_spark.functions.geo import np_haversine_m
    from osm_lib_spark.functions.tiles import NTILES, np_tile_bbox, np_tile_x, np_tile_y
    from osm_lib_spark.operators.knn import _min_dist_beyond_ring

    rng = np.random.default_rng(7)
    for qlat, qlon, radius in [(60.0, 10.0, 200), (75.0, -120.0, 400), (55.0, 179.0, 64)]:
        qx = int(np_tile_x(np.array([qlon]))[0]) % NTILES
        qy = int(np_tile_y(np.array([qlat]))[0])
        bound = _min_dist_beyond_ring(qlat, qlon, qx, qy, radius)
        # sample points on the four outside-boundary tile rows/columns
        xs = rng.integers(0, NTILES, 4000)
        ys = rng.integers(0, NTILES, 4000)
        outside = ~(
            (np.minimum(np.abs(xs - qx), NTILES - np.abs(xs - qx)) <= radius)
            & (np.abs(ys - qy) <= radius)
        )
        xs, ys = xs[outside], ys[outside]
        north, south, east, west = np_tile_bbox(xs, ys)
        # all four tile corners of each outside tile
        for lat_c in (north, south):
            for lon_c in (east, west):
                d = np_haversine_m(qlat, qlon, lat_c, lon_c)
                assert (d >= bound - 1e-6).all(), (qlat, qlon, radius)


def test_knn_kring_meridian_edge_case(spark, monkeypatch):
    """Adversarial layout exploiting the OLD (overstated) east/west
    bound: at lat 60 / radius 200 tiles, the same-latitude haversine to
    the boundary meridian exceeds the true cross-track minimum by ~9km.
    Ten in-ring nodes sit in that gap's shadow (dist ≈ old bound − ε),
    while the true 1-NN sits just OUTSIDE the west meridian at the
    cross-track foot point. The corrected bound must keep expanding and
    surface the outside node; the old bound terminated and missed it."""
    import math

    from osm_lib_spark.functions.geo import np_haversine_m
    from osm_lib_spark.functions.tiles import np_tile_bbox, np_tile_x, np_tile_y
    from osm_lib_spark.operators.knn import _min_dist_beyond_ring

    qlat, qlon = 60.0, 20.0
    radius = 200
    qx = int(np_tile_x(np.array([qlon]))[0])
    qy = int(np_tile_y(np.array([qlat]))[0])
    _, _, _, west_lon = np_tile_bbox(np.array([qx - radius]), np.array([qy]))
    west_lon = float(west_lon[0])

    # outside node at the meridian's closest point to the query
    dlon = math.radians(qlon - west_lon)
    foot_lat = math.degrees(math.atan(math.tan(math.radians(qlat)) / math.cos(dlon)))
    out_lat, out_lon = foot_lat, west_lon - 0.02
    out_dist = float(np_haversine_m(qlat, qlon, out_lat, out_lon))

    # ten in-ring nodes due south, distances a few km past the outside node
    rows = [(1, out_lat, out_lon)]
    for i in range(10):
        in_lat = qlat - math.degrees((out_dist + 4000 + 200.0 * i) / 6_371_000.0)
        rows.append((2 + i, in_lat, qlon))
    in_dists = [float(np_haversine_m(qlat, qlon, la, lo)) for _, la, lo in rows[1:]]

    # preconditions that make the case adversarial
    bound = _min_dist_beyond_ring(qlat, qlon, qx, qy, radius)
    assert bound <= out_dist  # corrected bound is a true lower bound
    assert out_dist < min(in_dists)  # outside node is the true 1-NN
    assert max(in_dists) > bound  # so the ring must keep expanding
    in_tiles_y = np.abs(np_tile_y(np.array([la for _, la, _ in rows[1:]])) - qy)
    assert (in_tiles_y <= radius).all()  # shadow nodes are inside the ring
    assert int(np_tile_x(np.array([out_lon]))[0]) < qx - radius  # 1-NN is outside

    nodes = spark.createDataFrame(
        [(rid, int(la * 1e7), int(lo * 1e7), []) for rid, la, lo in rows], NODE_DDL
    )
    pts = [(0, qlat, qlon)]
    brute = _rows(knn_brute_force(nodes, pts, k=10))
    paths = _both_inputs(
        spark, monkeypatch, KNN_ROUND, _kring(pts, k=10, initial_ring=radius), knn.tiled_node_store(nodes)
    )
    for ring in paths:
        assert ring == brute
        assert ring[0][2] == 1  # the outside node won


def _golden_rows(fixture_dir, name):
    return sorted(tuple(map(int, r)) for r in golden(fixture_dir, name)[["poly_id", "node_id"]].to_numpy())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_vs_golden(spark, nodes_xs, fixture_xs, meta_xs, monkeypatch):
    """The fixture's hand-shaped polygons (one with a hole) as a
    polygons_df equal the pandas golden on every path."""
    polys = {
        int(pid): [np.array(r, dtype=np.float64) for r in rings]
        for pid, rings in meta_xs["polygons"].items()
    }
    frame = polygons_df(spark, polys)
    expected = _golden_rows(fixture_xs, "pip")
    for rows in _both_inputs(spark, monkeypatch, PIP_ANSWER, lambda n: points_in_polygons_bucketed(n, frame), nodes_xs):
        assert rows == expected


def test_pip_bucketed_vs_golden_and_broadcast(nodes_xs, fixture_xs, meta_xs, spark, monkeypatch):
    """The 500 grid polygons equal the independent pandas golden on
    every path. At the session threshold the answer is a LocalRelation
    built on the driver; with the candidates over, the driver-built
    tile table is broadcast into a hash join on the tile key. At a
    threshold the polygons' vertices fit under and their candidate nodes
    and tile rows do not (44 kB, 82 kB and 220 kB on sf-xs), and at -1,
    the rings ride the polygon-tile rows into a shuffled hash join."""
    centers = [(float(p[1]), float(p[2])) for p in meta_xs["knn_points"][:2]]
    polys = grid_polygons(centers)
    many = polygons_df(spark, polys)
    expected = _golden_rows(fixture_xs, "pip_many")
    for rows in _both_inputs(spark, monkeypatch, PIP_ANSWER, lambda n: points_in_polygons_bucketed(n, many), nodes_xs):
        assert rows == expected
    plan = _plan(points_in_polygons_bucketed(nodes_xs, many))
    assert "LocalTableScan" in plan and "Join" not in plan
    with monkeypatch.context() as m:
        m.setattr(PIP_ANSWER, lambda *a: None)
        plan = _plan(points_in_polygons_bucketed(nodes_xs, many))
    assert "BroadcastHashJoin" in plan and "xtile" in plan and "ytile" in plan
    vertices = str(16 * sum(len(ring) for rings in polys.values() for ring in rings))
    for value in (vertices, "-1"):
        with threshold(spark, value):
            got = points_in_polygons_bucketed(nodes_xs, many)
            plan = _plan(got)
            assert _rows(got) == expected, value
        assert "ShuffledHashJoin" in plan and "xtile" in plan and "ytile" in plan, value


def test_pip_high_vertex_polygon_measured_by_its_vertices(nodes_xs, meta_xs, spark, monkeypatch):
    """A 4,000-vertex ring with a hole over at most four tiles: its one
    row fits under a 10 kB threshold, its 4,100 vertices at 16 B do not,
    so the rings ride the tile rows (ShuffledHashJoin) instead of going
    to the driver. At the session threshold the driver answers. Rows
    equal an even-odd numpy oracle on every path."""
    lat0, lon0 = float(meta_xs["knn_points"][0][1]), float(meta_xs["knn_points"][0][2])
    t = np.linspace(0.0, 2.0 * np.pi, 4000, endpoint=False)
    outer = np.column_stack([lat0 + 0.03 * np.sin(t), lon0 + 0.03 * np.cos(t)])
    hole = np.column_stack([lat0 + 0.01 * np.sin(t[::40]), lon0 + 0.01 * np.cos(t[::40])])
    poly = polygons_df(spark, {7: [outer, hole]})
    pdf = nodes_xs.select("id", "fixed_lat", "fixed_lon").toPandas()
    lat, lon = pdf["fixed_lat"].to_numpy() / 1e7, pdf["fixed_lon"].to_numpy() / 1e7
    inside = ray_cast_contains(outer, lat, lon) ^ ray_cast_contains(hole, lat, lon)
    expected = sorted((7, int(i)) for i in pdf["id"][inside])
    assert 0 < len(expected) < len(pdf)
    for rows in _both_inputs(spark, monkeypatch, PIP_ANSWER, lambda n: points_in_polygons_bucketed(n, poly), nodes_xs):
        assert rows == expected
    assert "Join" not in _plan(points_in_polygons_bucketed(nodes_xs, poly))
    with threshold(spark, "10000"):
        got = points_in_polygons_bucketed(nodes_xs, poly)
        assert "ShuffledHashJoin" in _plan(got) and _rows(got) == expected


def test_pip_bucketed_rejects_antimeridian_wrap(spark):
    """A ring spanning >180° of longitude raises with the same message
    on both paths: a ValueError at the call on the driver, Spark's error
    at the action over the threshold (documented limitation)."""
    import re

    nodes = spark.createDataFrame([(1, 0, 0, [])], NODE_DDL)
    bad = polygons_df(
        spark, {1: [np.array([[0.0, -179.0], [0.0, 179.0], [1.0, 179.0]])]}
    )
    message = re.escape(
        "points_in_polygons_bucketed: polygon 1 spans >180 deg of longitude"
        " — split it at the antimeridian"
    )
    with pytest.raises(ValueError, match=message):
        points_in_polygons_bucketed(nodes, bad)
    with threshold(spark, "-1"), pytest.raises(Exception, match=message):
        points_in_polygons_bucketed(nodes, bad).collect()


def test_pip_empty_set_and_polygon_without_candidates(spark, nodes_xs, meta_xs, monkeypatch):
    """No polygons, and a polygon in the fixture's empty box (no node in
    its covering tiles), give no rows on every path; on the driver the
    empty set runs no Spark job at all."""
    lat0, lon0, lat1, lon1 = meta_xs["bboxes"]["empty"]
    empty = polygons_df(spark, {})
    lonely = polygons_df(spark, {3: [np.array([[lat0, lon0], [lat0, lon1], [lat1, lon1]])]})
    # the empty set reads no nodes, so a cached input makes no difference
    for rows in _three_paths(spark, monkeypatch, PIP_ANSWER, lambda: points_in_polygons_bucketed(nodes_xs, empty)):
        assert rows == []
    for rows in _both_inputs(spark, monkeypatch, PIP_ANSWER, lambda n: points_in_polygons_bucketed(n, lonely), nodes_xs):
        assert rows == []
    assert spark_jobs(spark, lambda: points_in_polygons_bucketed(nodes_xs, empty).collect()) == ([], 0)


def test_knn_kring_fewer_than_k_nodes(spark, monkeypatch):
    """k exceeds the world's node count: expansion must cover the grid
    and terminate with all nodes ranked (covered_all path)."""
    nodes = spark.createDataFrame(
        [(1, 100000000, 200000000, []), (2, -300000000, 1500000000, []), (3, 0, 0, [])], NODE_DDL
    )
    brute = _rows(knn_brute_force(nodes, [(0, 10.0, 20.0)], k=10))
    assert [r[1] for r in brute] == [1, 2, 3]
    for rows in _both_inputs(spark, monkeypatch, KNN_ROUND, _kring([(0, 10.0, 20.0)], k=10), knn.tiled_node_store(nodes)):
        assert rows == brute


def test_knn_kring_ring_wraps_x(spark, monkeypatch):
    """Queries by the antimeridian: their rings wrap xtile, and the
    nearest nodes lie across it. Rows equal brute force on all three
    paths."""
    rows = [
        (i + 1, int(la * 1e7), int(lo * 1e7), [])
        for i, (la, lo) in enumerate(
            [(10.0 + 0.01 * i, lo) for i in range(8) for lo in (179.97, -179.98, -179.9, 179.5)]
        )
    ]
    nodes = spark.createDataFrame(rows, NODE_DDL)
    pts = [(0, 10.02, 179.995), (1, 10.05, -179.995)]
    brute = _rows(knn_brute_force(nodes, pts, k=5))
    assert {r[2] for r in brute} & {r[0] for r in rows if r[2] < 0}  # hits across the wrap
    for ring in _both_inputs(spark, monkeypatch, KNN_ROUND, _kring(pts, k=5), knn.tiled_node_store(nodes)):
        assert ring == brute


def test_knn_kring_many_rings_take_tile_keys(spark, monkeypatch):
    """A frontier of 40 rings in distinct tiles either side of the
    antimeridian is past the OR-ed windows' cap: its driver round
    filters on an InSet of the rings' tile keys, wrapping x. Rows equal
    brute force on all three paths. Past the keys' cap too, no
    predicate is offered and the round runs in Spark."""
    lons = np.r_[np.arange(177.0, 180.0, 0.05), np.arange(-179.99, -177.0, 0.05)]
    coords = [(la, lo) for la in (10.0, 10.03, 10.06) for lo in lons]
    rows = [(i + 1, int(la * 1e7), int(lo * 1e7), []) for i, (la, lo) in enumerate(coords)]
    nodes = spark.createDataFrame(rows, NODE_DDL)
    pts = [(i, 10.02, 179.995 - 0.1 * i) for i in range(20)]
    pts += [(20 + i, 10.04, -179.995 + 0.1 * i) for i in range(20)]
    brute = _rows(knn_brute_force(nodes, pts, k=5))
    predicates, real = [], knn._ring_predicate
    monkeypatch.setattr(knn, "_ring_predicate", lambda f: predicates.append(real(f)) or predicates[-1])
    for ring in _three_paths(spark, monkeypatch, KNN_ROUND, lambda: knn_kring(nodes, pts, k=5, initial_ring=1)):
        assert ring == brute
    assert " IN (" in predicates[0]
    wide = [dict(query_id=i, qlat=0.0, qlon=0.0, qx=40 * i, qy=2048, radius=64) for i in range(40)]
    assert real(wide) is None


def test_knn_kring_releases_caches_on_error(spark, monkeypatch):
    """A round that raises must still unpersist the round frames and
    the function's own coords cache."""
    import osm_lib_spark.operators.knn as knn

    nodes = spark.createDataFrame(
        [(1, 100000000, 200000000, []), (2, -300000000, 1500000000, []), (3, 0, 0, [])],
        "id long, fixed_lat int, fixed_lon int, tags array<struct<key:string,value:string>>",
    )

    def fail(*args):
        raise RuntimeError("round failed")

    monkeypatch.setattr(knn, "_min_dist_beyond_ring", fail)

    def persisted():  # ids only: other tests' RDDs may be cleaned meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    # threshold -1: executor-side mode, which caches coords and
    # persists each round's top-k before the bound check raises
    with threshold(spark, "-1"), pytest.raises(RuntimeError, match="round failed"):
        knn_kring(nodes, [(0, 10.0, 20.0)], k=10)
    assert persisted() <= before


def test_knn_kring_coarse_cell_path_q100(nodes_xs, meta_xs, monkeypatch):
    """Large-Q path: ≥100 queries with STRIP_SWITCH_ROWS forced low so EVERY
    round uses the coarse-cell ancestor equi-join — results must equal
    brute force exactly (the coarse cells cover a superset of each
    ring, so the termination bound stays valid)."""
    import pandas as pd

    import osm_lib_spark.operators.knn as knn

    base = [tuple(p) for p in meta_xs["knn_points"]]
    # fan 100+ queries around the fixture's points (deterministic jitter)
    pts = []
    qid = 0
    for _, qlat, qlon in base:
        for i in range(21):
            pts.append((qid, qlat + (i % 5 - 2) * 0.021, qlon + (i % 7 - 3) * 0.017))
            qid += 1
    assert len(pts) >= 100
    brute = (
        knn_brute_force(nodes_xs, pts, k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    with monkeypatch.context() as m:
        m.setattr(knn, "STRIP_SWITCH_ROWS", 1)
        ring = (
            knn_kring(nodes_xs, pts, k=5)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(brute, ring, check_dtype=False)
    # and the default threshold (mixed strip/coarse rounds) agrees too
    ring_default = (
        knn_kring(nodes_xs, pts, k=5)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(brute, ring_default, check_dtype=False)


def test_ray_cast_against_independent_implementation():
    """ADVICE r05: the bucketed PIP engine and its oracle share
    ray_cast_contains, so the gate can't catch a kernel bug. This
    scalar crossing-number implementation is written independently
    (per-point loop, multiply-form edge test — no shared code or
    formulation) and must agree on a dense grid across polygon shapes,
    including edge-adjacent and degenerate-vertex cases."""
    import numpy as np

    from osm_lib_spark.sources.oracle import ray_cast_contains

    def contains_scalar(poly, py, px):
        # crossing number, multiply form (avoids the kernel's division)
        inside = False
        n = len(poly)
        for i in range(n):
            y1, x1 = poly[i]
            y2, x2 = poly[(i + 1) % n]
            if (y1 > py) != (y2 > py):
                # x < x1 + (x2-x1)*(py-y1)/(y2-y1), rearranged to avoid /
                dx = (x2 - x1) * (py - y1)
                dy = y2 - y1
                if dy > 0:
                    crosses = (px - x1) * dy < dx
                else:
                    crosses = (px - x1) * dy > dx
                inside ^= bool(crosses)
        return inside

    polys = [
        np.array([[0.0, 0.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0]]),  # box
        np.array([[0.0, 1.0], [1.0, 2.0], [2.0, 1.0], [1.0, 0.0]]),  # diamond
        np.array([[0.0, 0.0], [0.0, 3.0], [1.5, 1.0], [3.0, 3.0], [3.0, 0.0]]),  # concave
        np.array([[0.0, 0.0], [0.0, 2.0], [0.0, 2.0], [2.0, 2.0], [2.0, 0.0]]),  # dup vertex
    ]
    ys, xs = np.meshgrid(np.linspace(-0.5, 3.5, 41), np.linspace(-0.5, 3.5, 41))
    la, lo = ys.ravel(), xs.ravel()
    for poly in polys:
        got = ray_cast_contains(poly, la, lo)
        exp = np.array([contains_scalar(poly, y, x) for y, x in zip(la, lo)])
        # division-vs-multiply forms may disagree only ON an edge;
        # exclude exact-edge grid points the same way FIXTURES.md §4.8
        # documents the convention as unspecified there
        disagree = got != exp
        if disagree.any():
            for idx in np.nonzero(disagree)[0]:
                y, x = la[idx], lo[idx]
                on_edge = False
                n = len(poly)
                for i in range(n):
                    y1, x1 = poly[i]
                    y2, x2 = poly[(i + 1) % n]
                    cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
                    within = (
                        min(y1, y2) <= y <= max(y1, y2)
                        and min(x1, x2) <= x <= max(x1, x2)
                    )
                    if abs(cross) < 1e-12 and within:
                        on_edge = True
                        break
                assert on_edge, (
                    f"kernel and independent ray cast disagree OFF-edge at "
                    f"({y}, {x}) for poly {poly.tolist()}"
                )
