"""kNN + point-in-polygon tests (vs golden oracle and hand-computed)."""

import json
import os

import numpy as np
import pytest

from osm_lib_spark.operators.knn import knn_brute_force, knn_kring
from osm_lib_spark.operators.pip import points_in_polygons
from osm_lib_spark.sources.oracle import ray_cast_contains
from osm_lib_spark.sources.span_codec import parse_nodes
from tests.conftest import assert_df_equal, golden


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def nodes_xs(docs_xs):
    return parse_nodes(docs_xs).cache()


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


def test_knn_kring_matches_brute_force(nodes_xs, meta_xs):
    # ALL query points — includes the near-polar and open-ocean ones
    # whose ring bound degrades to 0 (conservative full expansion)
    pts = [tuple(p) for p in meta_xs["knn_points"]]
    brute = (
        knn_brute_force(nodes_xs, pts, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    ring = (
        knn_kring(nodes_xs, pts, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(brute, ring, check_dtype=False)

    # density-derived initial ring (est_n_nodes) must be EXACTLY equal
    # too — the start radius only moves rounds, never the bound
    ring_r0 = (
        knn_kring(nodes_xs, pts, k=10, est_n_nodes=nodes_xs.count())
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(brute, ring_r0, check_dtype=False)

    # executor-side accumulation path (forced: driver_collect_max_q=0)
    # must be exactly equal too — same rounds, different result plumbing
    ring_exec = (
        knn_kring(nodes_xs, pts, k=10, driver_collect_max_q=0)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(brute, ring_exec, check_dtype=False)


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


def test_knn_kring_meridian_edge_case(spark):
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
        [(rid, int(la * 1e7), int(lo * 1e7), []) for rid, la, lo in rows],
        "id long, fixed_lat int, fixed_lon int, tags array<struct<key:string,value:string>>",
    )
    pts = [(0, qlat, qlon)]
    brute = knn_brute_force(nodes, pts, k=10).toPandas().sort_values("rank")
    ring = (
        knn_kring(nodes, pts, k=10, initial_ring=radius)
        .toPandas()
        .sort_values("rank")
    )
    import pandas as pd

    pd.testing.assert_frame_equal(
        brute.reset_index(drop=True), ring.reset_index(drop=True), check_dtype=False
    )
    assert ring.iloc[0].node_id == 1  # the outside node won


def test_pip_vs_golden(nodes_xs, fixture_xs, meta_xs):
    polys = {
        int(pid): [np.array(r, dtype=np.float64) for r in rings]
        for pid, rings in meta_xs["polygons"].items()
    }
    got = points_in_polygons(nodes_xs, polys)
    assert_df_equal(got, golden(fixture_xs, "pip"), sort_cols=["poly_id", "node_id"])


def test_pip_bucketed_vs_golden_and_broadcast(nodes_xs, fixture_xs, meta_xs, spark):
    """The bucketed scale path must equal the independent pandas golden
    on the 500-grid-polygon set AND equal the broadcast path on the
    fixture's hand-shaped polygons (same results, no closure capture)."""
    from osm_lib_spark.operators.pip import (
        grid_polygons,
        points_in_polygons_bucketed,
        polygons_df,
    )

    centers = [(float(p[1]), float(p[2])) for p in meta_xs["knn_points"][:2]]
    many = polygons_df(spark, grid_polygons(centers))
    got = points_in_polygons_bucketed(nodes_xs, many)
    assert_df_equal(got, golden(fixture_xs, "pip_many"), sort_cols=["poly_id", "node_id"])
    # the plan is a tile equi-join, not a closure loop: the join keys
    # appear in the physical plan and no polygon list rides the UDF
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "xtile" in plan and "ytile" in plan

    # path equivalence on the broadcast fixture polygons
    polys = {
        int(pid): [np.array(r, dtype=np.float64) for r in rings]
        for pid, rings in meta_xs["polygons"].items()
    }
    bc = points_in_polygons(nodes_xs, polys)
    bk = points_in_polygons_bucketed(nodes_xs, polygons_df(spark, polys))
    assert_df_equal(bk, bc.toPandas(), sort_cols=["poly_id", "node_id"])


def test_pip_bucketed_rejects_antimeridian_wrap(spark):
    """A ring spanning >180° of longitude must raise (documented
    limitation, asserted lazily in the plan)."""
    import pytest as _pytest

    from osm_lib_spark.operators.pip import points_in_polygons_bucketed, polygons_df

    nodes = spark.createDataFrame(
        [(1, 0, 0, [])],
        "id long, fixed_lat int, fixed_lon int, tags array<struct<key:string,value:string>>",
    )
    bad = polygons_df(
        spark, {1: [np.array([[0.0, -179.0], [0.0, 179.0], [1.0, 179.0]])]}
    )
    with _pytest.raises(Exception, match="antimeridian"):
        points_in_polygons_bucketed(nodes, bad).collect()


def test_knn_kring_fewer_than_k_nodes(spark):
    """k exceeds the world's node count: expansion must cover the grid
    and terminate with all nodes ranked (covered_all path)."""
    nodes = spark.createDataFrame(
        [(1, 100000000, 200000000, []), (2, -300000000, 1500000000, []), (3, 0, 0, [])],
        "id long, fixed_lat int, fixed_lon int, tags array<struct<key:string,value:string>>",
    )
    out = knn_kring(nodes, [(0, 10.0, 20.0)], k=10).toPandas()
    assert len(out) == 3
    assert sorted(out["rank"]) == [1, 2, 3]
    brute = knn_brute_force(nodes, [(0, 10.0, 20.0)], k=10).toPandas()
    assert list(out.sort_values("rank")["node_id"]) == list(
        brute.sort_values("rank")["node_id"]
    )


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
    # driver_collect_max_q=0: executor-side mode, which caches coords
    # and persists each round's top-k before the bound check raises
    with pytest.raises(RuntimeError, match="round failed"):
        knn_kring(nodes, [(0, 10.0, 20.0)], k=10, driver_collect_max_q=0)
    assert persisted() <= before


def test_knn_kring_coarse_cell_path_q100(nodes_xs, meta_xs):
    """Large-Q path: ≥100 queries with strip_switch forced low so EVERY
    round uses the coarse-cell ancestor equi-join — results must equal
    brute force exactly (the coarse cells cover a superset of each
    ring, so the termination bound stays valid)."""
    import pandas as pd

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
    ring = (
        knn_kring(nodes_xs, pts, k=5, strip_switch=1)
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
