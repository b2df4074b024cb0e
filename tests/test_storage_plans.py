"""Storage layout + physical plan assertions: the parts of "fast at
100 TB" that are checkable at test scale — filters reach the scan,
Hilbert layout keeps tile stats tight, codegen covers the parse path.
"""

import io
import json
import os

import pytest
from pyspark.sql import functions as F

from osm_lib_spark.functions.tiles import bbox_tile_range
from osm_lib_spark.operators.extract import (
    CLOSURE_ROW_BYTES,
    bbox_extract_batch,
    prepare_extract_context,
    ways_in_tile_range,
)
from osm_lib_spark.operators.indexes import build_way_tiles, write_way_tiles_partitioned
from osm_lib_spark.operators.raster import rasterize_nodes, vectorize_raster
from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
from tests.conftest import golden


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


def test_partitioned_way_tiles_pruning(spark, docs_xs, meta_xs, tmp_path_factory):
    """Tile-range predicates must reach the parquet scan of the
    Hilbert-partitioned way_tiles store (the reference's B-tree range
    scan analog, TileOSMSource.java:59-68) — and results must equal the
    unpartitioned computation exactly."""
    out = str(tmp_path_factory.mktemp("wt") / "way_tiles")
    nodes, ways = parse_nodes(docs_xs), parse_ways(docs_xs)
    wt = build_way_tiles(ways, nodes)
    write_way_tiles_partitioned(wt, out, num_partitions=8)

    stored = spark.read.parquet(out)
    tiles = bbox_tile_range(*meta_xs["bboxes"]["dense"])
    plan = _explain_str(ways_in_tile_range(stored, tiles))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(xtile" in plan and "LessThanOrEqual(ytile" in plan

    got = sorted(r.way_id for r in ways_in_tile_range(stored, tiles).collect())
    exp = sorted(r.way_id for r in ways_in_tile_range(wt, tiles).collect())
    assert got == exp and len(got) > 0

    # Hilbert layout: each file's xtile stats should cover far less than
    # the global range (spatial locality → row-group skipping works)
    import pyarrow.parquet as pq

    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) > 1
    global_min = stored.agg(F.min("xtile")).first()[0]
    global_max = stored.agg(F.max("xtile")).first()[0]
    spans = []
    for f in files:
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        col = {md.schema.column(i).name: i for i in range(md.num_columns)}["xtile"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((max(maxs) - min(mins)) / max(1, global_max - global_min))
    assert sum(spans) / len(spans) < 0.8  # files are spatially local


def test_parse_path_is_codegen(spark, docs_xs):
    """The hot parse path must stay inside WholeStageCodegen (no Python
    boundary): assert the plan has codegen stages and no Arrow eval."""
    plan = _explain_str(parse_nodes(docs_xs))
    assert "codegen id" in plan  # stages fused into whole-stage codegen
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_extract_batch_single_broadcast_of_bboxes(spark, docs_xs, meta_xs):
    """The bbox dimension table must broadcast (never shuffle), and the
    closure join must follow the closure's exact size: a broadcast hash
    join under spark.sql.autoBroadcastJoinThreshold, a shuffled hash
    join with the threshold set below it — never a sort-merge join or a
    cartesian product."""
    import re

    nodes, ways, rels = parse_nodes(docs_xs), parse_ways(docs_xs), parse_relations(docs_xs)
    boxes = [tuple(meta_xs["bboxes"]["dense"]), tuple(meta_xs["bboxes"]["wide"])]
    ctx = prepare_extract_context(rels)
    assert ctx.closure_rows == ctx.rel_closure.count() > 0
    assert "LocalRelation" in ctx.rel_closure._jdf.queryExecution().analyzed().toString()
    # the lazy checkpoints plan their subtrees when the DAG is built;
    # the SQL status store keeps those plans
    store = spark._jsparkSession.sharedState().statusStore()
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    for threshold, closure_join in (
        (saved, "BroadcastHashJoin"),
        (str(ctx.closure_rows * CLOSURE_ROW_BYTES - 1), "ShuffledHashJoin"),
    ):
        n_before = store.executionsList().size()
        spark.conf.set(key, threshold)
        try:
            plan = _explain_str(bbox_extract_batch(nodes, ways, rels, boxes, ctx=ctx))
        finally:
            spark.conf.set(key, saved)
        execs = store.executionsList()
        checkpoints = [
            execs.apply(i).physicalPlanDescription() for i in range(n_before, execs.size())
        ]
        assert any("BroadcastNestedLoopJoin" in p for p in checkpoints)
        assert not any("CartesianProduct" in p for p in checkpoints)
        joins = set(re.findall(r"\b(BroadcastHashJoin|ShuffledHashJoin)\b", plan))
        assert joins == {closure_join}
        assert not re.search(r"SortMergeJoin|CartesianProduct", plan)


def test_rasterize_matches_way_tiles_math(spark, docs_xs, fixture_xs):
    """Raster grid counts must be consistent with the golden tile math:
    summing n_points over tiles equals the node count."""
    nodes = parse_nodes(docs_xs)
    raster = rasterize_nodes(nodes)
    assert raster.agg(F.sum("n_points")).first()[0] == nodes.count()

    vec = vectorize_raster(raster, min_points=5)
    row = vec.first()
    assert row.wkt.startswith("POLYGON ((") and row.wkt.endswith("))")
    # ring is closed: first point == last point
    pts = row.wkt[len("POLYGON (("):-2].split(", ")
    assert len(pts) == 5 and pts[0] == pts[-1]


def test_new_operator_joins_are_hash_joins(spark, docs_xs):
    """Round-2 operators must never plan nested-loop/cartesian joins:
    the k-ring strip join, the LSH-banded embedding dedup, and the
    prefix-filtered Jaccard candidates are all equi-joins."""
    import re

    from osm_lib_spark.functions.tiles import NTILES, tile_y_col
    from osm_lib_spark.operators.dedup import ngram_prefix_candidates
    from osm_lib_spark.operators.knn import _frontier_strips, _nodes_with_coords
    from osm_lib_spark.operators.similarity import embedding_dup_pairs

    bad = re.compile(r"BroadcastNestedLoopJoin|CartesianProduct")

    nodes = parse_nodes(docs_xs)
    coords = (
        _nodes_with_coords(nodes)
        .withColumn(
            "xtile",
            F.pmod(
                F.floor((F.col("lon") + 180.0) / 360.0 * NTILES).cast("int"),
                F.lit(NTILES),
            ),
        )
        .withColumn("ytile", tile_y_col(F.col("lat")))
    )
    strips = _frontier_strips(
        spark, [dict(query_id=0, qlat=10.0, qlon=10.0, qx=2000, qy=2000, radius=4)]
    )
    cand = coords.join(F.broadcast(strips), "xtile").where(
        F.col("ytile").between(F.col("ymin"), F.col("ymax"))
    )
    plan = _explain_str(cand)
    assert "BroadcastHashJoin" in plan and not bad.search(plan)

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, -0.5], i % 3) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    plan = _explain_str(embedding_dup_pairs(emb, threshold=0.3, dim=3))
    assert not bad.search(plan)

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i}") for i in range(30)], "doc_id long, text string"
    )
    plan = _explain_str(ngram_prefix_candidates(docs))
    assert not bad.search(plan)


def _plans_during(spark, fn):
    """``fn()``, and the physical plans of the SQL executions it ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    n_before = store.executionsList().size()
    out = fn()
    execs = store.executionsList()
    return out, [execs.apply(i).physicalPlanDescription() for i in range(n_before, execs.size())]


def test_local_frames_broadcast_without_hints(spark, docs_xs):
    """The kNN strip join and the residual IVF-PQ and PQ probe joins
    carry no broadcast hint: their driver-built side is a local_frame
    whose stats let the planner broadcast it. None plans a sort-merge
    join, a nested-loop join or a cartesian product."""
    import re

    import numpy as np

    from osm_lib_spark.operators.knn import knn_kring
    from osm_lib_spark.operators.similarity import ivf_pq_topk, pq_topk

    bad = re.compile(r"SortMergeJoin|CartesianProduct|BroadcastNestedLoopJoin")
    nodes = parse_nodes(docs_xs)
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(  # a LogicalRDD: no size stats on this side
        [(i, rng.standard_normal(16).astype(np.float32).tolist(), i % 2) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    # a threshold below the sf-xs node scan's estimate: only the small
    # driver-built sides may broadcast
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(10 * 1024))
    try:
        rows, plans = _plans_during(spark, lambda: knn_kring(nodes, [(0, 33.0, -138.0)], k=5).collect())
        tops = [
            ivf_pq_topk(emb, k=3, n_queries=3, nlist=4, m=4, kc=4, residual=True),
            pq_topk(emb, k=3, n_queries=3, m=4, kc=4),
        ]
        scans = [(_explain_str(top), top.count()) for top in tops]
    finally:
        spark.conf.set(key, saved)
    assert len(rows) == 5
    assert any("BroadcastHashJoin" in p for p in plans)
    assert not any(bad.search(p) for p in plans)
    for plan, n_top in scans:
        assert set(re.findall(r"\b\w+Join\b", plan)) == {"BroadcastHashJoin"}
        assert not bad.search(plan)
        assert n_top == 9


def test_driver_rows_go_through_local_frame():
    """No engine module builds a DataFrame from driver rows except
    session.local_frame, whose frames are LocalRelations."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "osm_lib_spark"
    offenders, allowed = [], 0
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        exempt = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "local_frame" and path.name == "session.py"
            for n in ast.walk(f)
        }
        for n in ast.walk(tree):
            if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "createDataFrame":
                if id(n) in exempt:
                    allowed += 1
                else:
                    offenders.append(f"{path.relative_to(root)}:{n.lineno}")
    assert offenders == [] and allowed == 1


def test_driver_frames_are_local_relations(spark, docs_xs, tmp_path):
    """The driver-built frames plan as a LocalRelation, never a
    LogicalRDD: the PIP polygon set, the PBF/VEX blob indexes under
    read_pbf/read_vex and a kNN strip table."""
    import numpy as np

    from osm_lib_spark.operators.knn import _frontier_strips
    from osm_lib_spark.operators.pip import polygons_df
    from osm_lib_spark.sources.pbf import read_pbf, write_pbf
    from osm_lib_spark.sources.vex import read_vex, write_vex

    tables = (parse_nodes(docs_xs), parse_ways(docs_xs), parse_relations(docs_xs))
    write_pbf(str(tmp_path / "xs.pbf"), *tables)
    write_vex(str(tmp_path / "xs.vex"), *tables)
    ring = np.array([[10.0, 10.0], [10.0, 11.0], [11.0, 11.0], [10.0, 10.0]])
    frames = {
        "polygons_df": polygons_df(spark, {1: [ring]}),
        "read_pbf": read_pbf(spark, str(tmp_path / "xs.pbf")),
        "read_vex": read_vex(spark, str(tmp_path / "xs.vex")),
        "knn strips": _frontier_strips(
            spark, [dict(query_id=0, qlat=10.0, qlon=10.0, qx=2000, qy=2000, radius=4)]
        ),
    }
    for name, df in frames.items():
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in analyzed and "LogicalRDD" not in analyzed, name
