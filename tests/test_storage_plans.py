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
    CLOSURE_DDL,
    bbox_extract_batch,
    prepare_extract_context,
    ways_in_tile_range,
)
from osm_lib_spark.operators.indexes import build_way_tiles, write_way_tiles_partitioned
from osm_lib_spark.operators.raster import rasterize_nodes, vectorize_raster
from osm_lib_spark.session import row_bytes
from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
from tests.conftest import golden, plans_during, threshold


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
    """At the session threshold the batch resolves on the driver: its
    result is a plan over LocalRelations only. The Spark chain, run
    where the context fits but the call's way refs do not, must
    broadcast the bbox dimension table (never shuffle it), and its
    per-dataset closure and member-index joins follow the size rule:
    LocalRelations without a hint that the planner broadcasts while
    they fit, and under a threshold below the closure's edge bytes
    hash joins under SHUFFLE_HASH hints. Neither plan has a sort-merge
    join or a cartesian product."""
    import re

    nodes, ways, rels = parse_nodes(docs_xs), parse_ways(docs_xs), parse_relations(docs_xs)
    boxes = [tuple(meta_xs["bboxes"]["dense"]), tuple(meta_xs["bboxes"]["wide"])]
    n_edges = (
        rels.select(F.explode("members").alias("m")).where(F.col("m.type") == "RELATION").count()
    )
    session_ctx = prepare_extract_context(rels)
    driver = bbox_extract_batch(nodes, ways, rels, boxes, ctx=session_ctx)
    leaves = driver._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert {leaves.apply(i).nodeName() for i in range(leaves.size())} == {"LocalRelation"}
    # the largest context table (24 B rows) fits; the call's way refs do not
    context_bytes = max(len(keys) for keys, _ in session_ctx.arrays) * row_bytes(spark, CLOSURE_DDL)
    # the lazy checkpoints plan their subtrees when the DAG is built;
    # the SQL status store keeps those plans
    for value, join in (
        (str(context_bytes), "BroadcastHashJoin"),
        (str(n_edges * row_bytes(spark, CLOSURE_DDL) - 1), "ShuffledHashJoin"),
    ):
        with threshold(spark, value):
            ctx = prepare_extract_context(rels)
            assert (ctx.arrays is not None) == (join == "BroadcastHashJoin")
            plan, checkpoints = plans_during(
                spark, lambda: _explain_str(bbox_extract_batch(nodes, ways, rels, boxes, ctx=ctx))
            )
        assert any("BroadcastNestedLoopJoin" in p for p in checkpoints)
        assert not any("CartesianProduct" in p for p in checkpoints)
        joins = set(re.findall(r"\b(BroadcastHashJoin|ShuffledHashJoin)\b", plan))
        assert joins == {join}, value
        assert not re.search(r"SortMergeJoin|CartesianProduct", plan)
        for frame in (ctx.rel_by_node, ctx.rel_by_way, ctx.rel_closure):
            analyzed = frame._jdf.queryExecution().analyzed().toString()
            local = "LocalRelation" in analyzed and "ResolvedHint" not in analyzed
            assert local == (join == "BroadcastHashJoin"), analyzed


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


def _knn_round_plans(spark, docs_xs, fixture_xs) -> list[str]:
    """The physical plans a 5-point ``knn_kring`` runs over an uncached
    tiled store: its partition rounds."""
    from osm_lib_spark.operators.knn import knn_kring, tiled_node_store

    with open(os.path.join(fixture_xs, "meta.json")) as f:
        pts = [tuple(p) for p in json.load(f)["knn_points"][:5]]
    store = tiled_node_store(parse_nodes(docs_xs))
    rows, plans = plans_during(spark, lambda: knn_kring(None, pts, k=5, tiled=store).collect())
    assert len(rows) == 25
    return plans


def test_new_operator_joins_are_hash_joins(spark, docs_xs, fixture_xs):
    """Round-2 operators must never plan nested-loop/cartesian joins:
    the k-ring rounds are one Arrow UDF scan with no join at all, and
    the LSH-banded embedding dedup and the prefix-filtered Jaccard
    candidates are equi-joins."""
    import re

    from osm_lib_spark.operators.dedup import ngram_prefix_candidates
    from osm_lib_spark.operators.similarity import embedding_dup_pairs

    bad = re.compile(r"BroadcastNestedLoopJoin|CartesianProduct")
    plans = _knn_round_plans(spark, docs_xs, fixture_xs)
    assert any("ArrowEvalPython" in p for p in plans)
    assert not any(bad.search(p) or "SortMergeJoin" in p for p in plans)

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


def test_local_frames_broadcast_without_hints(spark, docs_xs, fixture_xs):
    """The residual IVF-PQ and PQ rerank collects carry no broadcast
    hint: their driver-built side is a local_frame whose stats let the
    planner broadcast it. None plans a sort-merge join, a nested-loop
    join or a cartesian product, nor do the kNN rounds at the 10 KiB
    threshold, which are one Arrow UDF scan each. The corpus (200 rows
    of 16 floats, 72 B a row at its given dim: 14.4 kB) is over it, so
    the ANN queries scan per partition and collect their shortlisted
    rows through a left-semi join against a local_frame of ≤ 3·50 + 3
    vec_ids, under it."""
    import re

    import numpy as np

    from osm_lib_spark.operators.similarity import ivf_pq_topk, pq_topk

    bad = re.compile(r"SortMergeJoin|CartesianProduct|BroadcastNestedLoopJoin")
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(  # a LogicalRDD: no size stats on this side
        [(i, rng.standard_normal(16).astype(np.float32).tolist(), i % 2) for i in range(200)],
        "vec_id long, embedding array<float>, label int",
    )
    # a threshold below the sf-xs node scan's estimate: only the small
    # driver-built sides may broadcast
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(10 * 1024))
    try:
        plans = _knn_round_plans(spark, docs_xs, fixture_xs)
        tops = {
            "ivf_pq_topk": lambda: ivf_pq_topk(emb, k=3, n_queries=3, nlist=4, m=4, kc=4, dim=16, residual=True),
            "pq_topk": lambda: pq_topk(emb, k=3, n_queries=3, m=4, kc=4, dim=16),
        }
        scans = {name: plans_during(spark, lambda: top().count()) for name, top in tops.items()}
    finally:
        spark.conf.set(key, saved)
    assert any("ArrowEvalPython" in p for p in plans)
    assert not any(bad.search(p) for p in plans)
    for name, (n_top, ann_plans) in scans.items():
        assert n_top == 9, name
        assert any(re.search(r"BroadcastHashJoin .*LeftSemi", p) for p in ann_plans), name
        assert not any(bad.search(p) for p in ann_plans), name


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
    read_pbf/read_vex."""
    import numpy as np

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
    }
    for name, df in frames.items():
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in analyzed and "LogicalRDD" not in analyzed, name


def test_row_bytes_is_the_local_relation_estimate(spark):
    """``session.row_bytes`` of each size-rule row shape equals the
    per-row size in the stats of a local_frame of that shape, so a
    collected table that fits under the threshold is broadcast by the
    planner without a hint."""
    from osm_lib_spark.operators.knn import RANKED_DDL
    from osm_lib_spark.operators.pip import TILE_DDL
    from osm_lib_spark.session import local_frame

    assert row_bytes(spark, CLOSURE_DDL) == 24
    for ddl in (CLOSURE_DDL, RANKED_DDL, TILE_DDL):
        n_cols = len(ddl.split(","))
        frame = local_frame(spark, [(0,) * n_cols] * 5, ddl)
        size = frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(size) == 5 * row_bytes(spark, ddl), ddl


# Every localCheckpoint, F.broadcast and .hint( call in osm_lib_spark/,
# by (module, enclosing function, call) → number of calls.
CHECKPOINT_AND_HINT_SITES = {
    ("operators/dedup.py", "_components", "localCheckpoint"): 1,
    ("operators/dedup.py", "_propagate_labels", "localCheckpoint"): 3,
    ("operators/dedup.py", "_spark_dup_pairs", "localCheckpoint"): 1,
    ("operators/dedup.py", "_verify_pairs", "localCheckpoint"): 4,
    ("operators/enrich.py", "enrich_tags", "broadcast"): 1,
    ("operators/extract.py", "_closure_loop", "localCheckpoint"): 2,
    ("operators/extract.py", "_member_index", "hint"): 1,
    ("operators/extract.py", "_member_index", "localCheckpoint"): 1,
    ("operators/extract.py", "bbox_extract_batch", "hint"): 1,
    ("operators/extract.py", "bbox_extract_batch", "localCheckpoint"): 2,
    ("operators/extract.py", "relation_closure_table", "hint"): 1,
    ("operators/extract.py", "relation_closure_table", "localCheckpoint"): 1,
    ("operators/knn.py", "knn_kring", "localCheckpoint"): 1,
    ("operators/pip.py", "_rings_on_rows", "hint"): 1,
    ("operators/similarity.py", "_train_index", "localCheckpoint"): 1,
    ("operators/similarity.py", "cosine_topk", "broadcast"): 1,
    ("streaming/replication.py", "apply_plan", "localCheckpoint"): 1,
}


def test_checkpoint_and_hint_sites_are_listed():
    """The engine's checkpoint and join-hint calls are exactly the ones
    in CHECKPOINT_AND_HINT_SITES: a new site fails this test until it is
    listed there, and a removed one until it is struck, so their number
    is tracked."""
    import ast
    import pathlib
    from collections import Counter

    root = pathlib.Path(__file__).resolve().parents[1] / "osm_lib_spark"
    sites: Counter = Counter()

    class Sites(ast.NodeVisitor):
        def __init__(self, module):
            self.module, self.scope = module, ["<module>"]

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and (
                f.attr in ("localCheckpoint", "hint")
                or (f.attr == "broadcast" and isinstance(f.value, ast.Name) and f.value.id == "F")
            ):
                sites[(self.module, self.scope[-1], f.attr)] += 1
            self.generic_visit(node)

    for path in sorted(root.rglob("*.py")):
        Sites(path.relative_to(root).as_posix()).visit(ast.parse(path.read_text()))
    assert dict(sites) == CHECKPOINT_AND_HINT_SITES
