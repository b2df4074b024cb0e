"""Spark job budgets of the driver paths at the session threshold. A
Spark job costs ~0.7 CPU-s here whatever its rows, so for a small input
the job count sets an operator's cost: a change that adds jobs back to
one of these calls fails this test, not only a later benchmark."""

import json
import os

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import loaded, spark_jobs, threshold


def _budget(spark, fn):
    fn()  # warm: the cached inputs are materialized and the plans compiled
    return spark_jobs(spark, fn)[1]


def test_driver_path_job_budgets(spark, docs_xs, fixture_xs):
    """Each index ANN operator with its collect runs ≤ 2 jobs (the
    bounded collect of the corpus; the query answers in numpy; 5-8
    jobs when the query ran as Spark joins) and, at threshold -1, 3
    (``ivf_topk``), 4 (``ivf_kmeans_topk``), 7 (``pq_topk`` and
    ``ivf_pq_topk``) and 8 (residual ``ivf_pq_topk``), where the Spark
    joins and windows ran 6, 7, 10, 10 and 11; ``ivf_topk`` over the
    corpus switch ≤ 3 (a loaded cache known to be over skips the
    bounded collect, then the stride and query-row collects and the
    partition scan; the Spark tail ran 5), MinHash components with a
    digest ≤ 3 (the shingle collect, then the aggregate's two jobs over
    the result's LocalRelation; a join to ``documents`` adds one),
    ``prepare_extract_context`` ≤ 3 (the member indexes' bounded
    collects) and ``bbox_extract_batch`` with a per-box count ≤ 2 over
    loaded caches (the aggregate's two: the refs and the node probe
    read the resident copies) and ≤ 7 over uncached parquet-scanned
    inputs (its two collects, then the aggregate's two; 6 when the
    inputs were caches that its collects had loaded, as this test
    passed them before resident copies; 7 at that commit over these
    inputs too; the Spark chain ran 10)."""
    from osm_lib_spark.operators.dedup import dup_components
    from osm_lib_spark.operators.extract import bbox_extract_batch, prepare_extract_context
    from osm_lib_spark.operators.indexes import build_way_tiles
    from osm_lib_spark.operators.similarity import ivf_kmeans_topk, ivf_pq_topk, ivf_topk, pq_topk
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways

    rng = np.random.default_rng(2)
    emb = loaded(spark.createDataFrame(
        [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    ))
    operators = {
        "ivf_topk": lambda: ivf_topk(emb, nlist=4).collect(),
        "ivf_kmeans_topk": lambda: ivf_kmeans_topk(emb, nlist=4).collect(),
        "pq_topk": lambda: pq_topk(emb).collect(),
        "ivf_pq_topk": lambda: ivf_pq_topk(emb, nlist=4).collect(),
        "ivf_pq_topk residual": lambda: ivf_pq_topk(emb, nlist=4, residual=True).collect(),
    }
    jobs = {name: _budget(spark, fn) for name, fn in operators.items()}
    assert all(n <= 2 for n in jobs.values()), jobs
    with threshold(spark, "-1"):
        jobs = {name: _budget(spark, fn) for name, fn in operators.items()}
    budgets = {"ivf_topk": 3, "ivf_kmeans_topk": 4, "pq_topk": 7, "ivf_pq_topk": 7, "ivf_pq_topk residual": 8}
    assert all(jobs[name] <= n for name, n in budgets.items()), jobs
    # over the corpus switch (200 rows at 4104 B, no dim given, > 10 KiB)
    # the cache's row count says so: only the stride rows are collected
    with threshold(spark, "10240"):
        assert _budget(spark, operators["ivf_topk"]) <= 3

    dup = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, dup if i % 3 else f"doc {i} alone") for i in range(30)], "doc_id long, text string"
    ).cache()
    digest = F.bit_xor(F.xxhash64("doc_id", "component_id", "keep"))
    assert _budget(spark, lambda: dup_components(docs).select(digest).first()) <= 3

    relations = parse_relations(docs_xs).cache()
    assert _budget(spark, lambda: prepare_extract_context(relations)) <= 3

    ctx = prepare_extract_context(relations)
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        boxes = [tuple(b) for b in json.load(f)["bboxes"].values()]

    def batch(nodes, ways, way_tiles):
        out = bbox_extract_batch(nodes, ways, relations, boxes, way_tiles=way_tiles, ctx=ctx)
        return lambda: out.groupBy("bbox_id", "entity_type").count().collect()

    nodes, ways = parse_nodes(docs_xs), parse_ways(docs_xs)
    assert _budget(spark, lambda: batch(nodes, ways, build_way_tiles(ways, nodes))()) <= 7
    nodes, ways = loaded(nodes), loaded(ways)
    way_tiles = loaded(build_way_tiles(ways, nodes))
    assert _budget(spark, lambda: batch(nodes, ways, way_tiles)()) <= 2
    for frame in (emb, docs, relations, nodes, ways, way_tiles):
        frame.unpersist()


def test_knn_and_pip_job_budgets(spark, docs_xs, fixture_xs, monkeypatch):
    """``knn_kring`` over a ``tiled_node_store``, with its collect, for
    the fixture's 5 points and a 105-point fan around them: no job over
    a loaded cache (every round ranks the resident store; the result
    is a LocalRelation, collected without a job), one job a round
    uncached (the partition round, 5 rounds on this fixture for both
    batches; a strip round with its window ran 3, a coarse-cell round
    as many) and 19 at threshold -1. A 10-polygon
    ``points_in_polygons_bucketed`` over a ``polygons_df`` with a count
    runs ≤ 2 over loaded cached nodes (the count's two over the
    result's LocalRelation; the polygons come without a job) and ≤ 3
    uncached (the candidate collect first; the broadcast-rings form ran
    5)."""
    import osm_lib_spark.operators.knn as knn
    from osm_lib_spark.operators.pip import grid_polygons, points_in_polygons_bucketed, polygons_df
    from osm_lib_spark.sources.span_codec import parse_nodes

    with open(os.path.join(fixture_xs, "meta.json")) as f:
        meta = json.load(f)
    nodes = parse_nodes(docs_xs)
    pts = [tuple(p) for p in meta["knn_points"][:5]]
    fan = [
        (21 * q + i, lat + (i % 5 - 2) * 0.021, lon + (i % 7 - 3) * 0.017)
        for q, (_, lat, lon) in enumerate(pts)
        for i in range(21)
    ]
    rounds, real = [], knn._partition_round
    monkeypatch.setattr(knn, "_partition_round", lambda *a: rounds.append(1) or real(*a))
    centers = [(float(p[1]), float(p[2])) for p in meta["knn_points"][:2]]
    polys = polygons_df(spark, dict(list(grid_polygons(centers, n_per=5).items())[:10]))
    store = knn.tiled_node_store(nodes)
    for batch in (pts, fan):
        rounds.clear()
        assert _budget(spark, lambda: knn.knn_kring(None, batch, k=10, tiled=store).collect()) == 5
        assert len(rounds) == 2 * 5, len(batch)
        with threshold(spark, "-1"):
            assert _budget(spark, lambda: knn.knn_kring(None, batch, k=10, tiled=store).collect()) == 19
    assert _budget(spark, lambda: points_in_polygons_bucketed(nodes, polys).count()) <= 3
    nodes, store = loaded(nodes), loaded(knn.tiled_node_store(nodes))
    for batch in (pts, fan):
        rounds.clear()
        assert _budget(spark, lambda: knn.knn_kring(None, batch, k=10, tiled=store).collect()) == 0
        assert rounds == [], len(batch)
    assert _budget(spark, lambda: points_in_polygons_bucketed(nodes, polys).count()) <= 2
    for frame in (store, nodes):
        frame.unpersist()


def test_codec_job_budgets(spark, docs_xs, tmp_path):
    """On the sf-xs tables ``write_pbf`` and ``write_vex`` run no job
    over loaded caches (the driver encodes the resident copies) and 1
    uncached (the sink's bounded collect; the aggregate, shuffle and
    ``mapInArrow`` path ran 4), and ``read_pbf``/``read_vex`` with a
    grouped digest 2 each (the aggregate's two jobs over the blob-index
    ``LocalRelation``; its ``repartition`` added a third)."""
    from osm_lib_spark.sources.pbf import read_pbf, write_pbf
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
    from osm_lib_spark.sources.vex import read_vex, write_vex

    tables = [fn(docs_xs) for fn in (parse_nodes, parse_ways, parse_relations)]
    digest = F.bit_xor(F.xxhash64("id", "fixed_lat", "fixed_lon", "tags", "node_ids", "members"))
    for fmt, write, read in (("pbf", write_pbf, read_pbf), ("vex", write_vex, read_vex)):
        path = str(tmp_path / f"xs.{fmt}")
        assert _budget(spark, lambda: write(path, *tables)) <= 1, fmt
        assert _budget(spark, lambda: read(spark, path).groupBy("entity_type").agg(digest).collect()) <= 2, fmt
    tables = [loaded(t) for t in tables]
    for write in (write_pbf, write_vex):
        assert _budget(spark, lambda: write(str(tmp_path / "cached"), *tables)) == 0, write
    for frame in tables:
        frame.unpersist()
