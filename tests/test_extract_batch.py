"""One bbox_extract_batch over the five named boxes must give each box
exactly its golden (entity_type, id) set, and the driver path must
return the Spark chain's rows."""

import json
import os

import pytest
from pyspark.sql import functions as F

from osm_lib_spark.operators.extract import bbox_extract_batch, prepare_extract_context
from osm_lib_spark.operators.indexes import build_way_tiles
from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
from tests.conftest import assert_df_equal, both_paths, golden, loaded, record_resident, spark_jobs, threshold

NAMES = ["dense", "wide", "world", "empty", "equator"]


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


def test_batch_equals_per_bbox(spark, docs_xs, fixture_xs, meta_xs):
    batch = bbox_extract_batch(
        parse_nodes(docs_xs),
        parse_ways(docs_xs),
        parse_relations(docs_xs),
        [tuple(meta_xs["bboxes"][n]) for n in NAMES],
    ).cache()
    for i, name in enumerate(NAMES):
        assert_df_equal(
            batch.where(batch.bbox_id == i),
            golden(fixture_xs, f"extract_{name}"),
            sort_cols=["entity_type", "id"],
        )
    batch.unpersist()


def _rows(df):
    return sorted(map(tuple, df.select("bbox_id", "entity_type", "id").collect()))


def _is_local(df) -> bool:
    """Whether ``df`` plans over LocalRelations only (the driver path)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return {leaves.apply(i).nodeName() for i in range(leaves.size())} == {"LocalRelation"}


def _hand_entities(spark):
    """Nodes 1-6 near (10°, 20°) and node 7 near (-30°, -60°); refs to the
    missing nodes 98 and 99 (orphans); relations in a 3-deep chain
    4 → 3 → 2 → 1 and a 2-cycle 10 ⇄ 11, and a null member id."""

    def fixed(deg):
        return int(round(deg * 1e7))

    nodes = spark.createDataFrame(
        [(i, fixed(10.0 + 0.01 * i), fixed(20.0 + 0.01 * i), []) for i in range(1, 7)]
        + [(7, fixed(-30.0), fixed(-60.0), [])],
        "id long, fixed_lat int, fixed_lon int, tags array<struct<key: string, value: string>>",
    )
    ways = spark.createDataFrame(
        [
            (100, [1, 2, 99, 2], []),  # an orphan ref and a repeated one
            (101, [3, 7], []),  # in the first box by its first node only
            (102, [98, 1], []),  # first node orphan: in no tile
            (103, [4, 4, 5], []),
            (104, [7], []),
        ],
        "id long, node_ids array<long>, tags array<struct<key: string, value: string>>",
    )

    def member(kind, i):
        return (kind, i, "")

    relations = spark.createDataFrame(
        [
            (1, [member("RELATION", 2)]),
            (2, [member("RELATION", 3)]),
            (3, [member("RELATION", 4)]),
            (4, [member("NODE", 1), member("NODE", 1)]),
            (10, [member("RELATION", 11), member("WAY", 101)]),
            (11, [member("RELATION", 10)]),
            (20, [member("NODE", 99)]),  # an orphan ref
            (21, [member("WAY", 102)]),  # a way in no tile
            (30, [member("NODE", 7), member("WAY", 104)]),
            (40, [member("NODE", None)]),  # a member id that did not parse
        ],
        "id long, members array<struct<type: string, member_id: long, role: string>>",
    )
    return nodes, ways, relations


def test_driver_path_equals_spark_chain(spark, docs_xs, meta_xs, monkeypatch):
    """The driver path (session threshold) and the Spark chain
    (threshold -1) return the same (bbox_id, entity_type, id) rows on
    the sf-xs named boxes as one batch, on an empty box alone, and on
    hand-built entities with orphan refs, a 3-deep relation chain and a
    2-cycle, over uncached inputs (the driver path collects) and over
    loaded caches with a cached way_tiles (it reads their resident
    copies). Where the context fits but the call's way refs do not, the
    call falls back to the Spark chain after its collect, with the
    same rows."""
    xs = parse_nodes(docs_xs), parse_ways(docs_xs), parse_relations(docs_xs)
    boxes = [tuple(meta_xs["bboxes"][n]) for n in NAMES]
    hand = _hand_entities(spark)
    hand_boxes = [(9.9, 19.9, 10.05, 20.05), (-30.1, -60.1, -29.9, -59.9), (50.0, 50.0, 50.1, 50.1)]
    reads = record_resident(monkeypatch, "osm_lib_spark.operators.extract")
    cases = ((xs, boxes), (xs, [tuple(meta_xs["bboxes"]["empty"])]), (hand, hand_boxes))
    for entities, batch in cases:
        # filters that keep every row: no cache left by another test matches them
        uncached = [f.where(F.col("id").isNotNull()) for f in entities]
        driver, chain = both_paths(spark, lambda: bbox_extract_batch(*uncached, batch))
        assert _is_local(driver) and not _is_local(chain)
        assert _rows(driver) == _rows(chain)
        assert reads and not any(r is not None for r in reads)
        reads.clear()
        nodes, ways, relations = (loaded(f) for f in entities)
        way_tiles = loaded(build_way_tiles(ways, nodes))
        cached = bbox_extract_batch(nodes, ways, relations, batch, way_tiles=way_tiles)
        assert _is_local(cached) and _rows(cached) == _rows(driver)
        assert reads and all(r is not None for r in reads)
        reads.clear()
        for frame in (nodes, ways, relations, way_tiles):
            frame.unpersist()
    rows = _rows(driver)
    assert (0, "node", 7) in rows and (0, "node", 99) not in rows and (0, "way", 102) not in rows
    assert [i for b, t, i in rows if b == 0 and t == "relation"] == [1, 2, 3, 4, 10, 11, 30]
    assert [i for b, t, i in rows if b == 1 and t == "relation"] == [30]
    assert not [r for r in rows if r[0] == 2]
    # an id that did not parse has no int64 form: the Spark chain runs, for a
    # null relation id with a node member or a relation member, and for a
    # null relation member id
    for members, rel_id in (([("NODE", 1, "")], None), ([("RELATION", 1, "")], None), ([("RELATION", None, "")], 5)):
        null_id = spark.createDataFrame([(rel_id, members)], hand[2].schema)
        assert prepare_extract_context(hand[2].unionByName(null_id)).arrays is None

    with threshold(spark, "10000"):
        ctx = prepare_extract_context(xs[2])
        fallback, jobs = spark_jobs(spark, lambda: bbox_extract_batch(*xs, boxes, ctx=ctx))
        assert ctx.arrays is not None and jobs >= 1 and not _is_local(fallback)
        fallback_rows = _rows(fallback)
    with threshold(spark, "-1"):
        assert fallback_rows == _rows(bbox_extract_batch(*xs, boxes))
