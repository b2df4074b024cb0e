"""Bounding-box tile extract — the flagship query.

Re-expresses the reference's `GET /minLat,minLon,maxLat,maxLon.pbf`
pipeline (TileOSMSource.java:49-143) as ONE DataFrame DAG over a batch
of boxes; a single extract is a batch of one, as the reference's
concurrent server (VanillaExtract.java:102-148) runs one pipeline per box:

    bboxes → z12 tile ranges (y-inverted, TileOSMSource.java:43-45)
           → envelope filter + bbox × way_tiles range join  (S5, J2)
           → explode refs → dedup → node semi-join          (J1 + J6)
           → relation lookups by node/way                   (J3/J4)
           → one join against the precomputed closure       (J5)
           → (bbox_id, entity_type, id); type-major order in Extract.ids (O1)

Documented deviations from the reference (SURVEY §5.4 — reference bugs,
we implement the intended semantics): the node→relation lookup keys on
nodeId (the reference accidentally uses wayId, TileOSMSource.java:87-89),
relations are emitted once (not once per pass), and the closure frontier
tests the discovered id (TileOSMSource.java:127).

Scale design: the envelope filter reaches the way_tiles parquet scan
(row-group skipping via the Hilbert-sorted layout); J1 deduplicates
probe keys first so both join sides are key-unique (no skew); the
closure table is built once per dataset, and its exact row count picks
a broadcast or a hash-partitioned closure join.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_lib_spark.functions.tiles import bbox_tile_range
from osm_lib_spark.operators.graph import upward_closure
from osm_lib_spark.operators.indexes import build_way_tiles
from osm_lib_spark.session import broadcast_threshold, collect_bounded, local_frame

MAX_CLOSURE_ITERATIONS = 50
CLOSURE_ROW_BYTES = 16  # (relation_id, ancestor_id): two longs


def relation_closure_table(relations: DataFrame) -> tuple[DataFrame, int]:
    """Transitive UPWARD closure of the relation-membership graph:
    (relation_id, ancestor_id) for every ancestor reachable from the
    relation by walking 'is member of' edges ONE or more times, returned
    with its exact row count. A relation is its own ancestor, a
    (r, r) row, exactly when it lies on a membership cycle, a
    self-membership included.

    Computed ONCE per dataset over the (small) relation→relation edge
    set (the relationsByRelation index, OSM.java:156-158); every bbox
    extract then resolves its closure with a single equi-join instead of
    an iterative per-query loop. When the edge set fits under
    ``spark.sql.autoBroadcastJoinThreshold`` it is collected once and
    ``graph.upward_closure`` runs on the driver; the result is a
    LocalRelation of exact size. Otherwise a semi-naive Spark loop runs
    (one extension join, anti-join and checkpoint per round) and raises
    ``ValueError`` if MAX_CLOSURE_ITERATIONS rounds do not reach the
    fixpoint.
    """
    # lazy checkpoint: the bounded collect materializes the edges, which
    # the loop then reuses instead of re-exploding the relations
    edges = (
        relations.select(F.col("id").alias("relation_id"), F.explode("members").alias("m"))
        .where(F.col("m.type") == "RELATION")
        .select(
            F.col("m.member_id").alias("relation_id"),
            F.col("relation_id").alias("ancestor_id"),
        )
    ).localCheckpoint(eager=False)
    table = collect_bounded(edges, CLOSURE_ROW_BYTES)
    if table is not None:
        child, ancestor = upward_closure(
            table.column(0).to_numpy(zero_copy_only=False),
            table.column(1).to_numpy(zero_copy_only=False),
        )
        closure = local_frame(
            relations.sparkSession,
            pa.table([child, ancestor], names=["relation_id", "ancestor_id"]),
            "relation_id long, ancestor_id long",
        )
        return closure, len(child)

    rows = edges.count()
    closure = edges
    frontier = edges
    for _ in range(MAX_CLOSURE_ITERATIONS):
        # extend frontier paths by one parent hop
        step = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.ancestor_id") == F.col("e.relation_id"))
            .select("f.relation_id", "e.ancestor_id")
            .distinct()
        )
        new = step.join(
            closure, ["relation_id", "ancestor_id"], "left_anti"
        ).localCheckpoint(eager=True)
        n_new = new.count()
        if not n_new:
            return closure, rows
        rows += n_new
        closure = closure.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    raise ValueError(
        f"relation closure did not converge in {MAX_CLOSURE_ITERATIONS} rounds"
    )


@dataclass
class ExtractContext:
    """Cached per-dataset state shared by extracts: the node/way member
    indexes, the transitive closure table and its exact row count. Build
    once with ``prepare_extract_context``; each extract is then a pure
    join DAG with no driver-side iteration."""

    rel_by_node: DataFrame
    rel_by_way: DataFrame
    rel_closure: DataFrame
    closure_rows: int


def prepare_extract_context(relations: DataFrame) -> ExtractContext:
    from osm_lib_spark.operators.indexes import rel_member_indexes

    idx = rel_member_indexes(relations)
    closure, closure_rows = relation_closure_table(relations)
    return ExtractContext(
        rel_by_node=idx["node"].localCheckpoint(eager=True),
        rel_by_way=idx["way"].localCheckpoint(eager=True),
        rel_closure=closure,
        closure_rows=closure_rows,
    )


@dataclass
class Extract:
    """One box's entity rows, and the (entity_type, id) frame selecting them."""

    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame
    entity_ids: DataFrame

    def ids(self, ordered: bool = True) -> DataFrame:
        """(entity_type, id) in type-major order (O1,
        OSMEntitySource.java:10-13): nodes, then ways, then relations.
        ``ordered=False`` skips the global sort — use when the consumer
        only aggregates (a Sort below an Aggregate is pure waste)."""
        if not ordered:
            return self.entity_ids
        type_rank = (
            F.when(F.col("entity_type") == "node", 0)
            .when(F.col("entity_type") == "way", 1)
            .otherwise(2)
        )
        return self.entity_ids.orderBy(type_rank, "id")


def ways_in_tile_range(way_tiles: DataFrame, tile_range: tuple[int, int, int, int]) -> DataFrame:
    """Tile-range scan (S5, TileOSMSource.java:59-68): the way_tiles rows
    inside the inclusive (min_x, min_y, max_x, max_y) range.

    The between-predicates are plain column filters, so they push down
    into the parquet/Iceberg scan and prune row groups when way_tiles is
    stored Hilbert-sorted (write_way_tiles_partitioned).
    """
    min_x, min_y, max_x, max_y = tile_range
    return way_tiles.where(
        F.col("xtile").between(min_x, max_x) & F.col("ytile").between(min_y, max_y)
    )


def bbox_extract_batch(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    bboxes: list[tuple[float, float, float, float]],
    way_tiles: DataFrame | None = None,
    ctx: ExtractContext | None = None,
) -> DataFrame:
    """Many extracts as ONE DataFrame DAG → (bbox_id, entity_type, id).

    The batch analog of the reference's concurrent extract server
    (VanillaExtract.java:102-148): instead of one join chain per bbox,
    the bbox set becomes a dimension table joined against way_tiles
    with range predicates, and every downstream join carries bbox_id as
    part of the key. A batch of B extracts costs one set of shuffles
    (not B sets). ``way_tiles`` may be a pre-built (ideally
    Hilbert-partitioned) index table, else it is derived on the fly;
    ``ctx`` (``prepare_extract_context``) is reusable across calls.
    """
    spark = nodes.sparkSession
    if way_tiles is None:
        way_tiles = build_way_tiles(ways, nodes)
    if ctx is None:
        ctx = prepare_extract_context(relations)

    ranges = [bbox_tile_range(*b) for b in bboxes]
    min_xs, min_ys, max_xs, max_ys = zip(*ranges)
    envelope = (min(min_xs), min(min_ys), max(max_xs), max(max_ys))
    # A local_frame is a LocalRelation of exactly known size
    # (28 B/box), so the planner itself broadcasts it into the range join
    # while it fits under spark.sql.autoBroadcastJoinThreshold.
    bbox_df = local_frame(
        spark,
        list(zip(range(len(ranges)), min_xs, min_ys, max_xs, max_ys)),
        "bbox_id int, min_x int, min_y int, max_x int, max_y int",
    )
    # lazy checkpoint: b_ways feeds THREE consumers (the ref explode,
    # the way→relation join, the way output branch); Spark plans union
    # branches as separate subtrees (no ReuseExchange matched here), so
    # without the barrier the BroadcastNestedLoopJoin over way_tiles
    # re-executes once per consumer (plan audit r06: the BNLJ subtree
    # appeared 3× in the physical plan).
    b_ways = (
        ways_in_tile_range(way_tiles, envelope)
        .join(
            bbox_df,
            F.col("xtile").between(F.col("min_x"), F.col("max_x"))
            & F.col("ytile").between(F.col("min_y"), F.col("max_y")),
        )
        .select("bbox_id", "way_id")
        .localCheckpoint(eager=False)
    )

    # One exchange, keyed by ref_id only: hash(ref_id) satisfies the
    # distinct's ClusteredDistribution on (bbox_id, ref_id) — rows with
    # equal pairs share a ref_id — AND the downstream semi-join's
    # requirement on ref_id, so the dedup and the node join run off the
    # SAME shuffle (was: one exchange on the pair for distinct, then a
    # second full exchange of the deduped set on ref_id for the join).
    refs = (
        b_ways.join(ways.select(F.col("id").alias("way_id"), "node_ids"), "way_id")
        .select("bbox_id", F.explode("node_ids").alias("ref_id"))
        .repartition("ref_id")
        .distinct()
    )
    # lazy checkpoint: b_nodes feeds BOTH the node output and the
    # node→relation join (same re-execution hazard as b_ways)
    # SHUFFLE_HASH: at scale neither side broadcasts (refs is the
    # exploded batch, nodes the corpus); hash-building the node side
    # beats sort-merge — it skips sorting both multi-million-row sides
    # (same reasoning as the bench's way→node resolution join). Orphan
    # refs drop out (logged-and-skipped, TileOSMSource.java:80-82).
    b_nodes = (
        refs.join(
            nodes.select(F.col("id").alias("ref_id")).hint("SHUFFLE_HASH"),
            "ref_id",
            "left_semi",
        )
        .select("bbox_id", F.col("ref_id").alias("node_id"))
        .localCheckpoint(eager=False)
    )

    rel_n = ctx.rel_by_node.join(
        b_nodes.withColumnRenamed("node_id", "member_id"), "member_id"
    ).select("bbox_id", "relation_id")
    rel_w = ctx.rel_by_way.join(
        b_ways.withColumnRenamed("way_id", "member_id"), "member_id"
    ).select("bbox_id", "relation_id")
    # lazy checkpoint: seen feeds the direct relation output AND the
    # closure join (was computed twice).
    seen = rel_n.unionByName(rel_w).distinct().localCheckpoint(eager=False)
    # J5 (TileOSMSource.java:112-132 semantics): the closure table is
    # per dataset, so unlike seen it does not grow with the batch, and
    # its exact size is known. Broadcast it when that fits under
    # spark.sql.autoBroadcastJoinThreshold, else hash-join: left to the
    # planner, a closure from the Spark loop is checkpointed and keeps
    # its origin plan's estimate (17 GB for the 10-row sf-xs closure on
    # Spark 4.1.2), and the join plans as a SortMergeJoin.
    if ctx.closure_rows * CLOSURE_ROW_BYTES <= broadcast_threshold(spark):
        closure = F.broadcast(ctx.rel_closure)
    else:
        closure = ctx.rel_closure.hint("SHUFFLE_HASH")
    ancestors = seen.join(closure, "relation_id").select(
        "bbox_id", F.col("ancestor_id").alias("relation_id")
    )
    b_rels = seen.unionByName(ancestors).distinct()

    return (
        b_nodes.select("bbox_id", F.lit("node").alias("entity_type"), F.col("node_id").alias("id"))
        .unionByName(b_ways.select("bbox_id", F.lit("way").alias("entity_type"), F.col("way_id").alias("id")))
        .unionByName(b_rels.select("bbox_id", F.lit("relation").alias("entity_type"), F.col("relation_id").alias("id")))
    )


def bbox_extract(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    bbox: tuple[float, float, float, float],
    way_tiles: DataFrame | None = None,
    ctx: ExtractContext | None = None,
) -> Extract:
    """Extract of one ``bbox`` = (min_lat, min_lon, max_lat, max_lon): a
    batch of one, each entity table semi-joined against its ids."""
    entity_ids = bbox_extract_batch(nodes, ways, relations, [bbox], way_tiles, ctx).drop("bbox_id")

    def rows(table: DataFrame, entity_type: str) -> DataFrame:
        ids = entity_ids.where(F.col("entity_type") == entity_type).select("id")
        return table.join(ids, "id", "left_semi")

    return Extract(
        nodes=rows(nodes, "node"),
        ways=rows(ways, "way"),
        relations=rows(relations, "relation"),
        entity_ids=entity_ids,
    )
