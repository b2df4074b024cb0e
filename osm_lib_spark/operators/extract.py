"""Bounding-box tile extract — the flagship query.

Re-expresses the reference's `GET /minLat,minLon,maxLat,maxLon.pbf`
pipeline (TileOSMSource.java:49-143) over a batch of boxes; a single
extract is a batch of one, as the reference's concurrent server
(VanillaExtract.java:102-148) runs one pipeline per box.

Where it runs follows the engine's size rule (``session.collect_bounded``).
When the context's member indexes and closure fit under
``spark.sql.autoBroadcastJoinThreshold`` (``ExtractContext.arrays``) and
so do the batch's way refs (each counted at its rows in every frame the
driver path builds) and its result rows, the batch resolves on the
driver, as osm-lib answers from in-memory indexes:
the refs of the ways in the envelope and which of them exist as nodes
are read from the ``session.resident`` copies of cached ``way_tiles``,
``ways`` and ``nodes`` (no job), else come in two collects (the refs
bounded), the rest in numpy, and one LocalRelation of per-(box, type)
id lists out, exploded (``_driver_batch``; with a per-box count 2 Spark
jobs over loaded caches, 6-7 over uncached inputs, against the chain's
10). Otherwise it runs as ONE DataFrame DAG:

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
closure table and the member indexes are built once per dataset, as
LocalRelations the planner broadcasts by their exact size when they
fit under ``spark.sql.autoBroadcastJoinThreshold``, else as hinted
hash-join sides.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_lib_spark.functions.tiles import bbox_tile_range
from osm_lib_spark.operators.graph import lookup, upward_closure
from osm_lib_spark.operators.indexes import build_way_tiles
from osm_lib_spark.session import broadcast_threshold, collect_bounded, local_frame, resident, row_bytes

MAX_CLOSURE_ITERATIONS = 50
CLOSURE_DDL = "relation_id long, ancestor_id long"
EXTRACT_DDL = "bbox_id int, entity_type string, id long"

# (key, value) int64 arrays sorted by key: a driver-side index
Index = tuple[np.ndarray, np.ndarray]


def relation_closure_table(relations: DataFrame) -> tuple[DataFrame, Index | None]:
    """Transitive UPWARD closure of the relation-membership graph:
    (relation_id, ancestor_id) for every ancestor reachable from the
    relation by walking 'is member of' edges ONE or more times. A
    relation is its own ancestor, a (r, r) row, exactly when it lies on
    a membership cycle, a self-membership included.

    Computed ONCE per dataset over the (small) relation→relation edge
    set (the relationsByRelation index, OSM.java:156-158); every bbox
    extract then resolves its closure with a single equi-join instead of
    an iterative per-query loop. When the edge set fits under
    ``spark.sql.autoBroadcastJoinThreshold`` it is collected once and
    ``graph.upward_closure`` runs on the driver; the result is a
    LocalRelation of exact size, which the planner broadcasts while it
    fits. Otherwise a semi-naive Spark loop runs (one extension join,
    anti-join and checkpoint per round) and raises ``ValueError`` if
    MAX_CLOSURE_ITERATIONS rounds do not reach the fixpoint. A closure
    over the threshold carries a SHUFFLE_HASH hint: left to the planner,
    the loop's checkpointed result keeps its origin plan's estimate
    (17 GB for the 10-row sf-xs closure on Spark 4.1.2), and the
    extract's closure join plans as a SortMergeJoin.

    Edges with a null id take the loop too: a null joins nothing there,
    where int64 arrays would hold it as int64 min and chain through it.

    Returns (the closure frame, its (relation_id, ancestor_id) arrays
    sorted by relation_id when the driver built it and it fits under the
    threshold, else None).
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
    table = collect_bounded(edges)
    if table is None or table.column(0).null_count or table.column(1).null_count:
        closure = _closure_loop(edges)
    else:
        child, ancestor = upward_closure(
            table.column(0).to_numpy(zero_copy_only=False),
            table.column(1).to_numpy(zero_copy_only=False),
        )
        spark = relations.sparkSession
        closure = local_frame(
            spark, pa.table([child, ancestor], names=["relation_id", "ancestor_id"]), CLOSURE_DDL
        )
        if len(child) * row_bytes(spark, CLOSURE_DDL) <= broadcast_threshold(spark):
            return closure, (child, ancestor)
    return closure.hint("SHUFFLE_HASH"), None


def _closure_loop(edges: DataFrame) -> DataFrame:
    """Semi-naive fixpoint of ``edges`` in Spark, one round per hop.

    The loop's frames are joined by renamed columns, not through
    ``alias``: an aliased frame's output attributes carry its qualifier,
    and the constraints a checkpoint keeps from its plan
    (isnotnull(ancestor_id) once ``relations`` is filtered on id) name
    them without it. Spark's checkpoint relation matches the two with
    the qualifier, so the constraint keeps an exprId its output lacks,
    and the union with ``closure`` failed with "key not found:
    ancestor_id#…" in ``UnionBase.rewriteConstraints``."""
    hops = edges.select(F.col("relation_id").alias("hop_id"), F.col("ancestor_id").alias("hop_ancestor"))
    closure = edges
    frontier = edges
    for _ in range(MAX_CLOSURE_ITERATIONS):
        # extend frontier paths by one parent hop
        step = (
            frontier.join(hops, F.col("ancestor_id") == F.col("hop_id"))
            .select("relation_id", F.col("hop_ancestor").alias("ancestor_id"))
            .distinct()
        )
        seen = closure.select(F.col("relation_id").alias("seen_id"), F.col("ancestor_id").alias("seen_ancestor"))
        # null-safe: a path from a null id is found once, not every round
        same = F.col("relation_id").eqNullSafe(F.col("seen_id")) & F.col("ancestor_id").eqNullSafe(
            F.col("seen_ancestor")
        )
        new = step.join(seen, same, "left_anti").localCheckpoint(eager=True)
        if not new.count():
            return closure
        closure = closure.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    raise ValueError(
        f"relation closure did not converge in {MAX_CLOSURE_ITERATIONS} rounds"
    )


def _member_index(index: DataFrame) -> tuple[DataFrame, Index | None]:
    """A (member_id, relation_id) index, reused by every extract: a
    LocalRelation when it fits under
    ``spark.sql.autoBroadcastJoinThreshold`` (one bounded collect; the
    planner broadcasts it by its exact size), else the checkpoint with a
    SHUFFLE_HASH hint. The collect's job materializes the checkpoint, so
    an index over the threshold is not computed twice (at a threshold
    ≤ 0 no collect runs, and the first extract materializes it).
    Returns (the frame, the collected arrays sorted by member_id, or
    None over the threshold or with a null relation_id, which int64
    arrays cannot hold; a null member_id joins nothing and is left out)."""
    index = index.localCheckpoint(eager=False)
    table = collect_bounded(index)
    if table is None:
        return index.hint("SHUFFLE_HASH"), None
    frame = local_frame(index.sparkSession, table, "member_id long, relation_id long")
    if table.column("relation_id").null_count:
        return frame, None
    table = table.filter(table.column("member_id").is_valid())
    member, relation = (table.column(c).to_numpy() for c in ("member_id", "relation_id"))
    order = np.argsort(member, kind="stable")
    return frame, (member[order], relation[order])


@dataclass
class ExtractContext:
    """Cached per-dataset state shared by extracts: the node/way member
    indexes and the transitive closure table. Build once with
    ``prepare_extract_context``. ``arrays`` holds the same three as
    int64 (key, value) arrays sorted by key, when all three fit under
    ``spark.sql.autoBroadcastJoinThreshold``; the driver-side extract
    (``_driver_batch``) resolves from them, the Spark chain from the
    frames."""

    rel_by_node: DataFrame
    rel_by_way: DataFrame
    rel_closure: DataFrame
    arrays: tuple[Index, Index, Index] | None = None


def prepare_extract_context(relations: DataFrame) -> ExtractContext:
    from osm_lib_spark.operators.indexes import rel_member_indexes

    idx = rel_member_indexes(relations)
    (by_node, node_arrays), (by_way, way_arrays) = (_member_index(idx[k]) for k in ("node", "way"))
    closure, closure_arrays = relation_closure_table(relations)
    arrays = (node_arrays, way_arrays, closure_arrays)
    return ExtractContext(by_node, by_way, closure, None if any(a is None for a in arrays) else arrays)


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


def _driver_batch(
    nodes: DataFrame,
    ways: DataFrame,
    way_tiles: DataFrame,
    envelope: tuple[int, int, int, int],
    ranges: list[tuple[int, int, int, int]],
    arrays: tuple[Index, Index, Index],
) -> DataFrame | None:
    """``bbox_extract_batch`` resolved on the driver, the way osm-lib
    answers a tile extract from in-memory indexes (TileOSMSource.java:49-143):
    numpy over the refs of the ways in the batch's ``envelope`` and
    ``ExtractContext.arrays``. Returns the ``EXTRACT_DDL`` rows exploded
    from one ``local_frame``, or None when the refs or the result rows
    are over ``spark.sql.autoBroadcastJoinThreshold``: the refs are
    counted as one (way_id, xtile, ytile, pos, ref_id) row each, the
    way rows and distinct refs box by box as they are found, and the
    relation rows once the closure is joined.

    When ``way_tiles`` and ``ways`` are loaded caches held by
    ``session.resident`` (``way_tiles`` as cached, before the envelope
    filter), the envelope filter and the way⋈refs join run in numpy and
    no job runs; else the refs come in one bounded collect (the planner
    broadcasts the envelope's way_tiles rows into ``ways`` while they
    fit), whose two jobs are spent over the bound before the chain
    runs. A way row starts at pos 0, or is one row with a null pos when
    it has no refs. Way ids are keys: a tiled way with no ``ways`` row
    drops out here, where the Spark chain emits it. Which refs exist as
    nodes (orphan refs drop out, TileOSMSource.java:80-82) is read from
    the resident ``nodes``, else from one semi-join collect.
    """
    spark = nodes.sparkSession
    # a ref is a row of each frame the driver path builds: the refs, the
    # node probe, its answer and the result (108 B); counted at the refs'
    # 36 B alone, the path tied the chain's CPU from 60% of that bound
    # and took 1.3-1.5x its wall (sf-m, one box, local[4])
    per_ref = sum(row_bytes(spark, ddl) for ddl in (REFS_DDL, "ref_id long", "ref_id long", EXTRACT_DDL))
    tiles_copy, ways_copy = resident(way_tiles), resident(ways)
    if tiles_copy is not None and ways_copy is not None:
        found = _resident_refs(tiles_copy, ways_copy, envelope, broadcast_threshold(spark) // per_ref)
    else:
        found = _collected_refs(ways, ways_in_tile_range(way_tiles, envelope), per_ref)
    if found is None:
        return None
    way_id, xtile, ytile, ref_way, ref_id = found

    # S5 + J2, then J1: each box's way rows (its way_tiles rows in the box)
    # and the distinct refs of those ways, the result rows counted box by
    # box so that no more than the bound is ever materialized
    rows = np.argsort(xtile, kind="stable")
    xs = xtile[rows]
    bound = broadcast_threshold(spark) // row_bytes(spark, EXTRACT_DDL)
    hits, box_refs, n_rows = [], [], 0
    for x0, y0, x1, y1 in ranges:
        cand = rows[np.searchsorted(xs, x0, "left") : np.searchsorted(xs, x1, "right")]
        hit = way_id[cand[(ytile[cand] >= y0) & (ytile[cand] <= y1)]]
        refs_in_box = np.unique(lookup(np.unique(hit), ref_way, ref_id)[1])
        n_rows += len(hit) + len(refs_in_box)
        if n_rows > bound:
            return None
        hits.append(hit)
        box_refs.append(refs_in_box)
    box = np.arange(len(ranges), dtype=np.int32)
    b_way, w_id = np.repeat(box, [len(h) for h in hits]), np.concatenate(hits)
    b_ref, ref = np.repeat(box, [len(r) for r in box_refs]), np.concatenate(box_refs)

    # J1's node semi-join: orphan refs drop out. The answer is at most the
    # distinct refs, which the collect above already bounded.
    if len(ref):
        nodes_copy = resident(nodes)
        if nodes_copy is not None:
            node_ids = nodes_copy.column("id")
        else:
            probe = local_frame(spark, pa.table([np.unique(ref)], names=["ref_id"]), "ref_id long")
            node_ids = nodes.select(F.col("id").alias("ref_id")).join(probe, "ref_id", "left_semi").toArrow().column(0)
        keep = np.isin(ref, node_ids.drop_null().to_numpy())
        b_ref, ref = b_ref[keep], ref[keep]

    # J3/J4 then J5: relations by node and by way, then their ancestors
    (node_key, node_rel), (way_key, way_rel), (child, ancestor) = arrays
    b_w, w = _distinct(b_way, w_id)
    at_n, rel_n = lookup(ref, node_key, node_rel)
    at_w, rel_w = lookup(w, way_key, way_rel)
    b_seen, seen = _distinct(np.r_[b_ref[at_n], b_w[at_w]], np.r_[rel_n, rel_w])
    at_a, anc = lookup(seen, child, ancestor)
    b_rel, rel = _distinct(np.r_[b_seen, b_seen[at_a]], np.r_[seen, anc])
    if len(ref) + len(w_id) + len(rel) > bound:
        return None

    # one row per (bbox_id, entity_type) holding its ids, exploded: a
    # LocalRelation of 3·B rows ships to the tasks faster than one row per
    # id (12-box sf-s batch, 230k ids, + groupBy count: ~1 against ~2.5 CPU-s)
    groups = pa.concat_tables(
        pa.table(
            [
                box,
                pa.array([entity_type] * len(box)),
                pa.ListArray.from_arrays(np.searchsorted(b, np.r_[box, len(box)]).astype(np.int32), ids),
            ],
            names=["bbox_id", "entity_type", "ids"],
        )
        for entity_type, b, ids in (("node", b_ref, ref), ("way", b_way, w_id), ("relation", b_rel, rel))
    )
    grouped = local_frame(spark, groups, "bbox_id int, entity_type string, ids array<long>")
    return grouped.select("bbox_id", "entity_type", F.explode("ids").alias("id"))


REFS_DDL = "way_id long, xtile int, ytile int, pos int, ref_id long"
# (way_id, xtile, ytile) of the envelope's tiled ways with a ``ways`` row,
# then their (way_id, ref_id) refs sorted by way_id
Refs = tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]


def _collected_refs(ways: DataFrame, tiled: DataFrame, per_ref: int) -> Refs | None:
    """``_driver_batch``'s refs from one bounded collect of the
    ``REFS_DDL`` rows of the ways in ``tiled`` (``per_ref`` bytes a row),
    or None over the bound."""
    refs = (
        ways.select(F.col("id").alias("way_id"), "node_ids")
        .join(tiled.select("way_id", "xtile", "ytile"), "way_id")
        .select("way_id", "xtile", "ytile", F.posexplode_outer("node_ids").alias("pos", "ref_id"))
    )
    table = collect_bounded(refs, per_ref)
    if table is None:
        return None
    way_id, xtile, ytile = (table.column(c).to_numpy() for c in ("way_id", "xtile", "ytile"))
    starts = pc.fill_null(table.column("pos"), 0).to_numpy() == 0
    has_ref = table.column("ref_id").is_valid().to_numpy()
    ref_way = way_id[has_ref]
    order = np.argsort(ref_way, kind="stable")
    ref_id = table.column("ref_id").drop_null().to_numpy()[order]
    return way_id[starts], xtile[starts], ytile[starts], ref_way[order], ref_id


def _resident_refs(
    way_tiles: pa.Table, ways: pa.Table, envelope: tuple[int, int, int, int], max_rows: int
) -> Refs | None:
    """``_collected_refs`` from the resident ``way_tiles`` and ``ways``
    copies: the envelope filter (a null tile or id drops out, as in
    Spark) and the way⋈refs join in numpy; None when the refs are over
    ``max_rows`` ``REFS_DDL`` rows, where the collect would be."""
    x0, y0, x1, y1 = envelope
    x, y = way_tiles.column("xtile"), way_tiles.column("ytile")
    inside = pc.and_(
        pc.and_(pc.greater_equal(x, x0), pc.less_equal(x, x1)),
        pc.and_(pc.greater_equal(y, y0), pc.less_equal(y, y1)),
    )
    tiled = way_tiles.select(["way_id", "xtile", "ytile"]).filter(inside).drop_null()
    keys = ways.column("id")
    valid = np.flatnonzero(keys.is_valid().to_numpy(zero_copy_only=False))
    keys = pc.fill_null(keys, 0).to_numpy()[valid]
    by_key = np.argsort(keys, kind="stable")
    tiled_way = tiled.column("way_id").to_numpy()
    at = np.minimum(np.searchsorted(keys, tiled_way, sorter=by_key), max(len(keys) - 1, 0))
    hit = np.flatnonzero(keys[by_key[at]] == tiled_way) if len(keys) else np.empty(0, np.int64)
    lists = ways.column("node_ids").take(pa.array(valid[by_key[at[hit]]])).combine_chunks()
    n_refs = pc.fill_null(pc.list_value_length(lists), 0).to_numpy()
    if np.maximum(n_refs, 1).sum() > max_rows:
        return None
    flat, parent = pc.list_flatten(lists), pc.list_parent_indices(lists).to_numpy()
    present = flat.is_valid().to_numpy(zero_copy_only=False)
    way_id = tiled_way[hit]
    ref_way, ref_id = way_id[parent[present]], flat.drop_null().to_numpy()
    order = np.argsort(ref_way, kind="stable")
    xtile, ytile = (tiled.column(c).to_numpy()[hit] for c in ("xtile", "ytile"))
    return way_id, xtile, ytile, ref_way[order], ref_id[order]


def _distinct(bbox_id: np.ndarray, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The distinct (bbox_id, id) pairs, sorted."""
    order = np.lexsort((ids, bbox_id))
    bbox_id, ids = bbox_id[order], ids[order]
    new = np.ones(len(ids), bool)
    new[1:] = (bbox_id[1:] != bbox_id[:-1]) | (ids[1:] != ids[:-1])
    return bbox_id[new], ids[new]


def bbox_extract_batch(
    nodes: DataFrame,
    ways: DataFrame,
    relations: DataFrame,
    bboxes: list[tuple[float, float, float, float]],
    way_tiles: DataFrame | None = None,
    ctx: ExtractContext | None = None,
) -> DataFrame:
    """Many extracts at once → (bbox_id, entity_type, id).

    The batch analog of the reference's concurrent extract server
    (VanillaExtract.java:102-148). On the driver when the context and
    the batch fit under the threshold (``_driver_batch``); else ONE
    DataFrame DAG: instead of one join chain per bbox, the bbox set
    becomes a dimension table joined against way_tiles with range
    predicates, and every downstream join carries bbox_id as part of
    the key, so a batch of B extracts costs one set of shuffles (not B
    sets). ``way_tiles`` may be a pre-built (ideally
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
    if ctx.arrays is not None:
        found = _driver_batch(nodes, ways, way_tiles, envelope, ranges, ctx.arrays)
        if found is not None:
            return found
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
    # Measured on sf-s (local[4], 4 vCPU, seed-1 boxes, process-tree CPU-s, median of 5 warm
    # calls a run), the lazy checkpoints on b_ways and b_nodes against none: 12-box batch
    # 10 vs 14 jobs, 4.7/4.8 vs 12.0 CPU-s; 0.04° box 10 vs 15 jobs, 3.8/4.0 vs 8.2 CPU-s.
    # Without only this one: batch 11 jobs, 5.2/5.7 CPU-s; box 12 jobs, 5.1/4.6 CPU-s.
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
    # Without only this one (measured as b_ways'): batch 14 jobs, 10.0 CPU-s; box 12, 5.6.
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
    # No checkpoint: one measured neutral (as b_ways': 10 jobs either way, batch 5.9/6.7 CPU-s
    # without, 6.6/6.0 with; box 4.8/5.4 without, 5.6/4.6 with).
    seen = rel_n.unionByName(rel_w).distinct()
    # J5 (TileOSMSource.java:112-132 semantics): the closure table is
    # per dataset, so unlike seen it does not grow with the batch; it
    # broadcasts by its exact size or carries its SHUFFLE_HASH hint
    # (relation_closure_table).
    ancestors = seen.join(ctx.rel_closure, "relation_id").select(
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
