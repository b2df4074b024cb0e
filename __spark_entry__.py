"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship bbox tile extract. ``queries()``
exposes every implemented operator from SURVEY.md §2 (plus the
training-data operators) as (spark, sf_dir) → DataFrame callables;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each.

The OSM-entity queries run over the deterministic interleaved-docs
fixture (the BASELINE.json input_hint table shape), synthesized at a
scale matched to sf_dir: sf0.001→sf-xs, sf0.01→sf-s, sf0.1→sf-m
(fixtures/, seed 42, committed for xs/s and generated on demand for m).
Oracles are either REAL SQL re-computations in DuckDB (intersections,
rel indexes, roundtrip, counts, knn, tag stats, dedup, ann, text) or
reads of golden parquet computed by the independent pure-pandas oracle
(extract closure, way tiles, pip) — the driver compares row counts +
schema + value hashes either way.

Column-name discipline: every computed column is aliased identically in
the Spark query and the SQL so the driver's sorted-column value hash
aligns. Numeric derived columns are cast to BIGINT on both sides.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:  # driver may import this module from another cwd
    sys.path.insert(0, REPO)
FIXTURES = os.path.join(REPO, "fixtures")
# The driver's correctness gate runs at sf0.01 → fixture scale 's'.
ORACLE_SCALE = "s"
G = os.path.join(FIXTURES, "sf-s", "golden")
DOCS_S = os.path.join(FIXTURES, "sf-s", "docs.parquet")


def _scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit cleanup: gate queries build one-shot index dirs
    whose files must outlive the (lazy) returned DataFrame, so they are
    removed at process exit rather than leaked across repeated gate or
    bench invocations (ADVICE r05)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _fixture(sf_dir: str) -> str:
    from osm_lib_spark.sources.generator import ensure_fixture, scale_for_sf_dir

    return ensure_fixture(scale_for_sf_dir(sf_dir))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_fixture(sf_dir), "docs.parquet"))


def _meta(sf_dir: str) -> dict:
    with open(os.path.join(_fixture(sf_dir), "meta.json")) as f:
        return json.load(f)


def _meta_s() -> dict:
    from osm_lib_spark.sources.generator import ensure_fixture

    with open(os.path.join(ensure_fixture(ORACLE_SCALE), "meta.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: bbox tile extract (dense-cluster bbox) over the sf-xs
    interleaved docs fixture (input_hint shape; sf0.001 ↔ sf-xs)."""
    sf_dir = "/root/testdata/sf0.001"
    from osm_lib_spark.operators.extract import bbox_extract
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways

    docs = _docs(spark, sf_dir)
    meta = _meta(sf_dir)
    nodes, ways, relations = parse_nodes(docs), parse_ways(docs), parse_relations(docs)
    ext = bbox_extract(nodes, ways, relations, tuple(meta["bboxes"]["dense"]))
    return ext.ids()


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _canonical_tags():
    from osm_lib_spark.functions.tags import render_tags

    return render_tags(F.col("tags")).alias("tags_str")


def q_parse_nodes(spark, sf_dir):
    from osm_lib_spark.sources.span_codec import parse_nodes

    return parse_nodes(_docs(spark, sf_dir)).select(
        "id", "fixed_lat", "fixed_lon", _canonical_tags()
    )


def q_parse_ways(spark, sf_dir):
    from osm_lib_spark.sources.span_codec import parse_ways

    return parse_ways(_docs(spark, sf_dir)).select(
        "id",
        F.array_join(F.transform("node_ids", lambda r: r.cast("string")), ",").alias(
            "node_ids_str"
        ),
        F.size("node_ids").cast("long").alias("n_nodes"),
        _canonical_tags(),
    )


def q_parse_relations(spark, sf_dir):
    from osm_lib_spark.sources.span_codec import parse_relations

    return parse_relations(_docs(spark, sf_dir)).select(
        "id",
        F.array_join(
            F.transform(
                "members",
                lambda m: F.concat_ws(
                    ":", m["type"], m["member_id"].cast("string"), m["role"]
                ),
            ),
            "|",
        ).alias("members_str"),
        F.size("members").cast("long").alias("n_members"),
        _canonical_tags(),
    )


def q_entity_counts(spark, sf_dir):
    from osm_lib_spark.sources.span_codec import explode_spans

    return (
        explode_spans(_docs(spark, sf_dir))
        .where(F.col("kind").isin("node", "way", "relation"))
        .groupBy(F.col("kind").alias("entity_type"))
        .agg(F.count("*").alias("n"))
    )


def q_way_tiles(spark, sf_dir):
    from osm_lib_spark.operators.indexes import build_way_tiles
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_ways

    docs = _docs(spark, sf_dir)
    return build_way_tiles(parse_ways(docs), parse_nodes(docs)).select(
        "way_id", "xtile", "ytile"
    )


def q_intersections(spark, sf_dir):
    from osm_lib_spark.operators.intersections import intersections
    from osm_lib_spark.sources.span_codec import parse_ways

    return intersections(parse_ways(_docs(spark, sf_dir)))



def q_rel_members(spark, sf_dir):
    """J8 secondary indexes, all three member types in ONE labeled gate
    (the per-type queries rotated in and out of the driver's 50-row
    window; a single union can't)."""
    from osm_lib_spark.operators.indexes import rel_member_indexes
    from osm_lib_spark.sources.span_codec import parse_relations

    idx = rel_member_indexes(parse_relations(_docs(spark, sf_dir)))
    out = None
    for key in ("node", "way", "relation"):
        part = idx[key].select(
            F.lit(key).alias("member_type"), "member_id", "relation_id"
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_bbox_extracts(spark, sf_dir):
    """S4/S5/J1-J6 via ALL FOUR named bboxes as ONE batched extract DAG
    (``bbox_extract_batch`` — the VanillaExtract concurrent-server
    analog: one set of shuffles for B boxes). This finally gives the
    batch operator — the headline bench query — its own driver gate,
    and the four per-bbox gates can't rotate out independently."""
    from osm_lib_spark.operators.extract import bbox_extract_batch
    from osm_lib_spark.sources.span_codec import (
        parse_nodes,
        parse_relations,
        parse_ways,
    )

    docs = _docs(spark, sf_dir)
    meta = _meta(sf_dir)
    names = ["dense", "wide", "world", "equator"]
    out = bbox_extract_batch(
        parse_nodes(docs),
        parse_ways(docs),
        parse_relations(docs),
        [tuple(meta["bboxes"][b]) for b in names],
    )
    name_map = F.array(*[F.lit(n) for n in names])
    return out.select(
        F.element_at(name_map, F.col("bbox_id") + 1).alias("bbox"),
        "entity_type",
        "id",
    )



def q_roundtrip(spark, sf_dir):
    from osm_lib_spark.sources.span_codec import reassemble_docs

    rebuilt = reassemble_docs(_docs(spark, sf_dir))
    return rebuilt.select(
        "doc_id",
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    "\x1f", s["kind"], s["text"], s["media_ref"], s["offset"].cast("string")
                ),
            ),
            "\x1e",
        ).alias("canonical"),
    )


def q_tag_kv_stats(spark, sf_dir):
    """A2 TagCounter analog: per distinct 'k=v' string, occurrence count
    and total byte weight (TagCounter.java:27-66)."""
    from osm_lib_spark.sources.span_codec import (
        parse_nodes,
        parse_relations,
        parse_ways,
    )

    docs = _docs(spark, sf_dir)
    tagged = (
        parse_nodes(docs).select("tags")
        .unionByName(parse_ways(docs).select("tags"))
        .unionByName(parse_relations(docs).select("tags"))
    )
    return (
        tagged.select(F.explode("tags").alias("t"))
        .select(F.concat(F.col("t.key"), F.lit("="), F.col("t.value")).alias("kv"))
        .groupBy("kv")
        .agg(F.count("*").alias("n"), F.sum(F.length("kv")).alias("weight"))
    )


def q_knn(spark, sf_dir):
    from osm_lib_spark.operators.knn import knn_brute_force
    from osm_lib_spark.sources.span_codec import parse_nodes

    docs = _docs(spark, sf_dir)
    pts = [tuple(p) for p in _meta(sf_dir)["knn_points"]]
    return knn_brute_force(parse_nodes(docs), pts, k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        "node_id",
    )


def q_knn_kring(spark, sf_dir):
    """North-star kNN path: iterative k-ring tile expansion, batched
    frontier DAG (one job per doubling round over ALL unsatisfied
    queries). Exactness is oracle-gated against the independent SQL
    brute force — k-ring must equal brute force bit-for-bit."""
    from osm_lib_spark.operators.knn import knn_kring
    from osm_lib_spark.sources.span_codec import parse_nodes

    docs = _docs(spark, sf_dir)
    pts = [tuple(p) for p in _meta(sf_dir)["knn_points"]]
    return knn_kring(parse_nodes(docs), pts, k=10).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rank").cast("long").alias("rank"),
        "node_id",
    )


BANGOR_PBF = "/root/reference/src/test/resources/bangor_maine.osm.pbf"


def q_pbf_bangor_counts(spark, sf_dir):
    """S1/K1 byte-level PBF codec parity on REAL reference data: decode
    the reference's own test fixture and count entities per type. The
    oracle is the reference's hard-coded golden counts
    (OSMTest.java:14-17): 35747 nodes / 2976 ways / 34 relations —
    fully independent of this engine."""
    from osm_lib_spark.sources.pbf import read_pbf

    ents = read_pbf(spark, BANGOR_PBF)
    return (
        ents.groupBy("entity_type")
        .agg(F.count("*").alias("n"))
        .select("entity_type", F.col("n").cast("long").alias("n"))
    )


def q_tag_ops(spark, sf_dir):
    """P1-P5 scalar tag functions over parsed ways, each as a column:
    first-match lookup, existence (key and key=value), truthiness
    votes, empty-test, allowlist retention re-rendered to the wire
    format. The oracle re-derives every column from the golden
    tags_str with DuckDB string/list functions."""
    from osm_lib_spark.functions.tags import (
        get_tag,
        has_no_tags,
        has_tag,
        render_tags,
        retain_keys,
        tag_is_false,
        tag_is_true,
    )
    from osm_lib_spark.sources.span_codec import parse_ways

    ways = parse_ways(_docs(spark, sf_dir))
    t = F.col("tags")
    return ways.select(
        "id",
        get_tag(t, "highway").alias("highway"),
        has_tag(t, "name").cast("int").cast("long").alias("has_name"),
        has_tag(t, "highway", "residential").cast("int").cast("long").alias("is_residential"),
        F.coalesce(tag_is_true(t, "building").cast("int"), F.lit(0)).cast("long").alias("building_true"),
        F.coalesce(tag_is_false(t, "building").cast("int"), F.lit(0)).cast("long").alias("building_false"),
        has_no_tags(t).cast("int").cast("long").alias("untagged"),
        render_tags(retain_keys(t, ["highway", "name"])).alias("retained"),
    )


def q_affected_tiles(spark, sf_dir):
    """ST3 deferred re-index: a deterministic changeset reverses the
    node list of every way with id % 13 == 0; the affected-tile set is
    the union of each changed way's OLD first-node tile and NEW
    first-node tile (OSMChangeParser.endDocument re-index semantics).
    The oracle recomputes both tile sets from the golden parquet with
    SQL tile math."""
    from osm_lib_spark.operators.indexes import build_way_tiles
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_ways
    from osm_lib_spark.streaming.changes import affected_tiles

    docs = _docs(spark, sf_dir)
    nodes = parse_nodes(docs)
    ways = parse_ways(docs)
    changed = ways.where(F.col("id") % 13 == 0)
    ways_new = ways.withColumn(
        "node_ids",
        F.when(F.col("id") % 13 == 0, F.reverse("node_ids")).otherwise(
            F.col("node_ids")
        ),
    )
    wt_old = build_way_tiles(ways, nodes)
    wt_new = build_way_tiles(ways_new, nodes)
    return affected_tiles(
        wt_old, wt_new, changed.select(F.col("id").alias("way_id"))
    )


def q_vex_roundtrip_counts(spark, sf_dir):
    """S2/K2 byte-level VEX codec: decode the reference PBF fixture,
    write it back as VEX (the reference's own format), re-read, and
    count per type. Any encode/decode defect (delta state, string
    framing, block splits) changes the counts or crashes; the oracle is
    the reference's independent golden counts (OSMTest.java:14-17,
    RoundTripTest.java PBF↔VEX contract)."""
    import tempfile

    from osm_lib_spark.sources.pbf import (
        pbf_nodes,
        pbf_relations,
        pbf_ways,
        read_pbf,
    )
    from osm_lib_spark.sources.vex import read_vex, write_vex

    ents = read_pbf(spark, BANGOR_PBF)
    out = os.path.join(tempfile.gettempdir(), "gate_bangor_roundtrip.vex")
    write_vex(out, pbf_nodes(ents), pbf_ways(ents), pbf_relations(ents))
    return (
        read_vex(spark, out)
        .groupBy("entity_type")
        .agg(F.count("*").alias("n"))
        .select("entity_type", F.col("n").cast("long").alias("n"))
    )


def q_pip(spark, sf_dir):
    """Two polygon sets through ``points_in_polygons_bucketed`` in one
    gate (50-slot merge rule): 'bc' = the fixture's three hand-shaped
    polygons incl. the hole, 'bk' = 500 grid polygons (exploded to
    covering z12 tiles, tile equi-join, per-bucket ray cast). Each set
    hash-matches its own independently computed pandas golden."""
    import numpy as np

    from osm_lib_spark.operators.pip import (
        grid_polygons,
        points_in_polygons_bucketed,
        polygons_df,
    )
    from osm_lib_spark.sources.span_codec import parse_nodes

    docs = _docs(spark, sf_dir)
    meta = _meta(sf_dir)
    nodes = parse_nodes(docs)
    polys = {
        int(pid): [np.array(r, dtype=np.float64) for r in rings]
        for pid, rings in meta["polygons"].items()
    }
    bc = points_in_polygons_bucketed(nodes, polygons_df(spark, polys)).select(
        F.lit("bc").alias("src"), F.col("poly_id").cast("long").alias("poly_id"), "node_id"
    )
    centers = [(float(p[1]), float(p[2])) for p in meta["knn_points"][:2]]
    many = polygons_df(spark, grid_polygons(centers))
    bk = points_in_polygons_bucketed(nodes, many).select(
        F.lit("bk").alias("src"), F.col("poly_id").cast("long").alias("poly_id"), "node_id"
    )
    return bc.unionByName(bk)


# ---------------------------------------------------------------------------
# training-data pipeline queries (driver tables: documents / embeddings)
# ---------------------------------------------------------------------------


def _documents(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _embeddings(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def q_dedup_exact(spark, sf_dir):
    from osm_lib_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_documents(spark, sf_dir), min_count=1)


def q_dedup_minhash(spark, sf_dir):
    """BOTH MinHash dedup paths in one gate (50-slot merge rule):
    'mono' = the monolithic self-dedup (minhash_dup_pairs), 'inc' =
    the incremental ingest path — even doc_ids persist as the corpus
    index (build_minhash_index), odd doc_ids dedup AGAINST it
    (dedup_batch_against_index, corpus text untouched). Because band
    signatures depend only on a doc's text, the incremental result
    must equal the monolithic pair set restricted to odd×even cross
    pairs — which is exactly what the oracle asserts."""
    import tempfile

    from osm_lib_spark.operators.dedup import (
        build_minhash_index,
        dedup_batch_against_index,
        minhash_dup_pairs,
    )

    docs = _documents(spark, sf_dir)
    mono = minhash_dup_pairs(docs).withColumn("path", F.lit("mono"))
    idx = _scratch_dir("mh_idx_")
    build_minhash_index(docs.where(F.col("doc_id") % 2 == 0), idx)
    inc = dedup_batch_against_index(docs.where(F.col("doc_id") % 2 == 1), idx)
    return mono.unionByName(inc.withColumn("path", F.lit("inc"))).select(
        "path", "doc_a", "doc_b", "inter", "size_a", "size_b"
    )


def q_dedup_components(spark, sf_dir):
    from osm_lib_spark.operators.dedup import dup_components

    return dup_components(_documents(spark, sf_dir))


def q_sample_stratified(spark, sf_dir):
    from osm_lib_spark.operators.sampling import sample_stratified

    return sample_stratified(
        _documents(spark, sf_dir),
        rates={"en": 0.5, "de": 0.25},
        default_rate=0.1,
    ).select("doc_id", "lang")


def q_events_sessionize(spark, sf_dir):
    from osm_lib_spark.operators.sessions import sessionize

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sessionize(ev)


def q_events_sessionize_stream(spark, sf_dir):
    """Driver gate for the STATEFUL STREAMING path: run the events
    table through ``applyInPandasWithState`` sessionization (file
    source, availableNow trigger, foreachBatch sink) and return the
    CLOSED sessions — by the contract pinned in tests, exactly the
    batch sessionize result minus each user's last (still-open)
    session, which is what the oracle computes independently."""
    import shutil
    import tempfile

    from osm_lib_spark.streaming.sessions import SESS_OUTPUT_SCHEMA, run_session_stream

    tmp = _scratch_dir("sess_stream_gate_")
    events_dir = os.path.join(tmp, "events")
    out_dir = os.path.join(tmp, "out")
    os.makedirs(events_dir)
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(events_dir, "events.parquet"),
    )

    # each micro-batch APPENDS to a parquet sink — driver memory stays
    # O(1) in session count (collecting every closed session into a
    # python list was unbounded at larger scale factors)
    def sink(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = run_session_stream(spark, events_dir, os.path.join(tmp, "ckpt"), sink)
    q.awaitTermination()
    shutil.rmtree(events_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(tmp, "ckpt"), ignore_errors=True)
    if not os.path.exists(out_dir):  # stream produced no closed sessions
        return spark.createDataFrame([], SESS_OUTPUT_SCHEMA)
    return spark.read.schema(SESS_OUTPUT_SCHEMA).parquet(out_dir)


def q_text_scrub(spark, sf_dir):
    from osm_lib_spark.operators.text import scrub_text

    return scrub_text(_documents(spark, sf_dir))


def q_corpus_curate(spark, sf_dir):
    from osm_lib_spark.operators.curation import curate_corpus

    return curate_corpus(
        _documents(spark, sf_dir), rates={"en": 0.5, "de": 0.25}, default_rate=0.1
    )



def q_dedup_ngram_jaccard(spark, sf_dir):
    from osm_lib_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_documents(spark, sf_dir))


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidates: equal 8-hex-prefix bucket join over
    the 60-bit fingerprints (the scale-path first stage; hamming-ball
    multiprobe is the refinement). Oracle recomputes fingerprints AND
    the bucket self-join in SQL."""
    from osm_lib_spark.operators.dedup import simhash_bucket_pairs

    return simhash_bucket_pairs(_documents(spark, sf_dir))


def q_dedup_simhash_hamming(spark, sf_dir):
    """EXACT Hamming-ball (≤3) simhash pairs via pigeonhole banding
    (4×15-bit bands: d≤3 differing bits leave ≥1 band identical, so
    the equi-join provably loses nothing; bit_count verifies). Oracle
    recomputes fingerprints, banding, and the verify in SQL."""
    from osm_lib_spark.operators.dedup import simhash_hamming_pairs

    return simhash_hamming_pairs(_documents(spark, sf_dir))


def q_text_tokens(spark, sf_dir):
    from osm_lib_spark.operators.text import token_counts

    return token_counts(_documents(spark, sf_dir))


def q_text_quality(spark, sf_dir):
    from osm_lib_spark.operators.text import quality_scores

    return quality_scores(_documents(spark, sf_dir))


def q_text_langid(spark, sf_dir):
    from osm_lib_spark.operators.text import lang_id

    return lang_id(_documents(spark, sf_dir))


def q_text_fingerprint(spark, sf_dir):
    from osm_lib_spark.operators.text import fingerprints

    return fingerprints(_documents(spark, sf_dir))


def q_ann_cosine(spark, sf_dir):
    from osm_lib_spark.operators.similarity import cosine_topk

    return cosine_topk(_embeddings(spark, sf_dir))


EMB_DIM = 64  # generator writes 64-dim embeddings at every scale


def q_ann_lsh(spark, sf_dir):
    from osm_lib_spark.operators.similarity import ann_lsh_topk

    return ann_lsh_topk(_embeddings(spark, sf_dir), dim=EMB_DIM)


def q_ann_ivf(spark, sf_dir):
    from osm_lib_spark.operators.similarity import ivf_topk

    return ivf_topk(_embeddings(spark, sf_dir))


def q_ann_pq(spark, sf_dir):
    from osm_lib_spark.operators.similarity import pq_topk

    return pq_topk(_embeddings(spark, sf_dir))


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with a real k-means step: one deterministic Lloyd update
    (integer-quantized per-dimension sums — order-independent, so the
    trained index is bit-reproducible) between stride init and probing.
    The oracle retrains the index from scratch in SQL."""
    from osm_lib_spark.operators.similarity import ivf_kmeans_topk

    return ivf_kmeans_topk(_embeddings(spark, sf_dir))


def q_ann_ivf_pq(spark, sf_dir):
    """The composed IVF∘PQ standard pipeline in its textbook RESIDUAL
    form (FAISS IVFPQ), served from a PERSISTED index: the gate builds
    the index once (build_ivf_pq_index — Lloyd-refined coarse
    quantizer, PQ codebooks trained on float64 residuals, codes table
    hive-partitioned by coarse list) and answers from the LOADED index
    (ivf_pq_topk_from_index: probed-list partition pruning, one ADC
    LUT per (query, probed list), code-only scan, shared exact-L2
    rerank). Training is deterministic, so the oracle retrains BOTH
    index stages from scratch in SQL and must agree bit-for-bit —
    which also proves save/load loses nothing."""
    import tempfile

    from osm_lib_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
    )

    emb = _embeddings(spark, sf_dir)
    idx = _scratch_dir("ivfpq_gate_")
    build_ivf_pq_index(emb, idx)
    return ivf_pq_topk_from_index(emb, idx)


def q_emb_dup_pairs(spark, sf_dir):
    from osm_lib_spark.operators.similarity import embedding_dup_pairs

    return embedding_dup_pairs(_embeddings(spark, sf_dir), threshold=0.3, dim=EMB_DIM)





def q_media_frames(spark, sf_dir):
    """Frame sampling: 1→N fan-out inside mapInArrow (each media span
    emits every 5th of its deterministic frame count) — the oracle
    recomputes the whole fan-out in SQL."""
    from osm_lib_spark.operators.multimodal import sample_frames

    return sample_frames(_docs(spark, sf_dir))


def q_media_pipeline(spark, sf_dir):
    """The three per-media 1:1 stages (catalog parse, feature 'decode',
    resize) joined on the unique (doc_id, media_ref) key into ONE wide
    gate row per media span — each stage keeps its own execution path
    (pure-Column ref parsing vs the two mapInArrow batch kernels), so
    the merged gate still exercises all three operators."""
    from osm_lib_spark.operators.multimodal import (
        decode_media_features,
        media_catalog,
        resize_media,
    )

    docs = _docs(spark, sf_dir)
    key = ["doc_id", "media_ref"]
    return (
        media_catalog(docs)
        .join(decode_media_features(docs), key)
        .join(resize_media(docs), key)
    )


def q_osc_merge(spark, sf_dir):
    """ST2 diff application: a deterministic changeset (delete id%97=0;
    modify fixed_lat+1 where id%89=1; add id+1e13 clones of id%101=0)
    applied to the parsed nodes via anti-join+union MERGE semantics
    (OSMChangeParser.java:72-98 analog)."""
    from osm_lib_spark.sources.span_codec import parse_nodes
    from osm_lib_spark.streaming.changes import apply_changes

    nodes = parse_nodes(_docs(spark, sf_dir))
    deletes = nodes.where(F.col("id") % 97 == 0).select(
        F.lit("delete").alias("action"), "id", "fixed_lat", "fixed_lon", "tags"
    )
    modifies = (
        nodes.where((F.col("id") % 89 == 1) & (F.col("id") % 97 != 0))
        .withColumn("fixed_lat", F.col("fixed_lat") + 1)
        .select(F.lit("modify").alias("action"), "id", "fixed_lat", "fixed_lon", "tags")
    )
    adds = nodes.where(F.col("id") % 101 == 0).select(
        F.lit("add").alias("action"),
        (F.col("id") + F.lit(10_000_000_000_000)).alias("id"),
        "fixed_lat",
        "fixed_lon",
        F.array().cast("array<struct<key:string,value:string>>").alias("tags"),
    )
    changes = deletes.unionByName(modifies).unionByName(adds)
    merged = apply_changes(nodes, changes, key="id")
    return merged.select("id", "fixed_lat", "fixed_lon", _canonical_tags())


def q_delta_roundtrip(spark, sf_dir):
    """W1-W4/F4 delta+zigzag codec as window functions: encode node ids
    per block, zigzag the deltas, decode back (decoded must equal id)."""
    from osm_lib_spark.functions.delta import (
        delta_decode,
        delta_encode,
        zigzag_decode,
        zigzag_encode,
    )
    from osm_lib_spark.sources.span_codec import parse_nodes

    nodes = parse_nodes(_docs(spark, sf_dir)).select(
        "id", (F.col("id") % 16).alias("block")
    )
    enc = delta_encode(nodes, "id", "block", "id")
    enc = enc.withColumn("zz", zigzag_encode(F.col("delta"))).withColumn(
        "unzz", zigzag_decode(F.col("zz"))
    )
    dec = delta_decode(enc, "delta", "block", "id", out_col="decoded")
    return dec.select("id", "block", "delta", "zz", "unzz", "decoded")


def q_cardinality_stats(spark, sf_dir):
    """A3/A4 counting + NodeTracker-cardinality analog in one row."""
    from osm_lib_spark.operators.intersections import intersections
    from osm_lib_spark.sources.span_codec import parse_ways

    ways = parse_ways(_docs(spark, sf_dir))
    refs = ways.select(F.explode("node_ids").alias("node_id"))
    stats = refs.agg(
        F.count("*").alias("n_ref_total"),
        F.count_distinct("node_id").alias("n_ref_distinct"),
    ).crossJoin(ways.agg(F.count("*").alias("n_ways")))
    inter = intersections(ways).agg(F.count("*").alias("n_intersections"))
    return stats.crossJoin(inter).select(
        "n_ways", "n_ref_total", "n_ref_distinct", "n_intersections"
    )


def q_ways_enriched(spark, sf_dir):
    """J7 SpeedSetter analog: upsert maxspeed from a derived side table
    (ways with id%10==3 get maxspeed=(id%120)+10), tag rewritten in
    place per add_or_replace semantics (OSMEntity.java:91-102)."""
    from osm_lib_spark.operators.enrich import enrich_tags
    from osm_lib_spark.sources.span_codec import parse_ways

    ways = parse_ways(_docs(spark, sf_dir))
    updates = ways.where(F.col("id") % 10 == 3).select(
        "id", ((F.col("id") % 120) + 10).cast("string").alias("value")
    )
    enriched = enrich_tags(ways, updates, "maxspeed")
    return enriched.select("id", _canonical_tags())


def q_raster_density(spark, sf_dir):
    """Vector→raster: node density on the z12 tile grid, one shuffle."""
    from osm_lib_spark.operators.raster import rasterize_nodes
    from osm_lib_spark.sources.span_codec import parse_nodes

    return rasterize_nodes(parse_nodes(_docs(spark, sf_dir)))


def q_ways_resolved(spark, sf_dir):
    """J1 way→node resolved-geometry materialization with ORDER restored
    via posexplode + sort_array (TileOSMSource.java:77-84 semantics:
    orphan refs skipped, sequence preserved)."""
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_ways

    docs = _docs(spark, sf_dir)
    ways, nodes = parse_ways(docs), parse_nodes(docs)
    refs = ways.select(
        F.col("id").alias("way_id"), F.posexplode("node_ids").alias("pos", "ref")
    )
    joined = refs.join(
        nodes.select(F.col("id").alias("ref"), "fixed_lat", "fixed_lon"), "ref"
    )
    pts = joined.groupBy("way_id").agg(
        F.sort_array(
            F.collect_list(F.struct("pos", "fixed_lat", "fixed_lon"))
        ).alias("pts")
    )
    return pts.select(
        "way_id",
        F.array_join(
            F.transform(
                "pts",
                lambda p: F.concat_ws(
                    ":", p["fixed_lat"].cast("string"), p["fixed_lon"].cast("string")
                ),
            ),
            ",",
        ).alias("geometry"),
        F.size("pts").cast("long").alias("n_resolved"),
    )


def q_events_window_counts(spark, sf_dir):
    """Tumbling 5-minute windowed counts over the events stream table
    (batch form of the streaming windowed agg; wall-clock bucket key so
    the result is session-timezone-proof)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    bucket = F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:"),
        F.lpad(((F.floor(F.minute("ts") / 5) * 5)).cast("string"), 2, "0"),
    )
    return ev.groupBy(bucket.alias("window_start"), "event_type").agg(
        F.count("*").alias("n")
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination over the documents table: docs with
    doc_id % 97 == 0 form the synthetic eval set; every remaining
    corpus doc reports its distinct shared-shingle count and flag."""
    from osm_lib_spark.operators.decontaminate import decontaminate

    return decontaminate(_documents(spark, sf_dir))



def q_cells_multires(spark, sf_dir):
    """S2-style hierarchical cells: per z8 ancestor cell, the node count
    and the number of distinct z12 descendant cells (coarse blocking +
    fine refinement keys from one codegen bit-op expression)."""
    from osm_lib_spark.functions.cells import cell_ancestor, cell_at
    from osm_lib_spark.functions.geo import from_fixed
    from osm_lib_spark.sources.span_codec import parse_nodes

    nodes = parse_nodes(_docs(spark, sf_dir))
    lat = from_fixed(F.col("fixed_lat"))
    lon = from_fixed(F.col("fixed_lon"))
    c12 = cell_at(lat, lon, 12)
    return (
        nodes.select(c12.alias("c12"), cell_ancestor(c12, 8).alias("cell8"))
        .groupBy("cell8")
        .agg(F.count("*").alias("n_nodes"), F.count_distinct("c12").alias("n_cells12"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "osm_parse_nodes": q_parse_nodes,
        "osm_parse_ways": q_parse_ways,
        "osm_parse_relations": q_parse_relations,
        "osm_entity_counts": q_entity_counts,
        "osm_way_tiles": q_way_tiles,
        "osm_intersections": q_intersections,
        "osm_rel_members": q_rel_members,
        "osm_roundtrip": q_roundtrip,
        "osm_tag_kv_stats": q_tag_kv_stats,
        "osm_knn": q_knn,
        "osm_knn_kring": q_knn_kring,
        "pbf_bangor_counts": q_pbf_bangor_counts,
        "vex_roundtrip_counts": q_vex_roundtrip_counts,
        "osm_tag_ops": q_tag_ops,
        "osm_affected_tiles": q_affected_tiles,
        "osm_pip": q_pip,
    }
    qs["osm_bbox_extracts"] = q_bbox_extracts
    qs.update(
        {
            "dedup_exact": q_dedup_exact,
            "dedup_minhash_pairs": q_dedup_minhash,
            "dedup_components": q_dedup_components,
            "sample_stratified": q_sample_stratified,
            "corpus_curate": q_corpus_curate,
            "text_scrub": q_text_scrub,
            "events_sessionize": q_events_sessionize,
            "events_sessionize_stream": q_events_sessionize_stream,
            "dedup_simhash_pairs": q_dedup_simhash_pairs,
            "dedup_simhash_hamming": q_dedup_simhash_hamming,
            "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
            "text_tokens": q_text_tokens,
            "text_quality": q_text_quality,
            "text_langid": q_text_langid,
            "text_fingerprint": q_text_fingerprint,
            "ann_cosine_topk": q_ann_cosine,
            "ann_lsh_topk": q_ann_lsh,
            "ann_ivf_topk": q_ann_ivf,
            "ann_ivf_kmeans_topk": q_ann_ivf_kmeans,
            "ann_pq_topk": q_ann_pq,
            "ann_ivf_pq_topk": q_ann_ivf_pq,
            "emb_dup_pairs": q_emb_dup_pairs,
            "media_pipeline": q_media_pipeline,
            "media_frames": q_media_frames,
            "osc_merge": q_osc_merge,
            "codec_delta_roundtrip": q_delta_roundtrip,
            "osm_cardinality_stats": q_cardinality_stats,
            "osm_ways_enriched": q_ways_enriched,
            "raster_node_density": q_raster_density,
            "cells_multires": q_cells_multires,
            "osm_ways_resolved": q_ways_resolved,
            "events_window_counts": q_events_window_counts,
            "decontaminate": q_decontaminate,
        }
    )
    assert len(qs) == 50, f"gate registry must stay at exactly 50, got {len(qs)}"
    return qs


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_SPANS = (
    f"(SELECT doc_id, unnest(spans) AS s FROM read_parquet('{DOCS_S}'))"
)


def _dedup_components_oracle_sql(shingle_cte: str) -> str:
    """Recursive-CTE oracle for connected components over the verified
    minhash duplicate graph: reach(doc, lbl) closes transitively over
    the undirected edges, min(lbl) per doc = the component's canonical
    (minimum) doc_id. Independent fixpoint recomputation — no shared
    code with the Spark label-propagation loop."""
    with_chain = _minhash_chain_sql(shingle_cte)
    return f"""
        WITH RECURSIVE {with_chain}
        , edges AS (
            SELECT doc_a AS s, doc_b AS d FROM mh_pairs
            UNION ALL
            SELECT doc_b, doc_a FROM mh_pairs
        ),
        reach(doc, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.doc
        )
        SELECT doc AS doc_id, MIN(lbl) AS component_id,
               CAST(MIN(lbl) = doc AS BIGINT) AS keep
        FROM reach GROUP BY doc
    """


def _minhash_chain_sql(shingle_cte: str) -> str:
    """The WITH-chain (no leading WITH, no final SELECT) recomputing the
    MinHash+LSH pipeline through the verified `mh_pairs` CTE — shared by
    the pairs oracle, the components oracle, and the curation oracle so
    each composes it structurally instead of string-slicing another
    oracle's text (a slice on the final SELECT silently emptied the
    mh_pairs body when the pairs oracle grew a 'mono'/'inc' union).
    Independent of the Spark implementation — shares only the public
    constants: seed-42 coefficients, prime, band layout, threshold."""
    from osm_lib_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        MINHASH_PRIME,
        NUM_BANDS,
        NUM_PERM,
        _perm_coeffs,
    )

    a, b = _perm_coeffs(NUM_PERM)
    rows = NUM_PERM // NUM_BANDS
    a_lit = "[" + ", ".join(str(x) for x in a) + "]"
    b_lit = "[" + ", ".join(str(x) for x in b) + "]"
    h15_sh = "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)"
    return f"""{shingle_cte},
        hs AS (
            SELECT doc_id, list({h15_sh} % {MINHASH_PRIME}) AS hs FROM sh GROUP BY doc_id
        ),
        sigs AS (
            SELECT doc_id, list_transform(generate_series(1, {NUM_PERM}), i ->
                list_min(list_transform(hs, h ->
                    (({a_lit})[i] * h + ({b_lit})[i]) % {MINHASH_PRIME}))) AS sig
            FROM hs
        ),
        bands AS (
            SELECT doc_id, bnd,
                   array_to_string(sig[(bnd - 1) * {rows} + 1 : bnd * {rows}], ',') AS band_sig
            FROM sigs CROSS JOIN (SELECT unnest(generate_series(1, {NUM_BANDS})) AS bnd)
        ),
        cands AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y ON x.bnd = y.bnd AND x.band_sig = y.band_sig
            WHERE x.doc_id < y.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS inter
            FROM cands c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
            GROUP BY 1, 2
        ),
        mh_pairs AS (
            SELECT doc_a, doc_b, inter, za.sz AS size_a, zb.sz AS size_b
            FROM inter
            JOIN sizes za ON za.doc_id = doc_a
            JOIN sizes zb ON zb.doc_id = doc_b
            WHERE inter >= {JACCARD_THRESHOLD} * (za.sz + zb.sz - inter)
        )"""


def _minhash_oracle_sql(shingle_cte: str) -> str:
    """DuckDB oracle for the gated pair query: the monolithic corpus-wide
    pair set ('mono' path) unioned with the incremental batch-vs-corpus
    restriction ('inc' path: odd doc_ids are the batch, evens the
    corpus, pairs oriented batch-first) — recomputed from raw documents
    via the shared chain in _minhash_chain_sql."""
    return f"""
        WITH {_minhash_chain_sql(shingle_cte)}
        SELECT 'mono' AS path, doc_a, doc_b, inter, size_a, size_b FROM mh_pairs
        UNION ALL
        SELECT 'inc',
               CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END,
               CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END,
               inter,
               CASE WHEN doc_a % 2 = 1 THEN size_a ELSE size_b END,
               CASE WHEN doc_a % 2 = 1 THEN size_b ELSE size_a END
        FROM mh_pairs WHERE (doc_a % 2) <> (doc_b % 2)
    """


def _lsh_cte(fold_dot) -> str:
    """DuckDB CTEs recomputing the random-hyperplane LSH signatures and
    band keys from LITERAL plane constants (seed-7 hyperplanes embedded
    as doubles) — independent of the Spark Arrow UDF; both use the same
    left-fold dot kernel so sign bits agree bit-for-bit."""
    from osm_lib_spark.operators.similarity import (
        ANN_BANDS,
        ANN_BITS,
        hyperplanes,
    )

    planes = hyperplanes(EMB_DIM, ANN_BITS)
    pl = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in row) + "]" for row in planes
        )
        + "]"
    )
    rows = ANN_BITS // ANN_BANDS
    return f"""
        sigs AS (
            SELECT vec_id, embedding,
                   CAST(list_sum(list_transform(generate_series(1, {ANN_BITS}), j ->
                       CASE WHEN {fold_dot('embedding', f'({pl})[j]')} > 0
                            THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END)) AS BIGINT) AS sig
            FROM embeddings
        ),
        bands AS (
            SELECT vec_id, embedding, bnd,
                   (sig >> ((bnd - 1) * {rows})) & {(1 << rows) - 1} AS band_sig
            FROM sigs CROSS JOIN (SELECT unnest(generate_series(1, {ANN_BANDS})) AS bnd)
        )
    """



def _pq_oracle_sql(ivf: bool = False, residual: bool = False) -> str:
    """Full PQ oracle: retrains the per-subspace codebooks from
    scratch (stride init + ONE quantized-integer Lloyd step — order-
    independent means, so SQL matches the Spark training bit-for-bit),
    re-encodes every vector, rebuilds the per-query ADC lookup tables,
    and reproduces the shortlist + exact-L2 rerank with vec_id
    tie-breaks. The ADC sum folds left in subspace order via
    list_reduce so even the 4-term float addition order matches.

    With ``ivf=True`` the composed ivf_pq_topk pipeline is retrained
    instead: the stride-centroid IVF index is ALSO rebuilt in SQL
    (argmax-cosine assignment, top-nprobe probe lists per query, same
    fold kernels as ann_ivf_topk's oracle) and the ADC scan is
    restricted to vectors whose assigned list is probed by the query.

    With ``residual=True`` (implies the composed pipeline) the textbook
    FAISS IVFPQ is retrained end-to-end: the coarse quantizer gets the
    one quantized-integer Lloyd refinement (as in ann_ivf_kmeans's
    oracle), every vector's PQ input is its float64 RESIDUAL against
    the assigned refined centroid (exact list_zip subtraction), the
    codebooks train on residuals, and each query builds one ADC LUT per
    PROBED list from (q − c_list)."""
    from osm_lib_spark.functions.hashing import l2_fold_sql

    M, SUB, K, STRIDE, NQ, REFINE, KTOP, QUANT = 4, 16, 16, 31, 10, 50, 10, 1 << 20
    NLIST, NPROBE = 16, 4
    DIM = M * SUB
    ivf = ivf or residual
    fold_dot = (
        lambda a, b: "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    # PQ training/encoding input: raw embeddings, or the residual frame
    src = "pqin" if residual else "embeddings"

    def sub_union(table_from: str, slice_other: str) -> str:
        blocks = []
        for s in range(M):
            lo, hi = s * SUB + 1, (s + 1) * SUB
            blocks.append(
                f"SELECT {s} AS s, e.vec_id, c.{'cid' if 'cent0' in table_from else 'code'} AS code, "
                + l2_fold_sql(f"e.embedding[{lo}:{hi}]", slice_other.format(lo=lo, hi=hi))
                + f" AS dist FROM {src} e CROSS JOIN {table_from} c"
                + (f" WHERE c.s = {s}" if "cb1" in table_from else "")
            )
        return " UNION ALL ".join(blocks)

    d0 = sub_union("cent0", "c.embedding[{lo}:{hi}]")
    d1 = sub_union("cb1", "c.ce")
    cosine = lambda a, b: (
        f"{fold_dot(a, b)} / (sqrt({fold_dot(a, a)}) * sqrt({fold_dot(b, b)}))"
    )
    if residual:
        # coarse quantizer = stride init + ONE quantized Lloyd step
        # (identical CTE chain to ann_ivf_kmeans_topk's oracle)
        ivf_ctes = f"""
        kcent0 AS (
            SELECT CAST(vec_id // {STRIDE} AS INT) AS list_id, embedding AS ce
            FROM embeddings WHERE vec_id % {STRIDE} = 0 AND vec_id < {NLIST * STRIDE}
        ),
        k0score AS (
            SELECT e.vec_id, e.embedding, c.list_id, {cosine('e.embedding', 'c.ce')} AS ccos
            FROM embeddings e CROSS JOIN kcent0 c
        ),
        k0assign AS (
            SELECT vec_id, embedding, list_id FROM k0score
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) = 1
        ),
        ksums AS (
            SELECT list_id, i AS pos,
                   SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * {float(QUANT)} + 0.5) AS BIGINT)) AS s,
                   COUNT(*) AS n
            FROM k0assign, UNNEST(generate_series(1, {DIM})) AS t(i)
            GROUP BY 1, 2
        ),
        ivfcent AS (
            SELECT list_id,
                   list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / {float(QUANT)} ORDER BY pos) AS ce
            FROM ksums GROUP BY list_id
        ),
        ivfascore AS (
            SELECT e.vec_id, c.list_id, {cosine('e.embedding', 'c.ce')} AS ccos
            FROM embeddings e CROSS JOIN ivfcent c
        ),
        ivfassign AS (
            SELECT vec_id, list_id FROM ivfascore
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) = 1
        ),
        ivfprobes AS (
            SELECT vec_id AS query_id, list_id FROM ivfascore WHERE vec_id < {NQ}
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) <= {NPROBE}
        ),
        resid AS (
            SELECT e.vec_id,
                   list_transform(list_zip(e.embedding, c.ce),
                                  p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) AS r
            FROM embeddings e
            JOIN ivfassign a USING (vec_id)
            JOIN ivfcent c ON c.list_id = a.list_id
        ),
        pqin AS (SELECT vec_id, r AS embedding FROM resid),"""
    else:
        ivf_ctes = f"""
        ivfcent AS (
            SELECT CAST(vec_id // {STRIDE} AS INT) AS list_id, embedding AS ce
            FROM embeddings WHERE vec_id % {STRIDE} = 0 AND vec_id < {NLIST * STRIDE}
        ),
        ivfascore AS (
            SELECT e.vec_id, c.list_id, {cosine('e.embedding', 'c.ce')} AS ccos
            FROM embeddings e CROSS JOIN ivfcent c
        ),
        ivfassign AS (
            SELECT vec_id, list_id FROM ivfascore
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) = 1
        ),
        ivfprobes AS (
            SELECT vec_id AS query_id, list_id FROM ivfascore WHERE vec_id < {NQ}
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) <= {NPROBE}
        ),"""
    if residual:
        # per-(query, probed list) LUTs from the query's residual
        # against THAT list's centroid
        lut_blocks = " UNION ALL ".join(
            f"SELECT {s} AS s, qres.query_id, qres.list_id, cb.code, "
            + l2_fold_sql(f"qres.qr[{s * SUB + 1}:{(s + 1) * SUB}]", "cb.ce")
            + f" AS dist FROM qres JOIN cb1 cb ON cb.s = {s}"
            for s in range(M)
        )
        lut_cte = f"""
        qres AS (
            SELECT p.query_id, p.list_id,
                   list_transform(list_zip(q.embedding, c.ce),
                                  x -> CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) AS qr
            FROM ivfprobes p
            JOIN embeddings q ON q.vec_id = p.query_id
            JOIN ivfcent c ON c.list_id = p.list_id
        ),
        lut AS ({lut_blocks}),"""
        adcp_from = """
            FROM codes1 c
            JOIN ivfassign a ON a.vec_id = c.vec_id
            JOIN lut l ON l.list_id = a.list_id AND l.s = c.s AND l.code = c.code
            WHERE c.vec_id != l.query_id"""
    else:
        lut_cte = f"""
        lut AS (SELECT s, vec_id AS query_id, code, dist FROM d1 WHERE vec_id < {NQ}),"""
        if ivf:
            adcp_from = f"""
            FROM codes1 c
            JOIN ivfassign a ON a.vec_id = c.vec_id
            JOIN ivfprobes p ON p.list_id = a.list_id
            JOIN lut l ON l.s = c.s AND l.code = c.code AND l.query_id = p.query_id
            WHERE c.vec_id != p.query_id"""
        else:
            adcp_from = """
            FROM codes1 c JOIN lut l ON l.s = c.s AND l.code = c.code
            WHERE c.vec_id != l.query_id"""
    return f"""
        WITH {ivf_ctes if ivf else ""} cent0 AS (
            SELECT CAST(vec_id // {STRIDE} AS INT) AS cid, embedding
            FROM {src} WHERE vec_id % {STRIDE} = 0 AND vec_id < {K * STRIDE}
        ),
        d0 AS ({d0}),
        a0 AS (
            SELECT s, vec_id, code FROM d0
            QUALIFY row_number() OVER (PARTITION BY s, vec_id ORDER BY dist, code) = 1
        ),
        sums AS (
            SELECT a0.s, a0.code, i AS pos,
                   SUM(CAST(floor(CAST(e.embedding[a0.s * {SUB} + i] AS DOUBLE) * {float(QUANT)} + 0.5) AS BIGINT)) AS sm,
                   COUNT(*) AS n
            FROM a0 JOIN {src} e USING (vec_id), UNNEST(generate_series(1, {SUB})) AS t(i)
            GROUP BY 1, 2, 3
        ),
        grid AS (
            SELECT gs.s, c.cid AS code, gi.i AS pos, c.embedding[gs.s * {SUB} + gi.i] AS initv
            FROM cent0 c, UNNEST(generate_series(0, {M - 1})) AS gs(s),
                 UNNEST(generate_series(1, {SUB})) AS gi(i)
        ),
        cb1 AS (
            SELECT g.s, g.code,
                   list(CASE WHEN m.n IS NULL THEN CAST(g.initv AS DOUBLE)
                             ELSE (CAST(m.sm AS DOUBLE) / CAST(m.n AS DOUBLE)) / {float(QUANT)} END
                        ORDER BY g.pos) AS ce
            FROM grid g LEFT JOIN sums m ON m.s = g.s AND m.code = g.code AND m.pos = g.pos
            GROUP BY 1, 2
        ),
        d1 AS ({d1}),
        codes1 AS (
            SELECT s, vec_id, code FROM d1
            QUALIFY row_number() OVER (PARTITION BY s, vec_id ORDER BY dist, code) = 1
        ),
        {lut_cte}
        adcp AS (
            SELECT l.query_id, c.vec_id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.dist ORDER BY l.s)),
                               (a, x) -> a + x) AS adc
            {adcp_from}
            GROUP BY 1, 2
        ),
        shortlist AS (
            SELECT query_id, vec_id FROM adcp
            QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) <= {REFINE}
        ),
        exact AS (
            SELECT sl.query_id, sl.vec_id AS neighbor_id,
                   {l2_fold_sql("e.embedding", "q.embedding")} AS l2
            FROM shortlist sl
            JOIN embeddings e ON e.vec_id = sl.vec_id
            JOIN embeddings q ON q.vec_id = sl.query_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY l2, neighbor_id) AS BIGINT) AS rank,
               neighbor_id
        FROM exact QUALIFY rank <= {KTOP}
    """



def _quality_sql() -> str:
    from osm_lib_spark.operators.text import quality_scores_sql

    return quality_scores_sql("documents")


def oracle_sql() -> dict[str, str]:
    from osm_lib_spark.functions.hashing import md5_int_sql

    meta = _meta_s()
    out = {
        "osm_parse_nodes": f"SELECT id, fixed_lat, fixed_lon, tags_str FROM read_parquet('{G}/nodes.parquet')",
        "osm_parse_ways": f"SELECT id, node_ids_str, CAST(n_nodes AS BIGINT) AS n_nodes, tags_str FROM read_parquet('{G}/ways.parquet')",
        "osm_parse_relations": f"SELECT id, members_str, CAST(n_members AS BIGINT) AS n_members, tags_str FROM read_parquet('{G}/relations.parquet')",
        # REAL SQL recomputations (independent of the pandas oracle):
        "osm_entity_counts": (
            f"SELECT (s).kind AS entity_type, count(*) AS n FROM {_SPANS} "
            "WHERE (s).kind IN ('node','way','relation') GROUP BY 1"
        ),
        "osm_way_tiles": f"SELECT way_id, xtile, ytile FROM read_parquet('{G}/way_tiles.parquet')",
        "osm_intersections": (
            "SELECT node_id FROM ("
            f"  SELECT unnest(node_ids) AS node_id FROM read_parquet('{G}/ways.parquet') WHERE NOT is_building"
            ") GROUP BY node_id HAVING count(*) >= 2"
        ),
        "osm_roundtrip": (
            "SELECT doc_id, string_agg("
            "(s).kind || chr(31) || (s).text || chr(31) || (s).media_ref || chr(31) || CAST((s).\"offset\" AS VARCHAR),"
            f" chr(30) ORDER BY (s).\"offset\") AS canonical FROM {_SPANS} GROUP BY doc_id"
        ),
        "osm_tag_kv_stats": (
            "WITH all_tags AS ("
            f"  SELECT tags_str FROM read_parquet('{G}/nodes.parquet')"
            f"  UNION ALL SELECT tags_str FROM read_parquet('{G}/ways.parquet')"
            f"  UNION ALL SELECT tags_str FROM read_parquet('{G}/relations.parquet')"
            "), kvs AS ("
            "  SELECT unnest(string_split(tags_str, ';')) AS kv FROM all_tags WHERE tags_str <> ''"
            ") SELECT kv, count(*) AS n, CAST(sum(length(kv)) AS BIGINT) AS weight FROM kvs WHERE kv <> '' GROUP BY kv"
        ),
        "osm_pip": f"""
            SELECT 'bc' AS src, poly_id, node_id FROM read_parquet('{G}/pip.parquet')
            UNION ALL
            SELECT 'bk' AS src, poly_id, node_id FROM read_parquet('{G}/pip_many.parquet')
        """,
    }
    out["osm_rel_members"] = (
        "SELECT lower(split_part(m, ':', 1)) AS member_type, "
        "CAST(split_part(m, ':', 2) AS BIGINT) AS member_id, id AS relation_id FROM ("
        f"  SELECT id, unnest(string_split(members_str, '|')) AS m FROM read_parquet('{G}/relations.parquet')"
        ") WHERE split_part(m, ':', 1) IN ('NODE', 'WAY', 'RELATION')"
    )
    out["osm_bbox_extracts"] = " UNION ALL ".join(
        f"SELECT '{b}' AS bbox, entity_type, id FROM read_parquet('{G}/extract_{b}.parquet')"
        for b in ("dense", "wide", "world", "equator")
    )
    # kNN: REAL SQL brute force with embedded query points (haversine)
    pts_values = ", ".join(
        f"({int(q)}, {lat!r}, {lon!r})" for q, lat, lon in meta["knn_points"]
    )
    out["osm_knn"] = f"""
        WITH q(query_id, qlat, qlon) AS (VALUES {pts_values}),
        nodes AS (
            SELECT id, fixed_lat/1e7 AS lat, fixed_lon/1e7 AS lon
            FROM read_parquet('{G}/nodes.parquet')
        ),
        scored AS (
            SELECT q.query_id, nodes.id AS node_id,
                2*6371000.0*asin(sqrt(
                    pow(sin(radians(lat - qlat)/2), 2)
                    + cos(radians(qlat))*cos(radians(lat))*pow(sin(radians(lon - qlon)/2), 2)
                )) AS dist_m
            FROM nodes CROSS JOIN q
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist_m, node_id) AS BIGINT) AS rank,
               node_id
        FROM scored
        QUALIFY rank <= 10
    """
    # k-ring expansion is exact ⇒ must match the SAME brute-force SQL
    out["osm_knn_kring"] = out["osm_knn"]

    # reference's own golden counts for bangor_maine.osm.pbf
    # (OSMTest.java:14-17) — independent of this engine's decoder
    out["pbf_bangor_counts"] = """
        SELECT * FROM (VALUES
            ('node', CAST(35747 AS BIGINT)),
            ('way', CAST(2976 AS BIGINT)),
            ('relation', CAST(34 AS BIGINT))
        ) AS t(entity_type, n)
    """
    out["vex_roundtrip_counts"] = out["pbf_bangor_counts"]

    # ST3 affected tiles: old tile from the golden way_tiles index; new
    # tile = tile of the reversed way's new first node (= old LAST
    # node), recomputed with SQL slippy-map math; inner join to nodes
    # mirrors the first-node-must-exist indexing rule (OSM.java:316-319)
    out["osm_affected_tiles"] = f"""
        WITH changed AS (
            SELECT id AS way_id, node_ids[-1] AS new_first
            FROM read_parquet('{G}/ways.parquet') WHERE id % 13 = 0
        ),
        old_t AS (
            SELECT xtile, ytile FROM read_parquet('{G}/way_tiles.parquet')
            WHERE way_id IN (SELECT way_id FROM changed)
        ),
        new_t AS (
            SELECT CAST(floor((n.fixed_lon/1e7 + 180.0)/360.0 * 4096.0) AS INT) AS xtile,
                   CAST(floor((1.0 - ln(tan(radians(n.fixed_lat/1e7)) + 1.0/cos(radians(n.fixed_lat/1e7)))/pi())/2.0 * 4096.0) AS INT) AS ytile
            FROM changed c JOIN read_parquet('{G}/nodes.parquet') n ON n.id = c.new_first
        )
        SELECT DISTINCT xtile, ytile FROM (
            SELECT * FROM old_t UNION ALL SELECT * FROM new_t
        )
    """

    # P1-P5 tag functions re-derived from the golden tags_str strings
    out["osm_tag_ops"] = f"""
        WITH segs AS (
            SELECT id, tags_str,
                   list_filter(string_split(tags_str, ';'), s -> s <> '') AS ts
            FROM read_parquet('{G}/ways.parquet')
        ),
        cols AS (
            SELECT id,
                list_transform(list_filter(ts, s -> s LIKE 'highway=%'),
                               s -> regexp_replace(s, '^[^=]*=', ''))[1] AS highway,
                CAST(len(list_filter(ts, s -> s LIKE 'name=%')) > 0 AS INT) AS has_name,
                CAST(len(list_filter(ts, s -> s = 'highway=residential')) > 0 AS INT) AS is_residential,
                lower(list_transform(list_filter(ts, s -> s LIKE 'building=%'),
                               s -> regexp_replace(s, '^[^=]*=', ''))[1]) AS bval,
                CAST(len(ts) = 0 AS INT) AS untagged,
                list_filter(ts, s -> s LIKE 'highway=%' OR s LIKE 'name=%') AS kept
            FROM segs
        )
        SELECT id, highway,
               CAST(has_name AS BIGINT) AS has_name,
               CAST(is_residential AS BIGINT) AS is_residential,
               CAST(COALESCE(bval IN ('yes', 'true', '1'), false) AS BIGINT) AS building_true,
               CAST(COALESCE(bval IN ('no', 'false', '0'), false) AS BIGINT) AS building_false,
               CAST(untagged AS BIGINT) AS untagged,
               CASE WHEN len(kept) = 0 THEN '' ELSE array_to_string(kept, ';') || ';' END AS retained
        FROM cols
    """

    # ---- training-data pipeline oracles ----
    from osm_lib_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        SHINGLE_N,
    )
    from osm_lib_spark.operators.text import (
        fingerprints_sql,
        lang_id_sql,
        quality_scores_sql,
        token_counts_sql,
    )

    h15 = "CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)"
    fold_dot = (
        lambda a, b: "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )
    shingle_cte = f"""
        toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                generate_series(0, greatest(len(t) - {SHINGLE_N}, 0)),
                i -> array_to_string(t[i+1:i+{SHINGLE_N}], ' ')))) AS shingle
            FROM toks
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
    """
    out.update(
        {
            "dedup_exact": (
                "SELECT md5(text) AS text_md5, count(*) AS n_dups, min(doc_id) AS keep_id "
                "FROM documents GROUP BY text"
            ),
            # FULL independent recomputation of minhash LSH + exact
            # verify in DuckDB (no same-algorithm golden): md5-prefix
            # shingle hashes, 32 permutations with the seed-42 literal
            # coefficients, 8-band signature join, naive intersection
            # verify. Must hash-match the Spark banded+array_intersect
            # plan exactly.
            "dedup_minhash_pairs": _minhash_oracle_sql(shingle_cte),
            "dedup_components": _dedup_components_oracle_sql(shingle_cte),
            "ann_pq_topk": _pq_oracle_sql(),
            "ann_ivf_pq_topk": _pq_oracle_sql(residual=True),
            "text_scrub": __import__("osm_lib_spark.operators.text", fromlist=["scrub_text_sql"]).scrub_text_sql("documents"),
            # end-to-end curation: the components + quality oracles run
            # as subqueries, the sampling hash rule inline — fully
            # independent recomputation of the composed pipeline
            "corpus_curate": f"""
                SELECT d.doc_id, d.lang FROM documents d
                JOIN ({_dedup_components_oracle_sql(shingle_cte)}) comp
                  ON comp.doc_id = d.doc_id AND comp.keep = 1
                JOIN ({_quality_sql()}) q
                  ON q.doc_id = d.doc_id AND q.is_quality = 1
                 AND q.dup_word_x1000 <= 650 AND q.dup_2gram_x1000 <= 100
                WHERE {md5_int_sql("CAST(d.doc_id AS VARCHAR)")} % 1000000 <
                      CASE d.lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                                  ELSE 100000 END
            """,
            "sample_stratified": f"""
                SELECT doc_id, lang FROM documents
                WHERE {md5_int_sql("CAST(doc_id AS VARCHAR)")} % 1000000 <
                    CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
                              ELSE 100000 END
            """,
            "events_sessionize": """
                WITH e AS (
                    SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                ),
                flags AS (
                    SELECT user_id, event_id, us,
                        CASE WHEN lag(us) OVER w IS NULL THEN 1
                             WHEN us - lag(us) OVER w > 1800000000 THEN 1
                             ELSE 0 END AS new_s
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
                ),
                sess AS (
                    SELECT user_id, us,
                        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_seq
                    FROM flags
                )
                SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                       COUNT(*) AS n_events,
                       MAX(us) - MIN(us) AS span_us
                FROM sess GROUP BY 1, 2
            """,
            # the streaming stateful path emits exactly the batch result
            # minus each user's LAST (still-open) session
            "events_sessionize_stream": """
                WITH e AS (
                    SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                ),
                flags AS (
                    SELECT user_id, event_id, us,
                        CASE WHEN lag(us) OVER w IS NULL THEN 1
                             WHEN us - lag(us) OVER w > 1800000000 THEN 1
                             ELSE 0 END AS new_s
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
                ),
                sess AS (
                    SELECT user_id, us,
                        SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING) AS session_seq
                    FROM flags
                ),
                batch AS (
                    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                           COUNT(*) AS n_events,
                           MAX(us) - MIN(us) AS span_us
                    FROM sess GROUP BY 1, 2
                )
                SELECT user_id, session_seq, n_events, span_us FROM batch
                QUALIFY session_seq < MAX(session_seq) OVER (PARTITION BY user_id)
            """,
            # bucket self-join over the same SQL-recomputed fingerprints
            # (equal 8-hex-prefix = simhash >> 28)
            "dedup_simhash_pairs": f"""
                WITH sims AS (
                    SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), j ->
                        CASE WHEN list_sum(list_transform(
                            list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> {h15}),
                            h -> ((h >> j) & 1) * 2 - 1)) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
                    FROM documents
                ),
                b AS (SELECT doc_id, simhash, simhash >> 28 AS bucket FROM sims)
                SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                       x.simhash AS sim_a, y.simhash AS sim_b
                FROM b x JOIN b y USING (bucket)
                WHERE x.doc_id < y.doc_id
            """,
            # pigeonhole Hamming-ball pairs: 4x15-bit band equi-join
            # candidates, exact bit_count verify — recomputed in SQL
            "dedup_simhash_hamming": f"""
                WITH sims AS (
                    SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), j ->
                        CASE WHEN list_sum(list_transform(
                            list_transform(regexp_split_to_array(trim(text), '\\s+'), t -> {h15}),
                            h -> ((h >> j) & 1) * 2 - 1)) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
                    FROM documents
                ),
                bands AS (
                    SELECT doc_id, simhash, bnd,
                           (simhash >> ((bnd - 1) * 15)) & {(1 << 15) - 1} AS band_sig
                    FROM sims CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS bnd)
                ),
                cands AS (
                    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                                    x.simhash AS sim_a, y.simhash AS sim_b
                    FROM bands x JOIN bands y USING (bnd, band_sig)
                    WHERE x.doc_id < y.doc_id
                )
                SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
                FROM cands WHERE bit_count(xor(sim_a, sim_b)) <= 3
            """,
            "dedup_ngram_jaccard": f"""
                WITH {shingle_cte},
                inter AS (
                    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                    FROM sh a JOIN sh b USING (shingle)
                    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
                )
                SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE inter >= {JACCARD_THRESHOLD} * (sa.sz + sb.sz - inter)
            """,
            "text_tokens": token_counts_sql("documents"),
            "text_quality": quality_scores_sql("documents"),
            "text_langid": lang_id_sql("documents"),
            "text_fingerprint": fingerprints_sql("documents"),
            "ann_cosine_topk": f"""
                WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
                c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
                scored AS (
                    SELECT query_id, neighbor_id,
                        {fold_dot('qe', 'ce')} / (sqrt({fold_dot('qe', 'qe')}) * sqrt({fold_dot('ce', 'ce')})) AS cos
                    FROM q CROSS JOIN c WHERE neighbor_id != query_id
                )
                SELECT CAST(query_id AS BIGINT) AS query_id,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
                       neighbor_id
                FROM scored QUALIFY rank <= 10
            """,
            # full independent SQL recomputation of the LSH path:
            # literal seed-7 hyperplanes → sign-bit signatures → band
            # join → exact cosine rerank (golden parquet retired)
            "ann_lsh_topk": f"""
                WITH {_lsh_cte(fold_dot)},
                q AS (SELECT vec_id AS query_id, embedding AS qe, bnd, band_sig
                      FROM bands WHERE vec_id < 10),
                cands AS (
                    SELECT DISTINCT q.query_id, q.qe, c.vec_id AS neighbor_id, c.embedding AS ce
                    FROM q JOIN bands c USING (bnd, band_sig)
                    WHERE c.vec_id != q.query_id
                ),
                scored AS (
                    SELECT query_id, neighbor_id,
                        {fold_dot('qe', 'ce')} / (sqrt({fold_dot('qe', 'qe')}) * sqrt({fold_dot('ce', 'ce')})) AS cos
                    FROM cands
                )
                SELECT CAST(query_id AS BIGINT) AS query_id,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
                       neighbor_id
                FROM scored QUALIFY rank <= 10
            """,
            # IVF recomputed independently: stride-31 centroids, argmax
            # cosine assignment, top-4 probes, exact rerank
            "ann_ivf_topk": f"""
                WITH cent AS (
                    SELECT CAST(vec_id // 31 AS INT) AS list_id, embedding AS ce
                    FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < {16 * 31}
                ),
                ascore AS (
                    SELECT e.vec_id, e.embedding, c.list_id,
                        {fold_dot('e.embedding', 'c.ce')} / (sqrt({fold_dot('e.embedding', 'e.embedding')}) * sqrt({fold_dot('c.ce', 'c.ce')})) AS ccos
                    FROM embeddings e CROSS JOIN cent c
                ),
                assign AS (
                    SELECT vec_id, embedding, list_id FROM ascore
                    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) = 1
                ),
                probes AS (
                    SELECT a.vec_id AS query_id, a.embedding AS qe, s.list_id
                    FROM assign a JOIN ascore s USING (vec_id)
                    WHERE a.vec_id < 10
                    QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY s.ccos DESC, s.list_id) <= 4
                ),
                cands AS (
                    SELECT DISTINCT p.query_id, p.qe, x.vec_id AS neighbor_id, x.embedding AS ce
                    FROM probes p JOIN assign x USING (list_id)
                    WHERE x.vec_id != p.query_id
                ),
                scored AS (
                    SELECT query_id, neighbor_id,
                        {fold_dot('qe', 'ce')} / (sqrt({fold_dot('qe', 'qe')}) * sqrt({fold_dot('ce', 'ce')})) AS cos
                    FROM cands
                )
                SELECT CAST(query_id AS BIGINT) AS query_id,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
                       neighbor_id
                FROM scored QUALIFY rank <= 10
            """,
            # IVF + one deterministic Lloyd step retrained from scratch:
            # integer-quantized per-dim sums (floor(x*2^20 + 0.5) as
            # BIGINT) make the centroid means order-independent, so SQL
            # reproduces the trained index bit-for-bit
            "ann_ivf_kmeans_topk": f"""
                WITH cent0 AS (
                    SELECT CAST(vec_id // 31 AS INT) AS list_id, embedding AS ce
                    FROM embeddings WHERE vec_id % 31 = 0 AND vec_id < {16 * 31}
                ),
                a0score AS (
                    SELECT e.vec_id, e.embedding, c.list_id,
                        {fold_dot('e.embedding', 'c.ce')} / (sqrt({fold_dot('e.embedding', 'e.embedding')}) * sqrt({fold_dot('c.ce', 'c.ce')})) AS ccos
                    FROM embeddings e CROSS JOIN cent0 c
                ),
                a0 AS (
                    SELECT vec_id, embedding, list_id FROM a0score
                    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) = 1
                ),
                sums AS (
                    SELECT list_id, i AS pos,
                           SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT)) AS s,
                           COUNT(*) AS n
                    FROM a0, UNNEST(generate_series(1, 64)) AS t(i)
                    GROUP BY 1, 2
                ),
                cent1 AS (
                    SELECT list_id,
                           list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1048576.0 ORDER BY pos) AS ce
                    FROM sums GROUP BY list_id
                ),
                ascore AS (
                    SELECT e.vec_id, e.embedding, c.list_id,
                        {fold_dot('e.embedding', 'c.ce')} / (sqrt({fold_dot('e.embedding', 'e.embedding')}) * sqrt({fold_dot('c.ce', 'c.ce')})) AS ccos
                    FROM embeddings e CROSS JOIN cent1 c
                ),
                assign AS (
                    SELECT vec_id, embedding, list_id FROM ascore
                    QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, list_id) = 1
                ),
                probes AS (
                    SELECT a.vec_id AS query_id, a.embedding AS qe, s.list_id
                    FROM assign a JOIN ascore s USING (vec_id)
                    WHERE a.vec_id < 10
                    QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY s.ccos DESC, s.list_id) <= 4
                ),
                cands AS (
                    SELECT DISTINCT p.query_id, p.qe, x.vec_id AS neighbor_id, x.embedding AS ce
                    FROM probes p JOIN assign x USING (list_id)
                    WHERE x.vec_id != p.query_id
                ),
                scored AS (
                    SELECT query_id, neighbor_id,
                        {fold_dot('qe', 'ce')} / (sqrt({fold_dot('qe', 'qe')}) * sqrt({fold_dot('ce', 'ce')})) AS cos
                    FROM cands
                )
                SELECT CAST(query_id AS BIGINT) AS query_id,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
                       neighbor_id
                FROM scored QUALIFY rank <= 10
            """,
            # LSH-band blocked near-dup pairs (label blocking retired:
            # unbounded hot blocks) — banding recomputed from literals
            "emb_dup_pairs": f"""
                WITH {_lsh_cte(fold_dot)},
                cands AS (
                    SELECT DISTINCT a.vec_id AS vec_a, a.embedding AS ea,
                                    b.vec_id AS vec_b, b.embedding AS eb
                    FROM bands a JOIN bands b USING (bnd, band_sig)
                    WHERE a.vec_id < b.vec_id
                )
                SELECT vec_a, vec_b FROM cands
                WHERE {fold_dot('ea', 'eb')}
                      / (sqrt({fold_dot('ea', 'ea')}) * sqrt({fold_dot('eb', 'eb')})) >= 0.3
            """,
            "osc_merge": f"""
                WITH base AS (SELECT id, fixed_lat, fixed_lon, tags_str FROM read_parquet('{G}/nodes.parquet'))
                SELECT id, fixed_lat, fixed_lon, tags_str FROM base
                    WHERE id % 97 <> 0 AND NOT (id % 89 = 1)
                UNION ALL
                SELECT id, fixed_lat + 1 AS fixed_lat, fixed_lon, tags_str FROM base
                    WHERE id % 89 = 1 AND id % 97 <> 0
                UNION ALL
                SELECT id + 10000000000000 AS id, fixed_lat, fixed_lon, '' AS tags_str FROM base
                    WHERE id % 101 = 0
            """,
            "codec_delta_roundtrip": f"""
                WITH nodes AS (SELECT id, id % 16 AS block FROM read_parquet('{G}/nodes.parquet')),
                enc AS (
                    SELECT id, block,
                           CASE WHEN lag(id) OVER w IS NULL THEN id
                                ELSE id - lag(id) OVER w END AS delta
                    FROM nodes WINDOW w AS (PARTITION BY block ORDER BY id)
                )
                SELECT id, block, delta,
                       xor(delta * 2, delta >> 63) AS zz,
                       xor((xor(delta * 2, delta >> 63) >> 1) & 9223372036854775807,
                           -(xor(delta * 2, delta >> 63) & 1)) AS unzz,
                       CAST(sum(delta) OVER (PARTITION BY block ORDER BY id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS decoded
                FROM enc
            """,
            "osm_cardinality_stats": f"""
                WITH refs AS (
                    SELECT unnest(node_ids) AS node_id, is_building
                    FROM read_parquet('{G}/ways.parquet')
                )
                SELECT (SELECT count(*) FROM read_parquet('{G}/ways.parquet')) AS n_ways,
                       count(*) AS n_ref_total,
                       count(DISTINCT node_id) AS n_ref_distinct,
                       (SELECT count(*) FROM (
                            SELECT node_id FROM (
                                SELECT unnest(node_ids) AS node_id
                                FROM read_parquet('{G}/ways.parquet') WHERE NOT is_building)
                            GROUP BY node_id HAVING count(*) >= 2)) AS n_intersections
                FROM refs
            """,
            "osm_ways_enriched": f"""
                SELECT id,
                       CASE WHEN id % 10 <> 3 THEN tags_str
                            WHEN regexp_matches(tags_str, '(^|;)maxspeed=')
                                THEN regexp_replace(tags_str, '(^|;)maxspeed=[^;]*',
                                     '\\1maxspeed=' || CAST((id % 120) + 10 AS VARCHAR))
                            ELSE tags_str || 'maxspeed=' || CAST((id % 120) + 10 AS VARCHAR) || ';'
                       END AS tags_str
                FROM read_parquet('{G}/ways.parquet')
            """,
            "raster_node_density": f"""
                SELECT CAST(floor((fixed_lon/1e7 + 180.0)/360.0 * 4096.0) AS INT) AS xtile,
                       CAST(floor((1.0 - ln(tan(radians(fixed_lat/1e7)) + 1.0/cos(radians(fixed_lat/1e7)))/pi())/2.0 * 4096.0) AS INT) AS ytile,
                       count(*) AS n_points
                FROM read_parquet('{G}/nodes.parquet')
                GROUP BY 1, 2
            """,
            "osm_ways_resolved": f"""
                WITH refs AS (
                    SELECT id AS way_id, unnest(node_ids) AS ref,
                           generate_subscripts(node_ids, 1) AS ord
                    FROM read_parquet('{G}/ways.parquet')
                ),
                joined AS (
                    SELECT r.way_id, r.ord, n.fixed_lat, n.fixed_lon
                    FROM refs r JOIN read_parquet('{G}/nodes.parquet') n ON r.ref = n.id
                )
                SELECT way_id,
                       string_agg(CAST(fixed_lat AS VARCHAR) || ':' || CAST(fixed_lon AS VARCHAR), ',' ORDER BY ord) AS geometry,
                       count(*) AS n_resolved
                FROM joined GROUP BY way_id
            """,
            "events_window_counts": """
                SELECT strftime(ts, '%Y-%m-%d %H:') ||
                       lpad(CAST(CAST(floor(minute(ts)/5)*5 AS INT) AS VARCHAR), 2, '0') AS window_start,
                       event_type, count(*) AS n
                FROM events GROUP BY 1, 2
            """,
            # independent recomputation over the shared shingle CTE:
            # eval split by doc_id mod, distinct-shingle semi overlap
            "decontaminate": f"""
                WITH {shingle_cte}
                , eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
                hits AS (
                    SELECT sh.doc_id, COUNT(*) AS n_shared
                    FROM sh JOIN eval_sh USING (shingle)
                    WHERE sh.doc_id % 97 != 0 GROUP BY 1
                )
                SELECT d.doc_id, CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
                       CAST(COALESCE(h.n_shared, 0) > 0 AS BIGINT) AS contaminated
                FROM documents d LEFT JOIN hits h USING (doc_id)
                WHERE d.doc_id % 97 != 0
            """,
            "cells_multires": f"""
                WITH pts AS (
                    SELECT CAST(floor((fixed_lon/1e7 + 180.0)/360.0 * 4096.0) AS BIGINT) AS x12,
                           CAST(floor((1.0 - ln(tan(radians(fixed_lat/1e7)) + 1.0/cos(radians(fixed_lat/1e7)))/pi())/2.0 * 4096.0) AS BIGINT) AS y12
                    FROM read_parquet('{G}/nodes.parquet')
                ),
                cells AS (
                    SELECT (CAST(12 AS BIGINT) << 58) | (x12 << 29) | y12 AS c12,
                           (CAST(8 AS BIGINT) << 58) | ((x12 // 16) << 29) | (y12 // 16) AS cell8
                    FROM pts
                )
                SELECT cell8, count(*) AS n_nodes, count(DISTINCT c12) AS n_cells12
                FROM cells GROUP BY cell8
            """,
            # the three 1:1 per-media stages recomputed in one SELECT.
            # The engine sniffs the container content and DECODES real
            # PNG/WAV/APNG payloads; the oracle instead derives the
            # same sums from each synthetic payload's closed form —
            # img: pixel[y,x,c] = base_c + x + y with (base_c, w, h)
            # from md5(ref) bytes, so Σ channel_c = w·h·base_c + h·Σx
            # + w·Σy and the 224×224 nearest resize uses the same floor
            # index map (src = (dst·in)//224) summed over range(224);
            # audio: sample[i] = base_0 + (i%64) over n = 64·(13+b4%25)
            # samples, so Σ = n·b0 + (n/64)·2016, max = b0 + 63, and
            # the 224-sample nearest resample sums (i·n//224) % 64;
            # vid: F = 4 + b5%12 frames, frame f = img gradient + f, so
            # per-frame channel sums are the img form + w·h·f, totals
            # add w·h·F(F−1)/2, and the resized stack sum is F× the img
            # resize form + 224²·F(F−1)/2.
            # A codec or resampler bug on the engine side breaks this
            # hash; the oracle never runs a decoder.
            "media_pipeline": f"""
                WITH m AS (
                    SELECT doc_id, (s).media_ref AS media_ref,
                           split_part(split_part((s).media_ref, '://', 2), '/', 1) AS kind,
                           CAST(('0x' || substr(md5((s).media_ref), 1, 2)) AS BIGINT) % 128 AS b0,
                           CAST(('0x' || substr(md5((s).media_ref), 3, 2)) AS BIGINT) % 128 AS b1,
                           8 + CAST(('0x' || substr(md5((s).media_ref), 7, 2)) AS BIGINT) % 25 AS w,
                           8 + CAST(('0x' || substr(md5((s).media_ref), 9, 2)) AS BIGINT) % 25 AS h,
                           64 * (13 + CAST(('0x' || substr(md5((s).media_ref), 9, 2)) AS BIGINT) % 25) AS n,
                           4 + CAST(('0x' || substr(md5((s).media_ref), 11, 2)) AS BIGINT) % 12 AS fr
                    FROM {_SPANS} WHERE (s).kind = 'media'
                ),
                sums AS (
                    SELECT *,
                           w*h*b0 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS c0_sum,
                           w*h*b1 + h*(w*(w-1)//2) + w*(h*(h-1)//2) AS c1_sum,
                           224*224*b0
                             + 224*(SELECT SUM((t.x * m.w) // 224) FROM range(0, 224) t(x))
                             + 224*(SELECT SUM((t.y * m.h) // 224) FROM range(0, 224) t(y)) AS r0_sum
                    FROM m
                )
                SELECT doc_id, media_ref,
                       split_part(media_ref, '://', 1) AS scheme,
                       kind AS media_kind,
                       CAST(split_part(split_part(media_ref, '://', 2), '/', 2) AS BIGINT) AS media_id,
                       substr(md5(media_ref), 1, 16) AS sig,
                       CAST(CASE WHEN kind = 'img' THEN w
                                 WHEN kind = 'vid' THEN fr
                                 ELSE n END AS BIGINT) AS f0,
                       CAST(CASE WHEN kind = 'img' THEN h
                                 WHEN kind = 'vid' THEN w*h
                                 ELSE 8000 END AS BIGINT) AS f1,
                       CAST(CASE WHEN kind = 'img' THEN c0_sum
                                 WHEN kind = 'vid' THEN fr*c0_sum + w*h*(fr*(fr-1)//2)
                                 ELSE n*b0 + (n//64)*2016 END AS BIGINT) AS f2,
                       CAST(CASE WHEN kind = 'img' THEN c1_sum
                                 WHEN kind = 'vid' THEN c1_sum + w*h*(fr-1)
                                 ELSE b0 + 63 END AS BIGINT) AS f3,
                       CAST(224 AS INT) AS width,
                       CAST(CASE WHEN kind = 'audio' THEN 1 ELSE 224 END AS INT) AS height,
                       CAST(CASE WHEN kind = 'img' THEN r0_sum
                                 WHEN kind = 'vid' THEN fr*r0_sum + 224*224*(fr*(fr-1)//2)
                                 ELSE 224*b0
                                      + (SELECT SUM(((t.x * sums.n) // 224) % 64) FROM range(0, 224) t(x))
                            END AS BIGINT) AS resized_sig
                FROM sums
            """,
            # full recomputation of the 1→N frame fan-out from the
            # DECODED payload's closed form: clip length = 10+(w·h)%40
            # frames (img), 10 + n%40 windows (audio), or the APNG's
            # ACTUAL frame count F = 4 + b5%12 (vid); frame_sig =
            # decoded-sum·64 + frame_idx, where for vid the sum is THAT
            # frame's channel-0 sum (img form + w·h·f) — with
            # w/h/n/F/b0 re-derived from md5(ref) exactly as
            # synth_payload embeds them. The engine side sniffs +
            # decodes real PNG/WAV/APNG bytes to get the same numbers,
            # so row count AND values check every codec.
            "media_frames": f"""
                WITH m AS (
                    SELECT doc_id, (s).media_ref AS media_ref,
                           split_part(split_part((s).media_ref, '://', 2), '/', 1) AS kind,
                           CAST(('0x' || substr(md5((s).media_ref), 1, 2)) AS BIGINT) % 128 AS b0,
                           8 + CAST(('0x' || substr(md5((s).media_ref), 7, 2)) AS BIGINT) % 25 AS w,
                           8 + CAST(('0x' || substr(md5((s).media_ref), 9, 2)) AS BIGINT) % 25 AS h,
                           64 * (13 + CAST(('0x' || substr(md5((s).media_ref), 9, 2)) AS BIGINT) % 25) AS n,
                           4 + CAST(('0x' || substr(md5((s).media_ref), 11, 2)) AS BIGINT) % 12 AS fr
                    FROM {_SPANS}
                    WHERE (s).kind = 'media'
                ),
                clips AS (
                    SELECT doc_id, media_ref, kind, w*h AS wh,
                           CASE WHEN kind = 'audio'
                                THEN n*b0 + (n//64)*2016
                                ELSE w*h*b0 + h*(w*(w-1)//2) + w*(h*(h-1)//2)
                                END AS sig_base,
                           CASE WHEN kind = 'img' THEN 10 + (w*h) % 40
                                WHEN kind = 'vid' THEN fr
                                ELSE 10 + n % 40 END AS n_frames
                    FROM m
                )
                SELECT doc_id, media_ref,
                       CAST(f AS INT) AS frame_idx,
                       CAST(CASE WHEN kind = 'vid' THEN (sig_base + wh*f) * 64 + f
                                 ELSE sig_base * 64 + f END AS BIGINT) AS frame_sig
                FROM clips, UNNEST(generate_series(0, CAST(n_frames - 1 AS BIGINT), 5)) AS t(f)
            """,
        }
    )
    return out
