"""Per-query isolation harness for the optimization round (guide §1).

NOT the frozen driver bench — this file exists so individual operators
can be timed with the noop sink (df.write.format("noop")), re-run in
quick A/B loops, and have their `.explain("formatted")` plans captured
to plans/r06/ without paying for the whole suite.

Usage:
    python bench_extra.py <query> [more queries...] [--reps 3] [--plan]
    python bench_extra.py --list

With --plan, writes plans/r06/<query>.txt (rename to _before/_after
manually when snapshotting a change).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# unset: get_spark sizes the session from the host
CPUS = os.environ.get("SPARK_GRAFT_CPUS")
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ctx:
    """Lazily-built shared state mirroring bench.py's run_suite preamble."""

    def __init__(self, spark):
        self.spark = spark
        self._built = False

    def build(self):
        if self._built:
            return
        import __spark_entry__ as entrymod
        from osm_lib_spark.operators.extract import prepare_extract_context
        from osm_lib_spark.operators.indexes import build_way_tiles
        from osm_lib_spark.sources.span_codec import (
            parse_nodes,
            parse_relations,
            parse_ways,
        )

        spark = self.spark
        fixture = entrymod._fixture(SF_DIR)
        self.meta = entrymod._meta(SF_DIR)
        self.docs = spark.read.parquet(os.path.join(fixture, "docs.parquet"))
        width = spark.sparkContext.defaultParallelism
        self.width = width
        self.nodes = parse_nodes(self.docs).repartition(width, "id").cache()
        self.ways = parse_ways(self.docs).repartition(width, "id").cache()
        self.relations = parse_relations(self.docs).repartition(width, "id").cache()
        self.n_nodes = self.nodes.count()
        self.ways.count()
        self.relations.count()
        self.way_tiles = build_way_tiles(self.ways, self.nodes).cache()
        self.way_tiles.count()
        self.ctx = prepare_extract_context(self.relations)
        self._built = True

    def docs_only(self):
        if not hasattr(self, "docs"):
            import __spark_entry__ as entrymod

            fixture = entrymod._fixture(SF_DIR)
            self.docs = self.spark.read.parquet(os.path.join(fixture, "docs.parquet"))
            self.width = self.spark.sparkContext.defaultParallelism

    def tables(self, name):
        """documents/embeddings/events, repartitioned like bench.py."""
        self.docs_only()
        df = self.spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))
        return df.repartition(self.width)


def q_parse_entities(c: Ctx):
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways

    c.docs_only()

    def run():
        n = parse_nodes(c.docs).repartition(c.width, "id")
        w = parse_ways(c.docs).repartition(c.width, "id")
        r = parse_relations(c.docs).repartition(c.width, "id")
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(3) as ex:
            fs = [ex.submit(noop, df) for df in (n, w, r)]
            [f.result() for f in fs]

    return run, lambda: None


def q_tile_extract_batch(c: Ctx):
    import bench as benchmod
    from osm_lib_spark.operators.extract import bbox_extract_batch

    c.build()
    boxes = benchmod.bench_bboxes(c.meta)

    def df():
        return bbox_extract_batch(
            c.nodes, c.ways, c.relations, boxes, way_tiles=c.way_tiles, ctx=c.ctx
        )

    return lambda: df().count(), df


def q_tile_extract_single(c: Ctx):
    import bench as benchmod
    from osm_lib_spark.operators.extract import bbox_extract

    c.build()
    boxes = benchmod.bench_bboxes(c.meta)

    def df():
        return bbox_extract(
            c.nodes, c.ways, c.relations, boxes[0], way_tiles=c.way_tiles, ctx=c.ctx
        ).ids(ordered=False)

    return lambda: df().count(), df


def q_build_way_tiles(c: Ctx):
    from osm_lib_spark.operators.indexes import build_way_tiles

    c.build()

    def df():
        return build_way_tiles(c.ways, c.nodes)

    return lambda: noop(df()), df


def q_way_node_resolution(c: Ctx):
    c.build()

    def df():
        refs = c.ways.select(
            F.col("id").alias("way_id"), F.posexplode("node_ids").alias("pos", "ref")
        )
        return refs.join(
            c.nodes.select(F.col("id").alias("ref"), "fixed_lat", "fixed_lon").hint(
                "SHUFFLE_HASH"
            ),
            "ref",
        )

    return lambda: df().count(), df


def q_knn_kring(c: Ctx):
    from osm_lib_spark.operators.knn import knn_kring

    c.build()
    pts = [tuple(p) for p in c.meta["knn_points"]]

    def run():
        return knn_kring(c.nodes, pts, k=10, est_n_nodes=self_n(c)).count()

    def self_n(c):
        return c.n_nodes

    return run, lambda: None


def q_knn_kring_q100(c: Ctx):
    from osm_lib_spark.operators.knn import knn_kring, tiled_node_store

    c.build()
    store = tiled_node_store(c.nodes).cache()
    store.count()
    q100_rows = (
        c.nodes.where(F.col("id") % 2500 == 1)
        .select("fixed_lat", "fixed_lon")
        .orderBy("fixed_lat")
        .limit(100)
        .collect()
    )
    q100 = [
        (i, r.fixed_lat / 1e7 + 0.001 * ((i % 7) - 3), r.fixed_lon / 1e7 + 0.001 * ((i % 5) - 2))
        for i, r in enumerate(q100_rows)
    ]

    def run():
        return knn_kring(c.nodes, q100, k=10, tiled=store, est_n_nodes=c.n_nodes).count()

    return run, lambda: None


def q_pbf_encode(c: Ctx):
    from osm_lib_spark.sources.pbf import write_pbf

    c.build()
    path = os.path.join(tempfile.gettempdir(), "bx_entities.pbf")

    def run():
        write_pbf(path, c.nodes, c.ways, c.relations)

    return run, lambda: None


def q_pbf_decode(c: Ctx):
    from osm_lib_spark.sources.pbf import read_pbf, write_pbf

    c.build()
    path = os.path.join(tempfile.gettempdir(), "bx_entities.pbf")
    if not os.path.exists(path):
        write_pbf(path, c.nodes, c.ways, c.relations)

    def df():
        return read_pbf(c.spark, path)

    return lambda: df().count(), df


def q_vex_encode(c: Ctx):
    from osm_lib_spark.sources.vex import write_vex

    c.build()
    path = os.path.join(tempfile.gettempdir(), "bx_entities.vex")

    def run():
        write_vex(path, c.nodes, c.ways, c.relations)

    return run, lambda: None


def q_vex_decode(c: Ctx):
    from osm_lib_spark.sources.vex import read_vex, write_vex

    c.build()
    path = os.path.join(tempfile.gettempdir(), "bx_entities.vex")
    if not os.path.exists(path):
        write_vex(path, c.nodes, c.ways, c.relations)

    def df():
        return read_vex(c.spark, path)

    return lambda: df().count(), df


def q_pip_bucketed(c: Ctx):
    from osm_lib_spark.operators.pip import (
        grid_polygons,
        points_in_polygons_bucketed,
        polygons_df,
    )

    c.build()
    centers = [(float(p[1]), float(p[2])) for p in c.meta["knn_points"][:2]]
    polys = polygons_df(c.spark, grid_polygons(centers))

    def df():
        return points_in_polygons_bucketed(c.nodes, polys)

    return lambda: df().count(), df


def q_media_decode(c: Ctx):
    from osm_lib_spark.operators.multimodal import decode_media_features

    c.docs_only()
    media_docs = c.docs.repartition(c.width)

    def df():
        return decode_media_features(media_docs)

    return lambda: df().count(), df


def q_media_frames(c: Ctx):
    from osm_lib_spark.operators.multimodal import sample_frames

    c.docs_only()
    media_docs = c.docs.repartition(c.width)

    def df():
        return sample_frames(media_docs)

    return lambda: df().count(), df


def q_dedup_minhash(c: Ctx):
    from osm_lib_spark.operators.dedup import minhash_dup_pairs

    documents = c.tables("documents")

    def df():
        return minhash_dup_pairs(documents)

    return lambda: df().count(), df


def q_dedup_components(c: Ctx):
    from osm_lib_spark.operators.dedup import dup_components

    documents = c.tables("documents")

    def df():
        return dup_components(documents)

    return lambda: df().count(), df


def q_ann_pq_topk(c: Ctx):
    from osm_lib_spark.operators.similarity import pq_topk

    embeddings = c.tables("embeddings")

    def df():
        return pq_topk(embeddings)

    return lambda: df().count(), df


def q_ann_ivf_pq_topk(c: Ctx):
    from osm_lib_spark.operators.similarity import ivf_pq_topk

    embeddings = c.tables("embeddings")

    def df():
        return ivf_pq_topk(embeddings, residual=True)

    return lambda: df().count(), df


def q_ann_ivf_pq_serve(c: Ctx):
    from osm_lib_spark.operators.similarity import build_ivf_pq_index, ivf_pq_topk_from_index

    embeddings = c.tables("embeddings")
    idx_dir = tempfile.mkdtemp(prefix="bx_ivfpq_")
    build_ivf_pq_index(embeddings, idx_dir)

    def df():
        return ivf_pq_topk_from_index(embeddings, idx_dir)

    return lambda: df().count(), df


def q_ingest_dedup_batch(c: Ctx):
    from osm_lib_spark.operators.dedup import build_minhash_index, dedup_batch_against_index

    documents = c.tables("documents")
    mh_dir = tempfile.mkdtemp(prefix="bx_mh_")
    batch = documents.where(F.col("doc_id") % 8 == 0)
    build_minhash_index(documents.where(F.col("doc_id") % 8 != 0), mh_dir)

    def df():
        return dedup_batch_against_index(batch, mh_dir)

    return lambda: df().count(), df


def q_events_sessionize(c: Ctx):
    from osm_lib_spark.operators.sessions import sessionize

    events = c.tables("events")

    def df():
        return sessionize(events)

    return lambda: df().count(), df


QUERIES = {
    name[2:]: fn
    for name, fn in sorted(globals().items())
    if name.startswith("q_") and callable(fn)
}


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if "--list" in args:
        print("\n".join(QUERIES))
        return 0
    reps = 3
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    want_plan = "--plan" in args
    if want_plan:
        args.remove("--plan")

    from osm_lib_spark.session import get_spark, stop_spark

    stop_spark()
    spark = get_spark(
        "bench_extra",
        master=f"local[{CPUS}]" if CPUS else None,
        shuffle_partitions=max(8, int(CPUS)) if CPUS else None,
        extra_conf={"spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024)},
    )
    c = Ctx(spark)
    out = {}
    try:
        for q in args:
            run, df_fn = QUERIES[q](c)
            spark.sparkContext.setJobDescription(f"bx:{q}")
            if want_plan:
                df = df_fn()
                if df is not None:
                    os.makedirs(PLAN_DIR, exist_ok=True)
                    with open(os.path.join(PLAN_DIR, f"{q}.txt"), "w") as f:
                        f.write(df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"
                        ))
            run()  # warmup
            times = []
            for _ in range(reps):
                t = time.time()
                run()
                times.append(round(time.time() - t, 3))
            out[q] = {"median": sorted(times)[len(times) // 2], "reps": times}
            spark.sparkContext.setJobDescription(None)
    finally:
        stop_spark()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
