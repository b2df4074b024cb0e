"""The two workloads. Each drives the engine only through public
functions of ``sources.*`` and ``operators.*``.

A workload builds its state in ``setup()`` (timed as set-up), then
serves ``op(i)`` calls from one closed-loop client, cycling through
``cycle``. ``op`` returns ``(result_rows, check)``: the check runs outside
the timed window and returns False when the op's output is wrong.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import world
from spans import Tracer

# IVF-PQ recall@10 against exact cosine top-10 must stay above this.
# Measured 0.93-1.00 over seeds 1-10 of the fixed corpus.
IVF_PQ_RECALL_FLOOR = 0.85

# (rows, xor of row hashes) of the deterministic corpus ops over their
# fixed inputs (media docs of world.corpus_subsets, the whole corpus);
# a change to these outputs is a failed check.
GOLDEN_DIGESTS = {
    "media": (240, 2548509077071426135),
    "frames": (1130, 8212657227577926744),
    "components": (500, 6081956132171615117),
}


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Order-free (row count, xor of row hashes) of ``df``."""
    row = df.select(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")).first()
    return int(row.n), int(row.h or 0)


class Workload:
    """Base: the seeded requests, the timed set-up and the op dispatch."""

    setup_reps = 2  # setup_s is their median; the first rep also pays JIT warm-up
    cycle: tuple[str, ...] = ()  # request kinds of one cycle, in order

    def __init__(self, spark, tracer: Tracer, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.width = spark.sparkContext.defaultParallelism
        self.cached: list[DataFrame] = []
        self.sent: dict[str, int] = {}
        self.prepare()

    def prepare(self) -> None:
        """Untimed: build worlds and draw the seeded requests."""

    def _cache(self, layer: str, make) -> DataFrame:
        with self.tracer.span(layer, "call"):
            df = make().cache()
        with self.tracer.span(layer, "action"):
            df.count()
        self.cached.append(df)
        return df

    def setup(self) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []

    def after_setup(self) -> None:
        """Untimed: reference answers that the checks compare against."""

    @property
    def kinds(self) -> list[str]:
        return list(dict.fromkeys(self.cycle))

    def kind(self, i: int) -> str:
        return self.cycle[i % len(self.cycle)]

    def op(self, kind: str):
        """The next op of ``kind``; its ``j``-th op sends request ``j``."""
        j = self.sent.get(kind, 0)
        self.sent[kind] = j + 1
        return getattr(self, f"op_{kind}")(j)

    def items(self, kind: str) -> int:
        """Input items one op of ``kind`` processes (for items_per_s)."""
        return 1

    def detail(self, run: dict, op_s: float) -> dict:
        """End-to-end figures that apply to this workload only:
        ``{name: (value, unit)}``."""
        return {}


class OsmS(Workload):
    """The OSM queries and codecs over the sf-s entity tables: one batch
    extract (joins and shuffle in operators.extract), three interactive
    requests (per-job fixed cost and driver round trips) and the PBF/VEX
    round trips (write path, Arrow workers, file bytes)."""

    cycle = ("batch", "bbox", "knn", "pip", "pbf", "vex")
    n_requests = 8  # distinct requests per interactive kind, sent in turn
    n_checked = 2  # batch boxes checked against the oracle

    def prepare(self) -> None:
        self.meta = world.ensure_world("s")
        self.boxes = world.extract_batch(self.meta, self.seed)
        rng = np.random.default_rng([self.seed, 4])
        self.checked = sorted(rng.choice(len(self.boxes), size=self.n_checked, replace=False).tolist())
        self.requests = world.probe_requests(self.meta, self.seed, self.n_requests)
        self.expected: dict[tuple[str, int], object] = {}
        self.reference = None
        self.dir = world.run_dir()

    def setup(self) -> None:
        from osm_lib_spark.operators.extract import prepare_extract_context
        from osm_lib_spark.operators.indexes import build_way_tiles
        from osm_lib_spark.operators.knn import tiled_node_store
        from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways

        docs = self.spark.read.parquet(f"{world.world_dir('s')}/docs.parquet")
        by_id = lambda fn: lambda: fn(docs).repartition(self.width, "id")  # noqa: E731
        self.nodes = self._cache("sources.span_codec.parse_nodes", by_id(parse_nodes))
        self.ways = self._cache("sources.span_codec.parse_ways", by_id(parse_ways))
        self.relations = self._cache("sources.span_codec.parse_relations", by_id(parse_relations))
        self.way_tiles = self._cache(
            "operators.indexes.build_way_tiles", lambda: build_way_tiles(self.ways, self.nodes)
        )
        with self.tracer.span("operators.extract.prepare_extract_context"):
            self.ctx = prepare_extract_context(self.relations)
        self.store = self._cache("operators.knn.tiled_node_store", lambda: tiled_node_store(self.nodes))

    def after_setup(self) -> None:
        self.oracle_nodes = self.nodes.select("id", "fixed_lat", "fixed_lon").toPandas()
        self.n_nodes = len(self.oracle_nodes)
        self.oracle_ways = self.ways.select("id", "node_ids").toPandas()
        rels = self.relations.select("id", "members").toPandas()
        rels["members"] = rels["members"].map(
            lambda ms: [(m["type"], int(m["member_id"]), m["role"]) for m in ms]
        )
        self.oracle_rels = rels
        typed = [
            df.withColumn("entity_type", F.lit(kind))
            for kind, df in (("node", self.nodes), ("way", self.ways), ("relation", self.relations))
        ]
        source = typed[0].unionByName(typed[1], allowMissingColumns=True)
        self.source = self._entity_digest(source.unionByName(typed[2], allowMissingColumns=True))
        self.n_entities = sum(n for n, _ in self.source.values())

    def _expect(self, kind: str, j: int):
        """Oracle answer for request ``j`` of ``kind``, computed once."""
        from osm_lib_spark.sources import oracle

        key = (kind, j)
        if key not in self.expected:
            if kind == "batch":
                got = oracle.oracle_bbox_extract(self.boxes[j], self.oracle_nodes, self.oracle_ways, self.oracle_rels)
                self.expected[key] = {t: int((got["entity_type"] == t).sum()) for t in ("node", "way", "relation")}
            elif kind == "bbox":
                self.expected[key] = len(
                    oracle.oracle_bbox_extract(
                        self.requests["bbox"][j], self.oracle_nodes, self.oracle_ways, self.oracle_rels
                    )
                )
            elif kind == "knn":
                got = oracle.oracle_knn(self.oracle_nodes, self.requests["knn"][j], k=10)
                self.expected[key] = sorted(map(tuple, got[["query_id", "rank", "node_id"]].values.tolist()))
            else:
                self.expected[key] = len(oracle.oracle_pip_bboxed(self.oracle_nodes, self.requests["pip"][j]))
        return self.expected[key]

    def op_batch(self, _j: int):
        from osm_lib_spark.operators.extract import bbox_extract_batch

        layer = "operators.extract.bbox_extract_batch"
        with self.tracer.span(layer, "call"):
            out = bbox_extract_batch(
                self.nodes, self.ways, self.relations, self.boxes, way_tiles=self.way_tiles, ctx=self.ctx
            )
        with self.tracer.span(layer, "action"):
            rows = out.groupBy("bbox_id", "entity_type").count().collect()
        counts = {(r.bbox_id, r.entity_type): r["count"] for r in rows}
        n = sum(counts.values())
        self.tracer.counters["batch_rows"] += n

        def check() -> bool:
            # every op equals the first; seeded boxes equal the oracle
            self.reference = self.reference or counts
            ok = counts == self.reference
            for b in self.checked:
                ok &= all(counts.get((b, t), 0) == c for t, c in self._expect("batch", b).items())
            return ok

        return n, check

    def op_bbox(self, j: int):
        from osm_lib_spark.operators.extract import bbox_extract

        j %= self.n_requests
        layer = "operators.extract.bbox_extract"
        with self.tracer.span(layer, "call"):
            ext = bbox_extract(
                self.nodes, self.ways, self.relations, self.requests["bbox"][j],
                way_tiles=self.way_tiles, ctx=self.ctx,
            )
        with self.tracer.span(layer, "action"):
            n = ext.ids(ordered=False).count()
        return n, lambda: n == self._expect("bbox", j)

    def op_knn(self, j: int):
        from osm_lib_spark.operators.knn import knn_kring

        j %= self.n_requests
        layer = "operators.knn.knn_kring"
        with self.tracer.span(layer, "call"):
            out = knn_kring(None, self.requests["knn"][j], k=10, tiled=self.store, est_n_nodes=self.n_nodes)
        with self.tracer.span(layer, "action"):
            rows = sorted((r.query_id, r.rank, r.node_id) for r in out.collect())
        self.tracer.counters["knn_results"] += len(rows)
        return len(rows), lambda: rows == self._expect("knn", j)

    def op_pip(self, j: int):
        from osm_lib_spark.operators.pip import points_in_polygons_bucketed, polygons_df

        j %= self.n_requests
        layer = "operators.pip.points_in_polygons_bucketed"
        with self.tracer.span(layer, "call"):
            out = points_in_polygons_bucketed(self.nodes, polygons_df(self.spark, self.requests["pip"][j]))
        with self.tracer.span(layer, "action"):
            n = out.count()
        self.tracer.counters["pip_matches"] += n
        return n, lambda: n == self._expect("pip", j)

    @staticmethod
    def _entity_digest(entities: DataFrame) -> dict:
        """Order-free per-type (count, xor of row hashes)."""
        rows = entities.groupBy("entity_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("id", "fixed_lat", "fixed_lon", "tags", "node_ids", "members")).alias("h"),
        )
        return {r.entity_type: (r.n, r.h) for r in rows.collect()}

    def _round_trip(self, fmt: str):
        import os

        from osm_lib_spark.sources import pbf, vex

        mod = pbf if fmt == "pbf" else vex
        write, read = getattr(mod, f"write_{fmt}"), getattr(mod, f"read_{fmt}")
        path = f"{self.dir}/entities.{fmt}"
        with self.tracer.span(f"sources.{fmt}.write_{fmt}"):
            write(path, self.nodes, self.ways, self.relations)
        with self.tracer.span(f"sources.{fmt}.read_{fmt}", "call"):
            decoded = read(self.spark, path)
        with self.tracer.span(f"sources.{fmt}.read_{fmt}", "action"):
            got = self._entity_digest(decoded)
        self.tracer.counters[f"{fmt}_bytes"] += os.path.getsize(path)
        self.tracer.counters[f"{fmt}_entities"] += self.n_entities
        return sum(n for n, _ in got.values()), lambda: got == self.source

    def op_pbf(self, _j: int):
        return self._round_trip("pbf")

    def op_vex(self, _j: int):
        return self._round_trip("vex")

    def items(self, kind: str) -> int:
        return {"batch": len(self.boxes), "pbf": self.n_entities, "vex": self.n_entities}.get(kind, 1)

    def detail(self, run: dict, op_s: float) -> dict:
        sp = self.tracer
        batch = [t for t, k in zip(run["times"], run["kinds"]) if k == "batch"]
        fmts = ("pbf", "vex")
        n = sum(sp.counters[f"{f}_entities"] for f in fmts)  # written, then read back
        enc = sum(sp.wall[(f"sources.{f}.write_{f}", "call")] for f in fmts)
        dec = sum(sp.busy_s(f"sources.{f}.read_{f}") for f in fmts)
        return {
            "bboxes_per_s": (len(self.boxes) * len(batch) / sum(batch), "1/s"),
            "encode_entities_per_s": (n / enc, "1/s"),
            "decode_entities_per_s": (n / dec, "1/s"),
            "bytes_per_entity": (sum(sp.counters[f"{f}_bytes"] for f in fmts) / n, "B"),
        }


class CorpusS(Workload):
    """The training-data operators: per-item media decode and frame
    sampling over sf-s docs (Python workers), and the iterative driver
    loops of MinHash dedup (label propagation) and IVF-PQ training over
    the corpus. No OSM entity tables."""

    cycle = ("media", "frames", "components", "ivfpq")
    n_queries = 10

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.corpus_dir = world.ensure_corpus()
        doc_ids = pq.read_table(f"{world.world_dir('s')}/docs.parquet", columns=["doc_id"]).column(0)
        self.subsets = world.corpus_subsets(self.seed, len(doc_ids), self.n_queries)
        self.media_doc_ids = [doc_ids[int(k)].as_py() for k in self.subsets["media_docs"]]
        self.recalls: list[float] = []

    def setup(self) -> None:
        spark = self.spark
        docs = spark.read.parquet(f"{world.world_dir('s')}/docs.parquet")
        self.media = self._cached(docs.where(F.col("doc_id").isin(self.media_doc_ids)))
        documents = spark.read.parquet(f"{self.corpus_dir}/documents.parquet")
        self.documents = self._cached(documents)
        # the IVF-PQ queries are the rows with vec_id < n_queries: give the
        # seeded query vectors those ids, and shift the rest up
        emb = spark.read.parquet(f"{self.corpus_dir}/embeddings.parquet")
        relabel = spark.createDataFrame(
            [(int(v), q) for q, v in enumerate(self.subsets["queries"])], "vec_id long, new_id long"
        )
        self.embeddings = self._cached(
            emb.join(F.broadcast(relabel), "vec_id", "left")
            .select(F.coalesce("new_id", F.col("vec_id") + self.n_queries).alias("vec_id"), "embedding", "label")
        )

    def _cached(self, df: DataFrame) -> DataFrame:
        df = df.repartition(self.width).cache()
        df.count()
        self.cached.append(df)
        return df

    def after_setup(self) -> None:
        self.exact = world.exact_cosine_topk(self.corpus_dir, self.subsets["queries"], k=10)
        self.n_media = self.media.select(
            F.sum(F.size(F.filter("spans", lambda s: s.kind == "media")))
        ).first()[0]

    def _digest_op(self, kind: str, layer: str, make, cols: list[str]):
        with self.tracer.span(layer, "call"):
            out = make()
        with self.tracer.span(layer, "action"):
            n, h = digest(out, cols)

        def check() -> bool:
            if (n, h) != GOLDEN_DIGESTS[kind]:
                print(f"{kind}: digest {(n, h)}, expected {GOLDEN_DIGESTS[kind]}", file=sys.stderr)
                return False
            return True

        return n, check

    def op_media(self, _j: int):
        from osm_lib_spark.operators.multimodal import decode_media_features

        return self._digest_op(
            "media", "operators.multimodal.decode_media_features",
            lambda: decode_media_features(self.media), ["doc_id", "media_ref", "f0", "f1", "f2", "f3"],
        )

    def op_frames(self, _j: int):
        from osm_lib_spark.operators.multimodal import sample_frames

        return self._digest_op(
            "frames", "operators.multimodal.sample_frames",
            lambda: sample_frames(self.media), ["doc_id", "media_ref", "frame_idx", "frame_sig"],
        )

    def op_components(self, _j: int):
        from osm_lib_spark.operators.dedup import dup_components

        return self._digest_op(
            "components", "operators.dedup.dup_components",
            lambda: dup_components(self.documents), ["doc_id", "component_id", "keep"],
        )

    def op_ivfpq(self, _j: int):
        from osm_lib_spark.operators.similarity import ivf_pq_topk

        layer = "operators.similarity.ivf_pq_topk"
        with self.tracer.span(layer, "call"):
            out = ivf_pq_topk(self.embeddings, k=10, n_queries=self.n_queries, residual=True)
        with self.tracer.span(layer, "action"):
            got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        recall = len(got & self.exact) / max(len(self.exact), 1)
        self.recalls.append(recall)
        return len(got), lambda: recall >= IVF_PQ_RECALL_FLOOR

    def items(self, kind: str) -> int:
        return {
            "media": self.n_media,
            "frames": self.n_media,
            "components": world.CORPUS_DOCS,
            "ivfpq": self.n_queries,
        }[kind]

    def detail(self, run: dict, op_s: float) -> dict:
        return {
            "items_per_s": (run["items"] / op_s, "1/s"),
            "ivf_pq_recall_min": (min(self.recalls), "ratio"),
        }


WORKLOADS = {"osm_s": OsmS, "corpus_s": CorpusS}
