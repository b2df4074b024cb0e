"""Spark job budgets of the driver paths at the session threshold. A
Spark job costs ~0.7 CPU-s here whatever its rows, so for a small input
the job count sets an operator's cost: a change that adds jobs back to
one of these calls fails this test, not only a later benchmark."""

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import spark_jobs


def _budget(spark, fn):
    fn()  # warm: the cached inputs are materialized and the plans compiled
    return spark_jobs(spark, fn)[1]


def test_driver_path_job_budgets(spark, docs_xs):
    """Each index ANN operator with its collect runs ≤ 2 jobs (the
    bounded collect of the corpus; the query answers in numpy; 5-8
    jobs when the query ran as Spark joins), MinHash components with a
    digest ≤ 3 (the shingle collect, then the aggregate's two jobs over
    the result's LocalRelation; a join to ``documents`` adds one) and
    ``prepare_extract_context`` ≤ 3 (the member indexes' bounded
    collects)."""
    from osm_lib_spark.operators.dedup import dup_components
    from osm_lib_spark.operators.extract import prepare_extract_context
    from osm_lib_spark.operators.similarity import ivf_kmeans_topk, ivf_pq_topk, ivf_topk, pq_topk
    from osm_lib_spark.sources.span_codec import parse_relations

    rng = np.random.default_rng(2)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).cache()
    operators = {
        "ivf_topk": lambda: ivf_topk(emb, nlist=4).collect(),
        "ivf_kmeans_topk": lambda: ivf_kmeans_topk(emb, nlist=4).collect(),
        "pq_topk": lambda: pq_topk(emb).collect(),
        "ivf_pq_topk": lambda: ivf_pq_topk(emb, nlist=4).collect(),
        "ivf_pq_topk residual": lambda: ivf_pq_topk(emb, nlist=4, residual=True).collect(),
    }
    jobs = {name: _budget(spark, fn) for name, fn in operators.items()}
    assert all(n <= 2 for n in jobs.values()), jobs

    dup = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(i, dup if i % 3 else f"doc {i} alone") for i in range(30)], "doc_id long, text string"
    ).cache()
    digest = F.bit_xor(F.xxhash64("doc_id", "component_id", "keep"))
    assert _budget(spark, lambda: dup_components(docs).select(digest).first()) <= 3

    relations = parse_relations(docs_xs).cache()
    assert _budget(spark, lambda: prepare_extract_context(relations)) <= 3
    for frame in (emb, docs, relations):
        frame.unpersist()
