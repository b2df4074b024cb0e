"""Graph fixpoints on both paths: the driver-side numpy kernels
(input under spark.sql.autoBroadcastJoinThreshold) and the Spark loops
they replace for small inputs (threshold -1)."""

import tempfile
from contextlib import contextmanager

import numpy as np
import pytest

from osm_lib_spark.operators.graph import min_label_components, upward_closure

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def threshold(spark, value):
    saved = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, saved)


def both_paths(spark, fn):
    """(kernel result, Spark-loop result) of ``fn()``."""
    kernel = fn()
    with threshold(spark, "-1"):
        loop = fn()
    return kernel, loop


def _brute_closure(child, parent):
    edges = set(zip(child, parent))
    closure = set(edges)
    while True:
        new = {(a, d) for a, b in closure for b2, d in edges if b == b2} - closure
        if not new:
            return closure
        closure |= new


def _brute_components(a, b):
    label = {v: v for v in set(a) | set(b)}
    changed = True
    while changed:
        changed = False
        for x, y in zip(a, b):
            m = min(label[x], label[y])
            if (label[x], label[y]) != (m, m):
                label[x] = label[y] = m
                changed = True
    return label


def test_kernels_match_brute_force():
    """Random small graphs with ids above 2^32: the closure is the set
    of pairs joined by a path (each once), the labels are the min id of
    each component."""
    rng = np.random.default_rng(0)
    for _ in range(200):
        n, m = rng.integers(1, 25), rng.integers(0, 40)
        a = rng.integers(0, n, m) * 1000 + (1 << 33)
        b = rng.integers(0, n, m) * 1000 + (1 << 33)
        child, anc = upward_closure(a, b)
        pairs = list(zip(child.tolist(), anc.tolist()))
        assert pairs == sorted(set(pairs))
        assert set(pairs) == _brute_closure(a.tolist(), b.tolist())
        vertex, label = min_label_components(a, b)
        assert dict(zip(vertex.tolist(), label.tolist())) == _brute_components(a.tolist(), b.tolist())


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_relation_closure_both_paths(spark, docs_xs):
    """The sf-xs closure and a hand-built one (a depth-3 chain, a
    2-cycle, a self-member) are row-equal on both paths, with the same
    exact row count; the (r, r) rows come from cycles only."""
    from osm_lib_spark.operators.extract import relation_closure_table
    from osm_lib_spark.sources.span_codec import parse_relations

    def member(i):
        return ("RELATION", i, "")

    hand = spark.createDataFrame(
        [
            (1, [member(2)]),  # chain 4 → 3 → 2 → 1
            (2, [member(3)]),
            (3, [member(4), ("NODE", 7, "")]),
            (10, [member(11)]),  # 2-cycle
            (11, [member(10)]),
            (20, [member(20)]),  # self-member
        ],
        "id long, members array<struct<type: string, member_id: long, role: string>>",
    )
    for relations in (parse_relations(docs_xs), hand):
        (k_df, k_rows), (l_df, l_rows) = both_paths(spark, lambda: relation_closure_table(relations))
        assert _rows(k_df) == _rows(l_df)
        assert k_rows == l_rows == len(_rows(k_df)) > 0
    assert _rows(k_df) == [
        (2, 1), (3, 1), (3, 2), (4, 1), (4, 2), (4, 3),
        (10, 10), (10, 11), (11, 10), (11, 11), (20, 20),
    ]


def test_components_contract_and_caps(spark):
    """A pair naming a doc outside ``documents`` is dropped on both
    paths: every output row is one document and every component has one
    survivor. A 60-doc chain is one component on the kernel path; the
    Spark loop needs 59 rounds and raises at its 50-round cap."""
    from osm_lib_spark.operators.dedup import components_from_pairs

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3)], "doc_id long")
    pairs = spark.createDataFrame([(1, 99), (2, 3), (99, 2)], "doc_a long, doc_b long")
    kernel, loop = both_paths(spark, lambda: _rows(components_from_pairs(docs, pairs)))
    assert kernel == loop == [(1, 1, 1), (2, 2, 1), (3, 2, 0)]

    chain_docs = spark.createDataFrame([(i,) for i in range(1, 61)], "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 60)], "doc_a long, doc_b long")
    got = components_from_pairs(chain_docs, chain).collect()
    assert len(got) == 60 and {r.component_id for r in got} == {1}
    with threshold(spark, "-1"), pytest.raises(ValueError, match="did not converge"):
        components_from_pairs(chain_docs, chain)


def test_ivf_pq_training_both_paths(spark, tmp_path):
    """Every index-based ANN operator returns the same rows whether its
    index trains on the driver or per partition (threshold -1), on a
    500 × 64 clustered corpus (the perfbench corpus shape), and
    build_ivf_pq_index writes bit-equal centroids, codebooks and codes.
    Stride rows 0 and 31 are equal, so coarse list 1 and PQ code 1 get
    no members: the list is dropped and the code keeps its init value,
    on both paths."""
    from osm_lib_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_kmeans_topk,
        ivf_pq_topk,
        ivf_topk,
        pq_topk,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(40, 64))
    label = rng.integers(0, 40, 500)
    vecs = centers[label] + rng.normal(0.0, 0.35, size=(500, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs[31] = vecs[0]
    emb = spark.createDataFrame(
        [(i, vecs[i].astype(np.float32).tolist(), int(label[i])) for i in range(500)],
        "vec_id long, embedding array<float>, label int",
    )

    def build():
        path = tempfile.mkdtemp(dir=tmp_path)
        meta = build_ivf_pq_index(emb, path)
        return meta, {
            part: _rows(spark.read.parquet(f"{path}/{part}"))
            for part in ("centroids", "codebooks", "codes")
        }

    operators = {
        "ivf_topk": lambda: _rows(ivf_topk(emb)),
        "ivf_kmeans_topk": lambda: _rows(ivf_kmeans_topk(emb)),
        "pq_topk": lambda: _rows(pq_topk(emb)),
        "ivf_pq_topk": lambda: _rows(ivf_pq_topk(emb)),
        "ivf_pq_topk residual": lambda: _rows(ivf_pq_topk(emb, residual=True)),
    }
    for name, fn in operators.items():
        kernel, loop = both_paths(spark, fn)
        assert kernel == loop, name
        assert len(kernel) == 100, name

    kernel, loop = both_paths(spark, build)
    assert kernel == loop
    assert [r[0] for r in kernel[1]["centroids"]] == [0, *range(2, 16)]
    assert len(kernel[1]["codes"]) == 500


def test_ragged_embeddings_rejected_on_both_paths(spark):
    """An embedding of another length fails IVF/PQ training with the
    same message on both paths (from a task on the partition path)."""
    from osm_lib_spark.operators.similarity import ivf_pq_topk

    rng = np.random.default_rng(11)
    ragged = spark.createDataFrame(
        [(i, rng.standard_normal(8 if i == 7 else 16).astype(np.float32).tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    for value in (spark.conf.get(THRESHOLD), "-1"):
        with threshold(spark, value), pytest.raises(Exception, match="embeddings of one length"):
            ivf_pq_topk(ragged, k=3, n_queries=3, nlist=4, m=4, kc=4, residual=True)
