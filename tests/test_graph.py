"""Graph fixpoints on both paths: the driver-side numpy kernels
(input under spark.sql.autoBroadcastJoinThreshold) and the Spark loops
they replace for small inputs (threshold -1)."""

import tempfile
import warnings

import numpy as np
import pytest

from osm_lib_spark.operators.graph import min_label_components, upward_closure
from tests.conftest import both_paths, threshold


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
    """The sf-xs closure, a hand-built one (a depth-3 chain, a 2-cycle,
    a self-member) and a two-row probe with null ids are row-equal on
    both paths; the (r, r) rows come from cycles only."""
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
        k_df, l_df = both_paths(spark, lambda: relation_closure_table(relations)[0])
        assert _rows(k_df) == _rows(l_df) != []
    assert _rows(k_df) == [
        (2, 1), (3, 1), (3, 2), (4, 1), (4, 2), (4, 3),
        (10, 10), (10, 11), (11, 10), (11, 11), (20, 20),
    ]
    # a null id joins nothing on either path, also below a 1 ⇄ 2 cycle
    null_probes = (
        ([(1, [member(None)]), (None, [member(1)])], [(1, None), (None, 1), (None, None)]),
        ([(1, [member(None), member(2)]), (2, [member(1)])],
         [(None, 1), (None, 2), (1, 1), (1, 2), (2, 1), (2, 2)]),
    )
    for rows, expected in null_probes:
        null_ids = spark.createDataFrame(rows, hand.schema)
        k_df, l_df = both_paths(spark, lambda: relation_closure_table(null_ids)[0])
        k_rows, l_rows = (sorted(map(tuple, df.collect()), key=repr) for df in (k_df, l_df))
        assert k_rows == l_rows == sorted(expected, key=repr)


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
    index trains and its query runs on the driver or per partition
    (threshold -1), and build_ivf_pq_index writes bit-equal centroids,
    codebooks and codes. Arrow batches hold 64 rows, so a query's
    partition scan merges its running top over several batches a task.
    Four corpora:

    * 500 × 64 clustered (the perfbench corpus shape). Stride rows 0 and
      31 are equal, so coarse list 1 and PQ code 1 get no members: the
      list is dropped and the code keeps its init value, on both paths.
    * the same in one partition: one task holds every candidate, so its
      top k (or refine) per query is the answer.
    * the same with a second row for query 3 and for corpus vec_id 250,
      the latter a copy of query 3's vector: every join on vec_id or
      query_id meets both rows, and 250 is query 3's nearest neighbor.
    * 70 × 16 with queries 0-4 in a cluster of their own: with three
      lists and one probe each of them has 4 candidates, fewer than k.
    """
    from collections import Counter

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
    rows = [(i, vecs[i].astype(np.float32).tolist(), int(label[i])) for i in range(500)]
    ddl = "vec_id long, embedding array<float>, label int"
    emb = spark.createDataFrame(rows, ddl)
    repeated = spark.createDataFrame(
        rows + [(3, (-vecs[5]).astype(np.float32).tolist(), 0), (250, rows[3][1], 0)], ddl
    )
    apart = rng.normal(size=(3, 16)) * 4
    small = [
        (i, (apart[0 if i < 5 else 1 + i % 2] + rng.normal(0.0, 0.1, 16)).astype(np.float32).tolist(), 0)
        for i in range(70)
    ]
    sparse = spark.createDataFrame(small, ddl)

    def build():
        path = tempfile.mkdtemp(dir=tmp_path)
        meta = build_ivf_pq_index(emb, path)
        return meta, {
            part: _rows(spark.read.parquet(f"{path}/{part}"))
            for part in ("centroids", "codebooks", "codes")
        }

    def operators(e, **ivf):
        return {
            "ivf_topk": lambda: _rows(ivf_topk(e, **ivf)),
            "ivf_kmeans_topk": lambda: _rows(ivf_kmeans_topk(e, **ivf)),
            "pq_topk": lambda: _rows(pq_topk(e)),
            "ivf_pq_topk": lambda: _rows(ivf_pq_topk(e, **ivf)),
            "ivf_pq_topk residual": lambda: _rows(ivf_pq_topk(e, residual=True, **ivf)),
        }

    batch_rows = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch_rows)
    spark.conf.set(batch_rows, "64")
    try:
        for corpus, e, ivf in (
            ("clustered", emb, {}),
            ("one task", emb.coalesce(1), {}),
            ("repeated", repeated, {}),
            ("sparse", sparse, {"nlist": 3, "nprobe": 1}),
        ):
            for name, fn in operators(e, **ivf).items():
                kernel, loop = both_paths(spark, fn)
                assert kernel == loop, (corpus, name)
                per_query = Counter(q for q, _, _ in kernel)
                if corpus in ("clustered", "one task"):
                    assert len(kernel) == 100, name
                if corpus == "repeated":
                    assert (3, 1, 250) in kernel, name
                if corpus == "sparse" and name != "pq_topk":
                    assert [per_query[q] for q in range(10)] == [4] * 5 + [10] * 5, name
    finally:
        spark.conf.set(batch_rows, saved)

    kernel, loop = both_paths(spark, build)
    assert kernel == loop
    assert [r[0] for r in kernel[1]["centroids"]] == [0, *range(2, 16)]
    assert len(kernel[1]["codes"]) == 500


def test_ann_candidate_bound_falls_back(spark, monkeypatch):
    """A corpus under the threshold whose probed lists hold more
    candidates than fit runs the partition scan, with the rows of
    threshold -1: with one list, every query scans the whole corpus."""
    import osm_lib_spark.operators.similarity as similarity
    from osm_lib_spark.operators.similarity import (
        ivf_kmeans_topk,
        ivf_pq_topk,
        ivf_topk,
        pq_topk,
    )

    scans, real = [], similarity._partition_top
    monkeypatch.setattr(similarity, "_partition_top", lambda *a: scans.append(a[2]) or real(*a))

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).cache()
    one_list = {"n_queries": 150, "nlist": 1, "nprobe": 1}
    operators = {
        "ivf_topk": lambda: ivf_topk(emb, **one_list),
        "ivf_kmeans_topk": lambda: ivf_kmeans_topk(emb, **one_list),
        "pq_topk": lambda: pq_topk(emb, n_queries=150),
        "ivf_pq_topk": lambda: ivf_pq_topk(emb, **one_list),
        "ivf_pq_topk residual": lambda: ivf_pq_topk(emb, residual=True, **one_list),
    }
    for name, fn in operators.items():
        # 200 rows at 4104 B (dim unknown: 1024 floats) = 821 kB fit;
        # 150 queries × 200 candidates × 32 B = 960 kB do not
        with threshold(spark, "900000"):
            scans.clear()
            got = _rows(fn())
            assert len(scans) == 1, name
        with threshold(spark, "-1"):
            assert got == _rows(fn()), name
        assert len(got) == 1500, name
    emb.unpersist()


def test_ragged_embeddings_rejected_on_both_paths(spark):
    """An embedding of another length fails IVF/PQ training with the
    same message on both paths (from a task on the partition path), and
    a zero-norm embedding fails IVF training on both, in the centroid
    assignment (no NumPy warning on the driver path), not assigned from
    NaN scores nor ranked as every query's nearest neighbor."""
    from osm_lib_spark.operators.similarity import ivf_pq_topk, ivf_topk

    rng = np.random.default_rng(11)
    ragged = spark.createDataFrame(
        [(i, rng.standard_normal(8 if i == 7 else 16).astype(np.float32).tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    vecs[20] = 0.0
    zero = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(40)], "vec_id long, embedding array<float>"
    )
    cases = [
        (
            lambda: ivf_pq_topk(ragged, k=3, n_queries=3, nlist=4, m=4, kc=4, residual=True),
            "embeddings of one length",
        ),
        (
            lambda: ivf_topk(zero, k=3, n_queries=3, nlist=2, nprobe=2).collect(),
            "Division by zero: a zero-norm embedding has no nearest centroid",
        ),
    ]
    for value in (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"), "-1"):
        for call, message in cases:
            with warnings.catch_warnings():
                warnings.simplefilter("error", RuntimeWarning)
                with threshold(spark, value), pytest.raises(Exception, match=message):
                    call()
