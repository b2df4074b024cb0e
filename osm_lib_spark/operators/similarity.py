"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small)
  query set, score every candidate with a left-fold double dot product
  in pure Column expressions (functions.hashing.dot_fold_col — bit-
  identical to the DuckDB oracle), per-query top-k window. The O(Q·N)
  correctness baseline.

* ``ann_lsh_topk`` / ``embedding_dup_pairs`` — random-hyperplane LSH:
  sign bits of plane dot products (same fold kernel) split into bands;
  a candidate (or pair) shares a signature in ≥1 band and exact cosine
  reranks (or filters) it. Band buckets are bounded by the hash
  (uniform sign bits), unlike value-blocking keys whose hot blocks
  degrade to all-pairs crosses. Deterministic given the seed; the
  DuckDB oracle recomputes the banding from literal plane constants.

* The index-based ANN operators — ``ivf_topk``, ``ivf_kmeans_topk``,
  ``pq_topk``, ``ivf_pq_topk`` (plain and residual) and the persisted
  ``build_ivf_pq_index`` / ``append_to_ivf_pq_index`` /
  ``ivf_pq_topk_from_index`` — are parameter settings of one pipeline:

  - one trainer, ``_train_index``: stride rows, then coarse Lloyd sums,
    then PQ Lloyd sums, each over integer-quantized values so that any
    split of the corpus adds up to the same bits. The passes run on the
    driver when the corpus fits under
    ``spark.sql.autoBroadcastJoinThreshold`` (``collect_bounded``),
    else as one mapInArrow job each whose per-task sums the driver adds
    up — the broadcast-or-partition size rule.
  - one encoder, ``_encode_np``: coarse assignment, the optional
    residual and the PQ codes of a matrix in one numpy kernel, on the
    driver or per Arrow batch in a map-only mapInArrow.
  - two query tails: ``_ivf_query`` (probe lists, exact-cosine rerank)
    and ``_adc_topk`` (one ADC LUT per (query, probed list), code-only
    scan, exact-L2 rerank), over one scan kernel (``_scan_lists``) and
    one ranking kernel (``_top``). When the trainer collected the
    corpus and the candidates of the probed lists fit under the
    threshold too (``_driver_tail``), the scan runs in numpy over that
    same matrix (the call runs one Spark job); otherwise one mapInArrow
    job runs it per Arrow batch, each task keeping a running top per
    query, and the driver ranks the tasks' tops again
    (``_partition_top``). Both return a LocalRelation of the same rows.

  Spark carries Arrow batches; the per-row math is numpy over the same
  left-fold kernels as the oracle, so every trained index and ranking
  is bit-reproducible.

Scale notes: brute force distributes perfectly (map-only over
candidates, broadcast queries, top-k via partial per-partition heaps in
the window agg). The LSH bucket join shuffles on (band, signature) —
uniform md5/hyperplane bits mean no skew; AQE handles stragglers. The
ANN scans never shuffle the corpus: probes and LUTs ride the scan's
closure, and each task returns at most Q·k (or Q·refine) rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_lib_spark.functions.hashing import cosine_fold_col, dot_fold_np, l2_fold_np, norm_fold_np
from osm_lib_spark.session import broadcast_threshold, cache_rows, collect_bounded, local_frame, row_bytes

ANN_SEED = 7
# Defaults are TEST-scale. For random-hyperplane LSH the collision
# probability of vectors at angle θ in one band of r = bits/bands sign
# bits is (1 - θ/π)^r; 16 bits / 4 bands (r=4) recalls broadly at 2k
# vectors. At 1e9+ vectors raise bits to 64-128 and bands to 8-16
# (r = 8: tighter buckets — bucket SIZE, hence rerank cost, is what
# explodes at scale, not signature cost) and rerank stays exact. Both
# are per-call arguments; plan shape (banded equi-join) is unchanged.
ANN_BITS = 16
ANN_BANDS = 4  # 4 bits per band


def _queries(embeddings: DataFrame, n_queries: int) -> DataFrame:
    return embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


def cosine_topk(
    embeddings: DataFrame, k: int = 10, n_queries: int = 10
) -> DataFrame:
    """(query_id, rank, neighbor_id): exact top-k by cosine, self excluded,
    ties broken by neighbor_id."""
    q = _queries(embeddings, n_queries)
    cand = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_fold_col(F.col("q_emb"), F.col("c_emb")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
        )
    )


def hyperplanes(dim: int, bits: int = ANN_BITS, seed: int = ANN_SEED) -> np.ndarray:
    """Deterministic (bits, dim) float64 hyperplane normals."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def lsh_signature_udf(planes: np.ndarray):
    """Vectorized Arrow UDF: embedding → int signature (sign bits).

    Uses the same left-fold dot kernel as the oracle so bucket
    assignment is deterministic and replayable.
    """

    @F.arrow_udf("long")
    def sig(emb: pa.Array) -> pa.Array:
        mat = emb.flatten().to_numpy().reshape(len(emb), planes.shape[1])  # (batch, dim) float32
        out = np.zeros(len(mat), dtype=np.int64)
        for j in range(planes.shape[0]):
            d = dot_fold_np(mat, planes[j])
            out |= (d > 0).astype(np.int64) << j
        return pa.array(out)

    return sig


def _dim_of(embeddings: DataFrame, dim: int | None) -> int:
    """Embedding dimensionality without a per-call driver action when
    the caller knows it (the old unconditional `.first()` was a needless
    Spark job on every invocation)."""
    if dim is not None:
        return dim
    return len(embeddings.select("embedding").first()[0])


def _banded(embeddings: DataFrame, bits: int, bands: int, dim: int | None) -> DataFrame:
    """(vec_id, embedding, band, band_sig) — shared LSH banding stage."""
    planes = hyperplanes(_dim_of(embeddings, dim), bits)
    sig = lsh_signature_udf(planes)
    rows = bits // bands
    signed = embeddings.select(
        "vec_id", "embedding", sig(F.col("embedding")).alias("sig")
    )
    band_arr = F.array(
        *[
            F.shiftright(F.col("sig"), bnd * rows).bitwiseAND(F.lit((1 << rows) - 1))
            for bnd in range(bands)
        ]
    )
    return signed.select(
        "vec_id", "embedding", F.posexplode(band_arr).alias("band", "band_sig")
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    bits: int = ANN_BITS,
    bands: int = ANN_BANDS,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH band, exact rerank."""
    banded = _banded(embeddings, bits, bands, dim)
    q = banded.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "band",
        "band_sig",
    )
    c = banded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "band",
        "band_sig",
    )
    cands = (
        q.join(c, ["band", "band_sig"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_emb", "c_emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine_fold_col(F.col("q_emb"), F.col("c_emb")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
        )
    )


IVF_NLIST = 16
IVF_NPROBE = 4
IVF_STRIDE = 31  # centroid j = embedding of vec_id j*stride (16*31=496 fits all scales)


def _nearest_np(mat: np.ndarray, cmat: np.ndarray) -> np.ndarray:
    """Row index into ``cmat`` of each row's max-cosine centroid, the
    FIRST max on ties: ``dot_fold_np``/``norm_fold_np`` reproduce the
    Column fold bit-for-bit (same left-to-right float64 op order). The
    one assignment kernel of training, encoding and ``_ivf_query``'s
    partition scan.
    A zero-norm row has no cosine, so it raises, as the query tails do."""
    norm_e = norm_fold_np(mat)
    if not norm_e.all():
        raise ValueError("Division by zero: a zero-norm embedding has no nearest centroid")
    cnorms = norm_fold_np(cmat)
    scores = np.empty((len(cnorms), mat.shape[0]), dtype=np.float64)
    for j in range(len(cnorms)):
        scores[j] = dot_fold_np(mat, cmat[j]) / (norm_e * cnorms[j])
    return np.argmax(scores, axis=0)


def _centroid_arrays(cents: list):
    """(list_ids, cmat) of a sorted [(list_id, vec)] centroid list:
    int32 ids and an (nlist, dim) float64 matrix; (None, None) for the
    one centroid-less list of ``pq_topk``."""
    if not cents:
        return None, None
    return (
        np.array([lid for lid, _ in cents], dtype=np.int32),
        np.array([v for _, v in cents], dtype=np.float64),
    )


def _query_rows(embeddings: DataFrame, n_queries: int, local) -> list:
    """[(query_id, vec)] of the vec_id < n_queries rows: from the
    trainer's collected ``local`` arrays when it has them, else a
    bounded control collect (sorted), since queries are the small side
    by contract."""
    if local is not None:
        vec_id, mat = local[:2]
        return [(int(vec_id[j]), mat[j]) for j in np.flatnonzero(vec_id < n_queries)]
    return sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )


def _probe_pairs(q_rows: list, cents: list, nprobe: int) -> list:
    """[(query_id, list_id, vec)]: the ``nprobe`` closest centroid lists
    of each query, ccos DESC, list_id ASC — the oracle's order, by the
    same ``dot_fold_np``/``norm_fold_np`` kernels, over all queries at
    once (each row folds alone, so the bits are the per-query ones)."""
    list_ids, cmat = _centroid_arrays(cents)
    if not q_rows:
        return []
    qmat = np.array([vec for _, vec in q_rows], dtype=np.float64)
    denom = norm_fold_np(qmat)[:, None] * norm_fold_np(cmat)
    if not denom.all():
        raise ZeroDivisionError("float division by zero: the cosine of a zero-norm vector")
    ccos = np.stack([dot_fold_np(qmat, c) for c in cmat], axis=1) / denom
    out = []
    for (qid, vec), row in zip(q_rows, ccos):
        out.extend((qid, int(list_ids[j]), vec) for j in np.lexsort((list_ids, -row))[:nprobe])
    return out


TOPK_DDL = "query_id long, rank long, neighbor_id long"
CANDIDATE_DDL = "query_id long, vec_id long, score double"
_NO_CANDIDATES = (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))


def _top(qids: np.ndarray, ids: np.ndarray, n: int, *keys: np.ndarray):
    """(rows, rank): the indices of the first ``n`` candidate rows of
    each query ordered by ``keys`` (the first one first), then by id,
    in (query, rank) order, and their ranks — a per-query
    ``row_number() <= n`` as one lexsort. numpy sorts NaN last, as
    Spark's ascending order does. Candidates are a multiset: a repeated
    row is ranked twice, as an equi-join would repeat it."""
    order = np.lexsort((ids, *keys[::-1], qids))
    q = qids[order]
    start = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(len(q)) - np.repeat(start, np.diff(np.r_[start, len(q)])) + 1
    keep = rank <= n
    return order[keep], rank[keep]


def _ranked(qids: np.ndarray, ids: np.ndarray, k: int, *keys: np.ndarray):
    """(query_id, rank, id) arrays of ``_top``'s rows."""
    rows, rank = _top(qids, ids, k, *keys)
    return qids[rows], rank, ids[rows]


def _by_cosine(cos: np.ndarray):
    """``_top`` keys of a cosine: descending with NaN first, as Spark
    orders a descending double."""
    return ~np.isnan(cos), -cos


def _matches(keys: np.ndarray, want: np.ndarray):
    """(i, r): for each position i of ``want``, every row r with
    ``keys[r] == want[i]`` — the equi-join of ``want`` against
    ``keys`` as index pairs."""
    order = np.argsort(keys, kind="stable")
    lo = np.searchsorted(keys[order], want, "left")
    n = np.searchsorted(keys[order], want, "right") - lo
    return np.repeat(np.arange(len(want)), n), order[np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())]


def _scan_lists(vec_id: np.ndarray, lists: np.ndarray, pairs: list, score):
    """(query_id, vec_id, score) arrays of the candidates among the rows
    (``vec_id``, ``lists``): for each probe pair p, every row of its
    list but the query's own, scored by ``score(p, rows)``. The one scan
    of both query tails, over the trainer's collected corpus on the
    driver or over one Arrow batch in a task."""
    order = np.argsort(lists, kind="stable")
    by_list = lists[order]
    parts = [_NO_CANDIDATES]
    for p, (qid, lid, _) in enumerate(pairs):
        rows = order[np.searchsorted(by_list, lid, "left") : np.searchsorted(by_list, lid, "right")]
        rows = rows[vec_id[rows] != qid]
        parts.append((np.full(len(rows), qid, np.int64), vec_id[rows], score(p, rows)))
    return tuple(np.concatenate(c) for c in zip(*parts))


def _partition_top(frame: DataFrame, scan, n: int, keys) -> tuple:
    """The tails' scan over every row of ``frame`` in one mapInArrow
    job: each task keeps a running top ``n`` per query (by
    ``keys(score)``, then vec_id, as ``_top`` ranks) of the
    ``scan(batch)`` candidates of its Arrow batches; returns the tasks'
    tops as (query_id, vec_id, score) arrays, which the caller ranks
    again. The first n of a union are the first n of its parts' first
    n, so the ranks equal one scan's.

    The driver holds at most tasks × Q × n rows at 32 B: the same order
    as the Q·nprobe·m·kc LUT doubles it already builds, since queries
    are the small side by contract (a tree merge would be needed past
    ~10^5 tasks)."""

    def task(batches):
        top = _NO_CANDIDATES
        for b in batches:
            qids, ids, score = (np.concatenate(c) for c in zip(top, scan(b)))
            rows, _ = _top(qids, ids, n, *keys(score))
            top = qids[rows], ids[rows], score[rows]
        yield pa.RecordBatch.from_arrays([pa.array(c) for c in top], names=["query_id", "vec_id", "score"])

    table = frame.mapInArrow(task, CANDIDATE_DDL).toArrow()
    return tuple(table.column(c).to_numpy() for c in ("query_id", "vec_id", "score"))


def _driver_tail(spark, local, pairs: list) -> bool:
    """Whether a query tail scans on the driver: the trainer collected
    the corpus (``local``) and the candidates ``_scan_lists`` would hold
    at once, every row of each probed list at
    ``row_bytes(CANDIDATE_DDL)``, fit under
    ``spark.sql.autoBroadcastJoinThreshold`` too. A corpus that fits
    can still give n_queries·N candidates (``pq_topk`` probes list 0,
    the whole corpus, for every query); those go to
    ``_partition_top``, whose tasks hold one batch's at a time."""
    if local is None:
        return False
    lids = np.array([lid for _, lid, _ in pairs], dtype=np.int64)
    sizes = np.bincount(local[2], minlength=int(lids.max(initial=-1)) + 1)
    return int(sizes[lids].sum()) * row_bytes(spark, CANDIDATE_DDL) <= broadcast_threshold(spark)


def _topk_frame(spark, qids, rank, ids) -> DataFrame:
    """A query tail's (query_id, rank, neighbor_id) rows as a
    ``local_frame``."""
    cols = [pa.array(c, pa.int64()) for c in (qids, rank, ids)]
    return local_frame(spark, pa.table(cols, names=["query_id", "rank", "neighbor_id"]), TOPK_DDL)


def _ivf_query(
    embeddings: DataFrame, cents: list, local, k: int, n_queries: int, nprobe: int
) -> DataFrame:
    """Exact-cosine IVF query tail over a driver-side centroid list:
    driver-side probe selection, then every member of a probed list
    other than the query itself, cos DESC, neighbor_id ASC.

    With the trainer's ``local`` (vec_id, mat, lists) arrays and
    candidates that fit (``_driver_tail``) the scan runs over them on
    the driver with no job; otherwise one mapInArrow job runs it per
    Arrow batch of the corpus, each task assigning its rows to lists
    with ``_nearest_np`` (``_partition_top``). Each vector lives in
    exactly one list and probes are distinct per query, so no dedup is
    needed."""
    spark = embeddings.sparkSession
    pairs = _probe_pairs(_query_rows(embeddings, n_queries, local), cents, nprobe)
    list_ids, cmat = _centroid_arrays(cents)
    qv = np.array([vec for _, _, vec in pairs], dtype=np.float64).reshape(len(pairs), cmat.shape[1])
    qnorms = norm_fold_np(qv)

    def scan(vec_id, mat, lists):
        norms = norm_fold_np(mat)

        def cos_of(p, rows):
            denom = qnorms[p] * norms[rows]
            if not denom.all():  # where Spark's ANSI division would raise
                raise ValueError("Division by zero: the cosine of a zero-norm embedding")
            return dot_fold_np(mat[rows], qv[p]) / denom

        return _scan_lists(vec_id, lists, pairs, cos_of)

    def scan_batch(batch):
        vec_id, mat = _as_matrix(batch, cmat.shape[1])
        return scan(vec_id, mat, list_ids[_nearest_np(mat, cmat)])

    if _driver_tail(spark, local, pairs):
        qids, ids, cos = scan(*local[:3])
    else:
        qids, ids, cos = _partition_top(embeddings.select("vec_id", "embedding"), scan_batch, k, _by_cosine)
    return _topk_frame(spark, *_ranked(qids, ids, k, *_by_cosine(cos)))


def ivf_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize vectors to ``nlist``
    centroid lists, probe the ``nprobe`` closest lists per query, exact
    cosine rerank within the probed lists.

    Centroid 'training' is a deterministic sample (vec_id = j·stride) so
    the numpy golden oracle reproduces the index bit-for-bit; a real
    deployment would k-means on a sample — the dataflow is identical.
    Where it runs follows the size rule: a corpus under
    ``spark.sql.autoBroadcastJoinThreshold`` is one bounded collect and
    the whole query runs in numpy on the driver (one Spark job) when
    its candidates fit too. Over it (that collect's job is spent unless
    a loaded cache's row count says so first), the nlist stride rows
    are one filtered collect, the query rows another, and one map-only
    mapInArrow job assigns each row to its list (an Arrow argmax over
    the (nlist, dim) centroid matrix), scans the probed lists and
    returns each task's top k per query to the driver — the corpus
    never shuffles and no window runs.

    Sizing at real scale: nlist should grow ~√N (16 is toy-sized for the
    test fixture; 100 TB of 1e9+ vectors wants nlist ≈ 2^15–2^17 trained
    on a sample, with the same map-only assignment kernel). nprobe
    trades recall for the touched fraction nprobe/nlist.
    """
    cents, _, _, local = _train_index(embeddings, nlist, 0, 0, 0, False, None)
    return _ivf_query(embeddings, cents, local, k, n_queries, nprobe)


def ivf_kmeans_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF ANN with a REAL k-means step: stride-sample init → argmax
    assignment → one deterministic Lloyd centroid update → reassignment
    → nprobe probing → exact rerank. The quantized-integer mean makes
    the trained index bit-reproducible across engines and cluster
    sizes, so the DuckDB oracle recomputes the whole pipeline.

    The Lloyd step is one pass of ``_train_index``: on the driver when
    the corpus fits under ``spark.sql.autoBroadcastJoinThreshold``, and
    then the query too when its candidates fit, else one map-only job
    whose tasks return nlist·dim integer sums; the query is then one
    more map-only job, as in ``ivf_topk``.
    """
    cents, _, _, local = _train_index(embeddings, nlist, 1, 0, 0, False, None)
    return _ivf_query(embeddings, cents, local, k, n_queries, nprobe)


PQ_M = 4  # subspaces (dim/M dims each)
PQ_K = 16  # centroids per subspace codebook
PQ_REFINE = 50  # ADC candidates per query re-ranked exactly


def _pq_codes_np(mat: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(N, M) int32 PQ codes: per subspace, argmin L2 against the
    (M, K, sub) codebook, ties → smaller code (the oracle's ORDER BY
    dist, code)."""
    m, kc, sub = cb.shape
    out = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        xs = mat[:, s * sub : (s + 1) * sub]
        dists = np.empty((kc, len(mat)), dtype=np.float64)
        for j in range(kc):
            dists[j] = l2_fold_np(xs, cb[s, j])
        out[:, s] = np.argmin(dists, axis=0)
    return out


_QUANT = 1 << 20  # centroid quantization: ~1e-6 resolution

# An embedding of unknown dim is sized as this many float32s by the
# bounded collect of index training.
TRAIN_DIM_BOUND = 1024

CODES_DDL = "vec_id long, list_id int, codes array<int>"


def _as_matrix(batch, dim: int | None = None):
    """(vec_id, mat) of an Arrow (vec_id, embedding) batch or table:
    int64 ids and an (n, dim) float64 matrix. The one batch→array step
    of training and encoding, on the driver and in tasks alike. ``dim``
    defaults to the first row's length; a null, empty or other-length
    embedding raises ``ValueError``."""
    rows = batch.column("embedding")
    if isinstance(rows, pa.ChunkedArray):
        rows = rows.combine_chunks()
    lengths = pc.fill_null(pc.list_value_length(rows), -1).to_numpy()
    if dim is None:
        dim = int(lengths[0]) if len(lengths) else 0
    if len(lengths) and (dim < 1 or (lengths != dim).any()):
        raise ValueError("IVF/PQ needs non-null, non-empty embeddings of one length")
    mat = rows.flatten().to_numpy().astype(np.float64).reshape(len(rows), dim)
    return batch.column("vec_id").to_numpy(), mat


def _stride_mask(vec_id, n: int):
    """vec_id = j·IVF_STRIDE for some j < n, over a numpy array or a
    Column alike."""
    return (vec_id % IVF_STRIDE == 0) & (vec_id < n * IVF_STRIDE)


def _stride_rows(vec_id: np.ndarray, mat: np.ndarray, n: int):
    """(j, rows) of the stride sample j < n, j ascending: the
    deterministic init of every quantizer."""
    sel = np.flatnonzero(_stride_mask(vec_id, n))
    sel = sel[np.argsort(vec_id[sel], kind="stable")]
    return vec_id[sel] // IVF_STRIDE, mat[sel]


def _quantized_sums(x: np.ndarray, labels: np.ndarray, k: int) -> np.ndarray:
    """(k, d + 1) int64: for each label in 0..k-1, the sums of
    floor(x·2²⁰ + 0.5) over its rows of ``x``, then its row count.
    Integer sums do not depend on order, so partial sums over batches
    and partitions add up to the same bits as one pass."""
    out = np.zeros((k, x.shape[1] + 1), dtype=np.int64)
    np.add.at(out[:, :-1], labels, np.floor(x * float(_QUANT) + 0.5).astype(np.int64))
    out[:, -1] = np.bincount(labels, minlength=k)
    return out


def _quantized_means(sums: np.ndarray):
    """(means, members) of added-up ``_quantized_sums``: (sum/n)/2²⁰ in
    the SQL oracle's op order, one row per label with members
    (``members`` is that mask)."""
    n = sums[:, -1]
    members = n > 0
    means = sums[members, :-1].astype(np.float64) / n[members, None].astype(np.float64) / float(_QUANT)
    return means, members


def _coarse_np(mat: np.ndarray, cmat, residual: bool):
    """(idx, x): each row's max-cosine centroid in ``cmat`` (None when
    there is no coarse quantizer) and the vector PQ sees, x − c_idx with
    ``residual`` and x itself otherwise. Residual subtraction is exact
    element-wise double arithmetic, so the DuckDB oracle reproduces it
    bit-for-bit."""
    idx = None if cmat is None else _nearest_np(mat, cmat)
    return idx, (mat - cmat[idx] if residual else mat)


def _encode_np(mat: np.ndarray, list_ids, cmat, cb, residual: bool):
    """The one encoder → (lists, codes): each row's coarse list_id (0
    for every row without a coarse quantizer) and, with a codebook
    ``cb``, its (n, m) PQ codes of the row or of its residual (None
    without one)."""
    idx, x = _coarse_np(mat, cmat, residual)
    lists = np.zeros(len(mat), np.int32) if idx is None else list_ids[idx]
    return lists, None if cb is None else _pq_codes_np(x, cb)


def _codes_batch(vec_id, lists, codes) -> pa.RecordBatch:
    """``_encode_np``'s arrays as a ``CODES_DDL`` batch."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(vec_id, pa.int64()),
            pa.array(lists, pa.int32()),
            pa.ListArray.from_arrays(
                np.arange(0, codes.size + 1, codes.shape[1], dtype=np.int32), codes.ravel()
            ),
        ],
        names=["vec_id", "list_id", "codes"],
    )


def _local_codes(spark, local) -> DataFrame:
    """The ``CODES_DDL`` rows of the trainer's collected ``local``
    arrays as a ``local_frame``."""
    vec_id, _, lists, codes = local
    return local_frame(spark, pa.Table.from_batches([_codes_batch(vec_id, lists, codes)]), CODES_DDL)


def _encode_frame(embeddings: DataFrame, list_ids, cmat, cb, residual: bool, dim: int) -> DataFrame:
    """``CODES_DDL`` rows of ``embeddings`` against frozen index
    artifacts: ``_codes_batch`` over each Arrow batch of one map-only
    mapInArrow, so encoding scales with input splits alone."""

    def encode(batches):
        for b in batches:
            vec_id, mat = _as_matrix(b, dim)
            yield _codes_batch(vec_id, *_encode_np(mat, list_ids, cmat, cb, residual))

    return embeddings.select("vec_id", "embedding").mapInArrow(encode, CODES_DDL)


def _partition_sums(emb: DataFrame, kernel, dim: int) -> np.ndarray:
    """Σ ``kernel(mat)`` over the rows of ``emb`` in one mapInArrow job:
    each task adds up its batches' int64 arrays and the driver adds up
    the tasks'."""
    zero = kernel(np.zeros((0, dim)))

    def task(batches):
        total = zero.copy()
        for b in batches:
            total += kernel(_as_matrix(b, dim)[1])
        yield pa.RecordBatch.from_arrays([pa.array([total.tobytes()], pa.binary())], names=["sums"])

    total = zero.copy()
    for r in emb.mapInArrow(task, "sums binary").collect():
        total += np.frombuffer(r["sums"], dtype=np.int64).reshape(zero.shape)
    return total


def _train_index(
    embeddings: DataFrame,
    nlist: int,
    lloyd: int,
    m: int,
    kc: int,
    residual: bool,
    dim: int | None,
):
    """The one IVF/PQ trainer → (cents, cb, coded, local).

    * Coarse quantizer (``nlist`` > 0): the stride rows j < nlist, then
      ``lloyd`` quantized Lloyd steps; a list with no members drops out.
      ``cents`` is [(list_id, vec)] sorted by list_id. With ``nlist`` 0
      there is one list, 0, with no centroid, and ``cents`` is empty.
    * Product quantizer (``m`` > 0): per subspace, the stride rows
      j < kc — residuals against their nearest centroid with
      ``residual`` — then one quantized Lloyd step; a code with no
      members keeps its init value. ``cb`` is (m, ≤kc, dim/m) (None
      when ``m`` is 0).

    Deterministic end to end (stride init + integer-quantized means), so
    the DuckDB oracle retrains bit-identically. Where it runs follows
    the size rule. (vec_id, embedding) rows that fit under
    ``spark.sql.autoBroadcastJoinThreshold`` (8 + 4·dim bytes a row, dim
    taken as TRAIN_DIM_BOUND when the caller does not give it) are
    collected once and every pass runs on the driver; ``coded`` is None
    and ``local`` is (vec_id, mat, lists, codes): the collected ids and
    (n, dim) float64 matrix, each row's list_id and its (n, m) PQ codes
    (None without PQ), from which the query tails answer when their
    candidates fit as well (``_driver_tail``). A larger
    corpus gives ``local`` None (a loaded cache whose ``cache_rows``
    say so skips the bounded collect): the stride rows are one filtered
    collect, each Lloyd pass is one mapInArrow job returning per-task
    integer sums over the lazily checkpointed corpus, and ``coded`` is
    the map-only mapInArrow of the ``CODES_DDL`` rows (None without
    PQ). Both give the same bits.
    """
    emb = embeddings.select("vec_id", "embedding")
    n_stride = max(nlist, kc if m else 0)
    if lloyd or m:
        # the passes reuse the rows the bounded collect's job materialized
        emb = emb.localCheckpoint(eager=False)
    row_size = 8 + 4 * (dim or TRAIN_DIM_BOUND)
    # a loaded cache known to be over skips the collect that would be spent
    rows = cache_rows(embeddings)
    over = rows is not None and rows * row_size > broadcast_threshold(embeddings.sparkSession)
    table = None if over else collect_bounded(emb, row_size)
    if table is not None:
        vec_id, mat = _as_matrix(table, dim)

        def run(kernel):
            return kernel(mat)
    else:
        stride = emb.where(_stride_mask(F.col("vec_id"), n_stride)).toArrow()
        vec_id, mat = _as_matrix(stride, dim)

        def run(kernel):
            return _partition_sums(emb, kernel, mat.shape[1])

    ids, rows = _stride_rows(vec_id, mat, n_stride)
    dim = mat.shape[1]

    list_ids = cmat = None
    if nlist:
        list_ids, cmat = ids[ids < nlist].astype(np.int32), rows[ids < nlist]
        if not len(cmat):
            raise ValueError("IVF training found no stride-sample rows")
        for _ in range(lloyd):

            def coarse_sums(x, c=cmat):
                return _quantized_sums(x, _nearest_np(x, c), len(c))

            cmat, members = _quantized_means(run(coarse_sums))
            list_ids = list_ids[members]
    cents = [] if cmat is None else [(int(lid), c.tolist()) for lid, c in zip(list_ids, cmat)]
    cb = _train_codebook(rows[ids < kc], cmat, run, m, residual) if m else None
    if table is not None:
        return cents, cb, None, (vec_id, mat, *_encode_np(mat, list_ids, cmat, cb, residual))
    coded = _encode_frame(emb, list_ids, cmat, cb, residual, dim) if m else None
    return cents, cb, coded, None


def _train_codebook(init_rows: np.ndarray, cmat, run, m: int, residual: bool) -> np.ndarray:
    """``_train_index``'s product quantizer: (m, ≤kc, dim/m) codebooks
    from the stride rows j < kc (``init_rows``) and one quantized Lloyd
    step over ``run``."""
    pq_cmat = cmat if residual else None
    _, init = _coarse_np(init_rows, pq_cmat, residual)
    if not len(init):
        raise ValueError("PQ training found no stride-sample rows")
    sub = init.shape[1] // m
    cb0 = np.stack([init[:, s * sub : (s + 1) * sub] for s in range(m)])

    def pq_sums(x):
        _, x = _coarse_np(x, pq_cmat, residual)
        codes = _pq_codes_np(x, cb0)
        return np.stack(
            [_quantized_sums(x[:, s * sub : (s + 1) * sub], codes[:, s], len(init)) for s in range(m)]
        )

    sums = run(pq_sums)
    cb = cb0.copy()
    for s in range(m):
        means, members = _quantized_means(sums[s])
        cb[s, members] = means
    return cb


def _adc_luts(qv: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """The ADC lookup tables, one per row of ``qv``: lut[p, s, j] is the
    squared L2 between subvector s of qv[p] and codebook entry (s, j),
    by the same ``l2_fold_np`` kernel the oracle's SQL fold mirrors
    (one fold per (p, j) row)."""
    m, kc, sub = cb.shape
    n = len(qv)
    return np.stack(
        [
            l2_fold_np(np.tile(cb[s], (n, 1)), np.repeat(qv[:, s * sub : (s + 1) * sub], kc, axis=0)).reshape(n, kc)
            for s in range(m)
        ],
        axis=1,
    )


def _rerank(vec_id: np.ndarray, mat: np.ndarray, short_q: np.ndarray, short_id: np.ndarray, k: int):
    """The exact-L2 rerank of an ADC shortlist → (query_id, rank,
    neighbor_id) arrays, over (vec_id, mat) rows that hold every
    shortlisted vec_id and query id: every row of each shortlisted
    vec_id against every query row of its query_id (as an equi-join on
    each would pair them), L2 ASC, neighbor_id ASC."""
    i, rows = _matches(vec_id, short_id)
    j, q_at = _matches(vec_id, short_q[i])
    rows, qids = rows[j], short_q[i][j]
    return _ranked(qids, vec_id[rows], k, l2_fold_np(mat[rows], mat[q_at]))


def _adc_topk(
    embeddings: DataFrame,
    cents: list,
    cb: np.ndarray,
    coded: DataFrame | None,
    local,
    k: int,
    n_queries: int,
    nprobe: int,
    refine: int,
    residual: bool,
    prune_lists: bool = False,
) -> DataFrame:
    """The one ADC query: one LUT per (query, probed list) — from
    q − c_list with ``residual``, else from q; every code is in list 0
    when ``cents`` is empty — then a code-only scan of the probed lists
    (the left fold over subspaces of lut[s][codes[s]] from 0.0, the
    oracle's addition order), then ``_rerank`` of the top ``refine``
    ADC candidates per query: ADC ASC, vec_id ASC, then L2 ASC,
    neighbor_id ASC.

    With the trainer's ``local`` (vec_id, mat, lists, codes) arrays and
    candidates that fit (``_driver_tail``) the scan runs over them on
    the driver with no job. Otherwise one mapInArrow job scans the
    ``CODES_DDL`` rows per Arrow batch (``_partition_top``): no
    embedding bytes are read by the scan. The rerank reads ``local``
    when the trainer collected the corpus, else one collect of the
    ≤refine·Q shortlisted rows and the query rows: a left-semi join of
    the corpus against a ``local_frame`` of their vec_ids. With
    ``prune_lists`` the probed list_ids are also applied as a LITERAL
    filter: against a ``list_id``-partitioned codes table this prunes
    unprobed partitions at the SCAN (the persisted-index serving
    path)."""
    spark = embeddings.sparkSession
    q_rows = _query_rows(embeddings, n_queries, local)
    if cents:
        pairs = _probe_pairs(q_rows, cents, nprobe)
    else:
        pairs = [(qid, 0, vec) for qid, vec in q_rows]
    m = cb.shape[0]
    qv = np.array([vec for _, _, vec in pairs], dtype=np.float64).reshape(len(pairs), m * cb.shape[2])
    if residual:
        cmap = {lid: np.asarray(v, dtype=np.float64) for lid, v in cents}
        qv = qv - np.array([cmap[lid] for _, lid, _ in pairs]).reshape(qv.shape)
    luts = _adc_luts(qv, cb)

    def scan(vec_id, lists, codes):
        def adc_of(p, rows):
            adc = np.zeros(len(rows))
            for s in range(m):
                adc = adc + luts[p, s, codes[rows, s]]
            return adc

        return _scan_lists(vec_id, lists, pairs, adc_of)

    def scan_batch(batch):
        codes = batch.column("codes").flatten().to_numpy().reshape(batch.num_rows, m)
        return scan(batch.column("vec_id").to_numpy(), batch.column("list_id").to_numpy(), codes)

    if _driver_tail(spark, local, pairs):
        qids, ids, adc = scan(local[0], *local[2:])
    else:
        if coded is None:  # the trainer collected the corpus, but not its candidates
            coded = _local_codes(spark, local)
        if prune_lists:
            coded = coded.where(F.col("list_id").isin(sorted({lid for _, lid, _ in pairs})))
        qids, ids, adc = _partition_top(coded, scan_batch, refine, lambda d: (d,))
    short_q, _, short_id = _ranked(qids, ids, refine, adc)
    if local is not None:
        vec_id, mat = local[:2]
    else:
        want = pa.table([np.union1d(short_id, short_q)], names=["vec_id"])
        rows = embeddings.select("vec_id", "embedding").join(
            local_frame(spark, want, "vec_id long"), "vec_id", "left_semi"
        )
        vec_id, mat = _as_matrix(rows.toArrow())
    return _topk_frame(spark, *_rerank(vec_id, mat, short_q, short_id, k))


def pq_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    dim: int | None = None,
    m: int = PQ_M,
    kc: int = PQ_K,
    refine: int = PQ_REFINE,
) -> DataFrame:
    """IVF-PQ-style ANN: product-quantize vectors to M sub-codes, score
    with asymmetric distance (ADC — per-query lookup tables over the
    codebook), exact-L2 rerank of the top ``refine`` ADC candidates.

    The 100-TB shape: vectors compress dim·4 bytes → M bytes (here
    64·4→4, a 64× memory cut), ADC scoring touches only codes + the
    (n_queries, M, K) LUTs shipped with the scan — no embedding bytes
    move for the scan phase; only the ``refine`` finalists per query
    read their full vectors. Codebook training is deterministically
    reproducible (see ``_train_index``), so the DuckDB oracle retrains
    from scratch and must agree bit-for-bit; every ordering tie-breaks
    on vec_id.

    This is ``ivf_pq_topk`` with one list and no coarse centroid: every
    code is in list 0 and every query probes it, so the scan is the
    same ``_adc_topk`` scan, over the whole corpus.
    """
    _, cb, coded, local = _train_index(embeddings, 0, 0, m, kc, False, dim)
    return _adc_topk(embeddings, [], cb, coded, local, k, n_queries, 1, refine, False)


def ivf_pq_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_M,
    kc: int = PQ_K,
    refine: int = PQ_REFINE,
    dim: int | None = None,
    residual: bool = False,
) -> DataFrame:
    """The standard IVF∘PQ pipeline ``pq_topk``'s docstring promises:
    coarse IVF list assignment (argmax over the stride centroids, as in
    ``ivf_topk``) in FRONT of the PQ ADC scan, so the code scan touches
    only the ``nprobe/nlist`` probed fraction of the corpus instead of
    all N codes — then the shared exact-L2 rerank of the top ``refine``
    ADC candidates per query.

    Plan shape at 100 TB: nothing shuffles (assignment and PQ encoding
    are row-local over the frozen centroids/codebooks); the ADC scan
    of the probed fraction's code-only rows is one map-only job whose
    tasks return their top ``refine`` per query, and the rerank reads
    the ≤refine·Q finalists' vectors. Memory per candidate row is M
    ints, a dim·8/M compression of the brute scan.

    With ``residual=True`` (the textbook FAISS IVFPQ and the gated
    configuration) the coarse quantizer gets one Lloyd step, and the PQ
    codebooks are trained on — and vectors are encoded as — RESIDUALS
    against their assigned coarse centroid (r = x − c_list), and each
    query builds one ADC LUT PER PROBED LIST from (q − c_list).
    Residuals only quantize finely when the centroids actually center
    their lists (measured on the fixture: residual-over-stride was WORSE
    than plain, residual-over-kmeans is at-or-above parity). Residuals
    concentrate around the origin, so a codebook of the same size
    quantizes them far more finely than raw vectors — that, not just
    the pruned scan, is why IVF∘PQ is the standard pipeline.

    Both forms train through ``_train_index`` — on the driver when the
    corpus fits under ``spark.sql.autoBroadcastJoinThreshold``, else as
    one map-only job per Lloyd pass — and the DuckDB oracle retrains the
    ENTIRE composed index from scratch and must agree bit-for-bit. On
    the driver the query answers in numpy from the collected corpus
    too when its candidates fit as well, so the call runs one Spark
    job; otherwise the same scan runs per partition (``_adc_topk``).
    """
    cents, cb, coded, local = _train_index(embeddings, nlist, int(residual), m, kc, residual, dim)
    return _adc_topk(embeddings, cents, cb, coded, local, k, n_queries, nprobe, refine, residual)


def _load_ivf_pq_index(spark, path: str):
    """(meta, cents, cb) from a persisted index directory — the
    broadcast-sized training artifacts only; the codes table stays on
    disk for pruned scans."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "index_meta.json")) as f:
        meta = _json.load(f)
    cents = sorted(
        (int(r["list_id"]), list(r["c_emb"]))
        for r in spark.read.parquet(_os.path.join(path, "centroids")).collect()
    )
    cb_rows = spark.read.parquet(_os.path.join(path, "codebooks")).collect()
    sub = meta["dim"] // meta["m"]
    cb = np.zeros((meta["m"], meta["kc"], sub), dtype=np.float64)
    for r in cb_rows:
        cb[int(r["s"]), int(r["code"])] = np.asarray(r["cb_emb"], dtype=np.float64)
    return meta, cents, cb


def build_ivf_pq_index(
    embeddings: DataFrame,
    path: str,
    nlist: int = IVF_NLIST,
    m: int = PQ_M,
    kc: int = PQ_K,
    dim: int | None = None,
    train_on: DataFrame | None = None,
) -> dict:
    """Train the residual IVF∘PQ index ONCE and persist it:

        path/centroids/   (list_id, c_emb)            — nlist rows
        path/codebooks/   (s, code, cb_emb)           — m·kc rows
        path/codes/       (vec_id, codes) PARTITIONED BY list_id
        path/index_meta.json

    The codes table is the corpus-sized piece (M small ints per vector
    — the dim·8/M compression) and is hive-partitioned by the coarse
    list, so a serving query's literal nprobe-list filter prunes
    unread partitions at the file level: the steady-state scan touches
    ~nprobe/nlist of the index regardless of corpus size. Training is
    deterministic, so rebuild == reload (pytest-asserted).

    At 100 TB these are Iceberg tables; centroids/codebooks stay
    broadcast-sized (they are collected per query anyway).

    ``train_on`` decouples training from encoding — the sample-training
    scale path: train the quantizers on a (clustered-representative)
    sample frame, then encode the FULL corpus with the frozen
    artifacts in one map-only pass. With train_on=None training and
    encoding both run over ``embeddings`` (exact small-scale build).

    Training is ``_train_index``'s: on the driver when the training
    frame fits under ``spark.sql.autoBroadcastJoinThreshold``, per
    partition when it does not; both give the same bits.
    """
    import json as _json
    import os as _os

    spark = embeddings.sparkSession
    train_frame = train_on if train_on is not None else embeddings
    cents, cb, coded, local = _train_index(train_frame, nlist, 1, m, kc, True, dim)
    dim = len(cents[0][1])
    if train_on is not None:
        coded = _encode_frame(embeddings, *_centroid_arrays(cents), cb, True, dim)
    elif local is not None:
        coded = _local_codes(spark, local)
    local_frame(
        spark,
        [(int(lid), [float(x) for x in v]) for lid, v in cents],
        "list_id int, c_emb array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_os.path.join(path, "centroids"))
    local_frame(
        spark,
        [
            (s, j, [float(x) for x in cb[s, j]])
            for s in range(cb.shape[0])
            for j in range(cb.shape[1])
        ],
        "s int, code int, cb_emb array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_os.path.join(path, "codebooks"))
    coded.write.mode("overwrite").partitionBy("list_id").parquet(
        _os.path.join(path, "codes")
    )
    meta = {"nlist": nlist, "m": m, "kc": kc, "dim": dim, "residual": True}
    with open(_os.path.join(path, "index_meta.json"), "w") as f:
        _json.dump(meta, f)
    return meta


def ivf_pq_topk_from_index(
    embeddings: DataFrame,
    path: str,
    k: int = 10,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
    refine: int = PQ_REFINE,
) -> DataFrame:
    """Serve top-k from a PERSISTED index (``build_ivf_pq_index``):
    train-once / query-many. Results are identical to the retrain-per-
    query ``ivf_pq_topk(residual=True)`` because training is
    deterministic; the codes scan reads only the probed list
    partitions (literal filter → partition pruning). ``embeddings`` is
    still needed for query vectors and the exact-L2 rerank of the
    ≤refine·Q shortlist."""
    import os as _os

    spark = embeddings.sparkSession
    meta, cents, cb = _load_ivf_pq_index(spark, path)
    coded = spark.read.parquet(_os.path.join(path, "codes")).select(
        "vec_id", F.col("list_id").cast("int").alias("list_id"), "codes"
    )
    return _adc_topk(
        embeddings, cents, cb, coded, None, k, n_queries, nprobe, refine, meta["residual"], prune_lists=True
    )


def append_to_ivf_pq_index(new_embeddings: DataFrame, path: str) -> dict:
    """Incrementally add vectors to a persisted index WITHOUT
    retraining: encode the new batch against the frozen centroids +
    codebooks (the same map-only kernel the build uses) and append the
    codes as new files inside the existing list_id hive partitions.
    Serving is unchanged — the probed-list partition pruning sees old
    and new files alike, and results equal a monolithic index built
    with the same train set over the union corpus (pytest-asserted).

    This is the streaming-ingest shape at 100 TB: each arriving batch
    is one shuffle-free encode + append; the quantizers only retrain
    when drift warrants a rebuild. Caller owns vec_id uniqueness across
    appends (appends are files, not upserts — same contract as any
    append-only table).
    """
    import os as _os

    spark = new_embeddings.sparkSession
    meta, cents, cb = _load_ivf_pq_index(spark, path)
    dim = _dim_of(new_embeddings, None)
    if dim != meta["dim"]:
        raise ValueError(f"embedding dim {dim} != index dim {meta['dim']}")
    _encode_frame(new_embeddings, *_centroid_arrays(cents), cb, True, dim).write.mode(
        "append"
    ).partitionBy("list_id").parquet(_os.path.join(path, "codes"))
    return meta


def embedding_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = ANN_BITS,
    bands: int = ANN_BANDS,
    dim: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b): pairs colliding in ≥1 LSH band with exact
    cosine ≥ threshold.

    The blocker is the same banded sign-bit join as ``ann_lsh_topk``
    (uniform hash keys → bounded buckets at any scale). The earlier
    label-equality blocking had unbounded block sizes: one hot label
    degenerated to an all-pairs cross within the block.
    """
    banded = _banded(embeddings, bits, bands, dim)
    a = banded.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "band", "band_sig"
    )
    b = banded.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "band", "band_sig"
    )
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .where(cosine_fold_col(F.col("ea"), F.col("eb")) >= threshold)
        .select("vec_a", "vec_b")
    )
