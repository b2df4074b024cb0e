"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small)
  query set, score every candidate with a left-fold double dot product
  in pure Column expressions (functions.hashing.dot_fold_col — bit-
  identical to the DuckDB oracle), per-query top-k window. The O(Q·N)
  correctness baseline.

* ``ann_lsh_topk`` — the scale path: random-hyperplane LSH. Signatures
  are sign-bits of plane dot products (same fold kernel), candidates
  share a signature in ≥1 band, exact cosine reranks. Returns exactly
  top-k among candidates — approximate overall (recall measured in
  tests), deterministic given the seed.

* ``embedding_dup_pairs`` — near-duplicate pairs (cosine ≥ threshold)
  blocked by the SAME random-hyperplane LSH bands as ``ann_lsh_topk``:
  a pair is compared iff it collides in ≥1 band, then filtered by
  exact cosine. Band buckets are bounded by the hash (uniform sign
  bits), unlike value-blocking keys (label) whose hot blocks degrade
  to all-pairs crosses. Deterministic given the seed, and the DuckDB
  oracle recomputes the banding independently from literal plane
  constants.

Scale notes: brute force distributes perfectly (map-only over
candidates, broadcast queries, top-k via partial per-partition heaps in
the window agg). The LSH bucket join shuffles on (band, signature) —
uniform md5/hyperplane bits mean no skew; AQE handles stragglers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_lib_spark.functions.hashing import cosine_fold_col, dot_fold_np, norm_fold_np
from osm_lib_spark.session import collect_bounded, local_frame

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

    @F.pandas_udf(T.LongType())
    def sig(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy())  # (batch, dim) float32
        out = np.zeros(len(mat), dtype=np.int64)
        for j in range(planes.shape[0]):
            d = dot_fold_np(mat, planes[j])
            out |= (d > 0).astype(np.int64) << j
        return pd.Series(out)

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
    one assignment kernel of the Arrow UDFs and of driver training."""
    norm_e = norm_fold_np(mat)
    cnorms = norm_fold_np(cmat)
    scores = np.empty((len(cnorms), mat.shape[0]), dtype=np.float64)
    for j in range(len(cnorms)):
        scores[j] = dot_fold_np(mat, cmat[j]) / (norm_e * cnorms[j])
    return np.argmax(scores, axis=0)


def _assign_local(embeddings: DataFrame, cents: list) -> DataFrame:
    """(vec_id, embedding, list_id): row-local argmax-cosine assignment
    (ties → smaller list_id). Map-only — the old broadcast-crossJoin +
    groupBy(vec_id) shuffled N·nlist rows carrying full embedding arrays;
    at corpus scale that shuffle dominated the whole query.

    The kernel is a vectorized Arrow-batch argmax over the (nlist, dim)
    centroid matrix (``_nearest_np``): with ``cents`` sorted by list_id
    its first max is exactly the oracle's ccos DESC, list_id ASC
    tie-break. Unrolled Column folds (16 centroids × 64-dim aggregate
    expressions per row) measured ~3× slower than this dense kernel.
    """
    list_ids = np.array([lid for lid, _ in cents], dtype=np.int32)
    cmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])

    @F.pandas_udf(T.IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        return pd.Series(list_ids[_nearest_np(mat, cmat)])

    return embeddings.select(
        "vec_id", "embedding", assign(F.col("embedding")).alias("list_id")
    )


def _assign_residual(embeddings: DataFrame, cents: list) -> DataFrame:
    """(vec_id, list_id, residual): row-local argmax-cosine assignment
    PLUS the float64 residual x − c_assigned, in ONE Arrow kernel (same
    first-max/list_id-ASC tie-break as ``_assign_local``). Residual
    subtraction is exact element-wise double arithmetic, so the DuckDB
    oracle reproduces it bit-for-bit with list_zip subtraction."""
    list_ids = np.array([lid for lid, _ in cents], dtype=np.int32)
    cmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])

    @F.pandas_udf("list_id int, residual array<double>")
    def assignr(emb: pd.Series) -> pd.DataFrame:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        idx = _nearest_np(mat, cmat)
        res = mat - cmat[idx]
        return pd.DataFrame(
            {"list_id": list_ids[idx], "residual": [row.tolist() for row in res]}
        )

    return embeddings.select("vec_id", assignr(F.col("embedding")).alias("ar")).select(
        "vec_id",
        F.col("ar.list_id").alias("list_id"),
        F.col("ar.residual").alias("residual"),
    )


def _probe_list_rows(
    embeddings: DataFrame, cents: list, n_queries: int, nprobe: int
) -> tuple[list, list]:
    """Driver-side probe selection: returns (q_rows, probe_pairs) with
    q_rows = [(query_id, vec)] sorted and probe_pairs = [(query_id,
    list_id, vec)] — the nprobe closest centroid lists per query.

    Queries are the small side by contract (they broadcast everywhere
    downstream), so collecting n_queries rows is a bounded control
    collect. Scoring uses the same ``dot_fold_np``/``norm_fold_np``
    kernels as everything else — ccos DESC, list_id ASC ordering matches
    the oracle bit-for-bit.
    """
    q_rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    cmat = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    cnorms = norm_fold_np(cmat)
    out = []
    for qid, vec in q_rows:
        qv = np.asarray(vec, dtype=np.float64).reshape(1, -1)
        nq = float(norm_fold_np(qv)[0])
        scores = [
            (float(dot_fold_np(qv, cmat[j])[0]) / (nq * float(cnorms[j])), cents[j][0])
            for j in range(len(cents))
        ]
        scores.sort(key=lambda t: (-t[0], t[1]))
        for _, lid in scores[:nprobe]:
            out.append((qid, lid, vec))
    return q_rows, out


def _probe_lists(
    embeddings: DataFrame, cents: list, n_queries: int, nprobe: int
) -> DataFrame:
    """(query_id, q_emb, list_id) DataFrame over ``_probe_list_rows``."""
    _, pairs = _probe_list_rows(embeddings, cents, n_queries, nprobe)
    return local_frame(
        embeddings.sparkSession,
        [(qid, lid, [float(v) for v in vec]) for qid, lid, vec in pairs],
        "query_id long, list_id int, q_emb array<double>",
    )


def _collect_cents(cent: DataFrame) -> list:
    rows = cent.collect()
    return sorted((int(r["list_id"]), list(r["c_emb"])) for r in rows)


def _stride_centroids(embeddings: DataFrame, nlist: int) -> DataFrame:
    return embeddings.where(
        (F.col("vec_id") % IVF_STRIDE == 0) & (F.col("vec_id") < nlist * IVF_STRIDE)
    ).select(
        (F.col("vec_id") / IVF_STRIDE).cast("int").alias("list_id"),
        F.col("embedding").alias("c_emb"),
    )


def _ivf_query(
    embeddings: DataFrame, cents: list, k: int, n_queries: int, nprobe: int
) -> DataFrame:
    """Shared IVF query path over a driver-side centroid list: row-local
    assignment, row-local probe selection, then ONE broadcast hash join
    (tiny probes side) — the corpus is never shuffled. Each vector lives
    in exactly one list and probes are distinct per query, so no
    dedup/distinct step is needed (or planned)."""
    assign = _assign_local(embeddings, cents)
    probes = _probe_lists(embeddings, cents, n_queries, nprobe)
    cands = (
        assign.join(probes, "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    rescored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_fold_col(F.col("q_emb"), F.col("embedding")).alias("cos"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
        )
    )


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
    Scale shape: the nlist centroids are collected once (bounded control
    collect — the moral equivalent of a broadcast variable), assignment
    and probe selection are row-local Column argmax over literal arrays
    (no join, no shuffle), and candidate selection broadcasts the tiny
    (n_queries·nprobe)-row probe table — the corpus never shuffles; the
    only wide exchange left is the per-query top-k window over the
    probed fraction (≈ nprobe/nlist of N per query).

    Sizing at real scale: nlist should grow ~√N (16 is toy-sized for the
    test fixture; 100 TB of 1e9+ vectors wants nlist ≈ 2^15–2^17 trained
    on a sample, at which point assignment stays map-only but scoring
    all nlist centroids per row calls for a vectorized pandas_udf argmax
    over a broadcast centroid matrix instead of unrolled Column folds —
    same dataflow, denser kernel). nprobe trades recall for the touched
    fraction nprobe/nlist.
    """
    cents = _collect_cents(_stride_centroids(embeddings, nlist))
    return _ivf_query(embeddings, cents, k, n_queries, nprobe)


_QUANT = 1 << 20  # centroid quantization: ~1e-6 resolution


def _lloyd_step(assign: DataFrame) -> DataFrame:
    """One k-means (Lloyd) centroid update, DETERMINISTIC at any
    parallelism: per-dimension sums run over integer-quantized values
    (round(x·2²⁰) as long), so the aggregation order cannot change the
    result — float sums are order-dependent, integer sums are not.
    Mean = (sum/n)/2²⁰ in fixed double op order, reproducible in SQL.
    """
    # floor(x·Q + 0.5): explicit half-up rounding — identical semantics
    # in Spark and DuckDB (their round() tie-breaking conventions differ)
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(_QUANT)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    sums = (
        assign.select("list_id", F.posexplode(q).alias("pos", "qv"))
        .groupBy("list_id", "pos")
        .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
    )
    comp = sums.select(
        "list_id",
        "pos",
        (
            F.col("s").cast("double") / F.col("n").cast("double") / F.lit(float(_QUANT))
        ).alias("v"),
    )
    return (
        comp.groupBy("list_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            "list_id",
            F.transform(F.col("pv"), lambda x: x.getField("v")).alias("c_emb"),
        )
    )


def ivf_kmeans_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF ANN with a REAL k-means step: stride-sample init → row-local
    argmax assignment → one deterministic Lloyd centroid update →
    reassignment → nprobe probing → exact rerank. The quantized-integer
    mean makes the trained index bit-reproducible across engines and
    cluster sizes, so the DuckDB oracle recomputes the whole pipeline.

    Shuffle budget: the only wide stages are the Lloyd sums (nlist·dim
    long-integer groups — map-side combined, a few KB of shuffle data
    regardless of N) and the final per-query top-k window. Assignment in
    both rounds is map-only over literal centroid arrays.
    """
    cents0 = _collect_cents(_stride_centroids(embeddings, nlist))
    a0 = _assign_local(embeddings, cents0)
    cents1 = _collect_cents(
        _lloyd_step(a0).select("list_id", "c_emb")
    )
    return _ivf_query(embeddings, cents1, k, n_queries, nprobe)


PQ_M = 4  # subspaces (dim/M dims each)
PQ_K = 16  # centroids per subspace codebook
PQ_REFINE = 50  # ADC candidates per query re-ranked exactly


def _pq_codes_np(mat: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(N, M) int32 PQ codes: per subspace, argmin L2 against the
    (M, K, sub) codebook, ties → smaller code (the oracle's ORDER BY
    dist, code). The one encoder of the Arrow UDF and of driver
    training."""
    from osm_lib_spark.functions.hashing import l2_fold_np

    m, kc, sub = cb.shape
    out = np.empty((len(mat), m), dtype=np.int32)
    for s in range(m):
        xs = mat[:, s * sub : (s + 1) * sub]
        dists = np.empty((kc, len(mat)), dtype=np.float64)
        for j in range(kc):
            dists[j] = l2_fold_np(xs, cb[s, j])
        out[:, s] = np.argmin(dists, axis=0)
    return out


def _pq_codes_udf(cb: np.ndarray):
    """Vectorized PQ encoder: embedding → M subspace codes
    (``_pq_codes_np`` over each Arrow batch)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes(emb: pd.Series) -> pd.Series:
        mat = np.stack(emb.to_numpy()).astype(np.float64)
        return pd.Series([row.tolist() for row in _pq_codes_np(mat, cb)])

    return codes


def _pq_train(embeddings: DataFrame, dim: int, m: int, kc: int) -> np.ndarray:
    """(M, K, dim/M) codebook: stride-sample init per subspace + ONE
    deterministic quantized Lloyd update (same integer-mean trick as
    ``_lloyd_step`` — the aggregation order cannot change the result, so
    the SQL oracle retrains bit-identically). Empty clusters keep their
    init centroid. The Lloyd sums are the only distributed stage:
    M·K·sub integer groups, map-side combined."""
    sub = dim // m
    init_rows = _collect_cents(_stride_centroids(embeddings, kc))
    if not init_rows:
        raise ValueError("PQ training found no stride-sample rows")
    # tiny corpora yield fewer stride rows than kc — degrade to what's
    # available (codes just span a smaller codebook)
    cb0 = np.array(
        [[[float(v) for v in vec[s * sub : (s + 1) * sub]] for _, vec in init_rows] for s in range(m)],
        dtype=np.float64,
    )
    coded = embeddings.select(
        "vec_id", "embedding", _pq_codes_udf(cb0)(F.col("embedding")).alias("codes")
    )
    subs = F.array(*[F.slice("embedding", s * sub + 1, sub) for s in range(m)])
    zipped = coded.select(
        F.posexplode(F.arrays_zip(F.col("codes").alias("code"), subs.alias("sv"))).alias("s", "z")
    )
    quant = F.transform(
        F.col("z.sv"),
        lambda x: F.floor(x.cast("double") * F.lit(float(_QUANT)) + F.lit(0.5)).cast("long"),
    )
    sums = (
        zipped.select("s", F.col("z.code").alias("code"), F.posexplode(quant).alias("pos", "qv"))
        .groupBy("s", "code", "pos")
        .agg(F.sum("qv").alias("sm"), F.count("*").alias("n"))
        .collect()
    )
    cb1 = cb0.copy()
    for r in sums:
        # same op order as _lloyd_step / the SQL oracle: (sum/n)/2^20
        cb1[r["s"], r["code"], r["pos"]] = float(r["sm"]) / float(r["n"]) / float(_QUANT)
    return cb1


def _pq_query_luts(
    embeddings: DataFrame, cb: np.ndarray, n_queries: int, m: int, sub: int
) -> DataFrame:
    """(query_id, q_emb, lut): per-query ADC lookup tables built
    DRIVER-SIDE over the collected query vectors (bounded control
    collect — queries are the small side by contract). lut[s][j] is the
    L2 between the query's s-th subvector and codebook entry (s, j),
    via the same ``l2_fold_np`` kernel the oracle's SQL fold mirrors."""
    from osm_lib_spark.functions.hashing import l2_fold_np

    q_rows = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in embeddings.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    probe_rows = []
    for qid, vec in q_rows:
        qv = np.asarray(vec, dtype=np.float64)
        lut = [
            [float(l2_fold_np(qv[s * sub : (s + 1) * sub].reshape(1, -1), cb[s, j])[0]) for j in range(cb.shape[1])]
            for s in range(m)
        ]
        probe_rows.append((qid, [float(v) for v in vec], lut))
    return local_frame(
        embeddings.sparkSession,
        probe_rows,
        "query_id long, q_emb array<double>, lut array<array<double>>",
    )


def _adc_expr(m: int):
    """ADC column: left-fold sum over subspaces of lut[s][codes[s]] —
    the float addition order matches the oracle's list_reduce."""
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(
            F.element_at(F.col("lut"), s + 1), F.col("codes").getItem(s) + 1
        )
    return adc


def _pq_rerank_tail(
    embeddings: DataFrame,
    scored: DataFrame,
    qemb: DataFrame,
    k: int,
    refine: int,
) -> DataFrame:
    """Shared PQ query tail: window-select the top ``refine`` ADC
    candidates per query, broadcast-join the tiny shortlist back onto
    the corpus for the exact-L2 rerank.

    ``scored`` must carry (query_id, vec_id, adc) ONLY — no embedding
    bytes through the per-query window shuffle. Full vectors are read
    again just for the ≤refine·Q finalists."""
    from osm_lib_spark.functions.hashing import l2_fold_col

    w1 = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    shortlist = (
        scored.select("query_id", "vec_id", "adc")
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= refine)
        .select("query_id", "vec_id")
    )
    exact = (
        embeddings.select("vec_id", "embedding")
        .join(F.broadcast(shortlist), "vec_id")
        .join(qemb.select("query_id", "q_emb"), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            l2_fold_col(F.col("embedding"), F.col("q_emb")).alias("l2"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("l2").asc(), F.col("neighbor_id").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
        )
    )


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
    64·4→4, a 64× memory cut), ADC scoring touches only codes + a
    broadcast (n_queries, M, K) LUT — no embedding bytes move for the
    scan phase; only the ``refine`` finalists per query read their full
    vectors. Codebook training is deterministically reproducible (see
    ``_pq_train``), so the DuckDB oracle retrains from scratch and must
    agree bit-for-bit; every ordering tie-breaks on vec_id.

    Sizing at real scale: M=8..16, K=256 (byte codes), trained on a
    sample, with an IVF coarse stage in front — ``ivf_pq_topk`` IS that
    composed standard pipeline; this operator is its inner full-corpus
    PQ scan + rerank.
    """
    dim = _dim_of(embeddings, dim)
    sub = dim // m
    cb = _pq_train(embeddings, dim, m, kc)
    coded = embeddings.select(
        "vec_id", _pq_codes_udf(cb)(F.col("embedding")).alias("codes")
    )
    probes = _pq_query_luts(embeddings, cb, n_queries, m, sub)
    # Scan phase is CODE-ONLY (see _pq_rerank_tail): the N×Q candidate
    # frame carries (query_id, vec_id, codes, adc), never the embedding.
    scored = (
        coded.crossJoin(probes.select("query_id", "lut"))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc", _adc_expr(m))
    )
    return _pq_rerank_tail(embeddings, scored, probes, k, refine)


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
    coarse IVF list assignment (map-only argmax over broadcast stride
    centroids, as in ``ivf_topk``) in FRONT of the PQ ADC scan, so the
    code scan touches only the ``nprobe/nlist`` probed fraction of the
    corpus instead of all N codes — then the shared exact-L2 rerank of
    the top ``refine`` ADC candidates per query.

    Plan shape at 100 TB: corpus never shuffles (assignment and PQ
    encoding are row-local over broadcast centroids/codebooks); the
    probe table (n_queries·nprobe rows) broadcast-joins on list_id; the
    only wide exchange is the per-query top-``refine`` window over
    code-only rows of the probed fraction. Memory per candidate row is
    M ints, a dim·8/M compression of the brute scan.

    With ``residual=True`` (the textbook FAISS IVFPQ and the gated
    configuration) the PQ codebooks are trained on — and vectors are
    encoded as — RESIDUALS against their assigned coarse centroid
    (r = x − c_list), and each query builds one ADC LUT PER PROBED LIST
    from (q − c_list). Residuals concentrate around the origin, so a
    codebook of the same size quantizes them far more finely than raw
    vectors — that, not just the pruned scan, is why IVF∘PQ is the
    standard pipeline. Residual subtraction is float64 element-wise
    (exact in both engines), so determinism is unaffected. The plan
    shape is identical; the broadcast LUT table grows from Q to
    Q·nprobe rows (still tiny).

    Both the IVF index (stride centroids) and the PQ codebooks (stride
    init + one quantized Lloyd step) are deterministically trainable,
    so the DuckDB oracle retrains the ENTIRE composed index from
    scratch and must agree bit-for-bit. Residual training runs on the
    driver when the corpus fits under
    ``spark.sql.autoBroadcastJoinThreshold``, else as Spark jobs (see
    ``_train_residual_ivf_pq``); the plain form always trains in Spark.
    """
    if residual:
        cents, cb, coded = _train_residual_ivf_pq(embeddings, nlist, dim, m, kc)
        return _query_residual_ivf_pq(
            embeddings, cents, cb, coded, k, n_queries, nprobe, refine
        )

    dim = _dim_of(embeddings, dim)
    sub = dim // m
    cents = _collect_cents(_stride_centroids(embeddings, nlist))
    cb = _pq_train(embeddings, dim, m, kc)
    coded = _assign_local(embeddings, cents).select(
        "vec_id", "list_id", _pq_codes_udf(cb)(F.col("embedding")).alias("codes")
    )
    probes = _pq_query_luts(embeddings, cb, n_queries, m, sub)
    plists = _probe_lists(embeddings, cents, n_queries, nprobe).select(
        "query_id", "list_id"
    )
    # each vector lives in exactly one list and probes are distinct
    # per (query, list), so the join yields each (query, vec) at
    # most once
    scored = (
        coded.join(plists, "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(probes.select("query_id", "lut"), "query_id")
        .withColumn("adc", _adc_expr(m))
    )
    return _pq_rerank_tail(embeddings, scored, probes, k, refine)


# An embedding of unknown dim is sized as this many float32s by the
# bounded collect of residual IVF-PQ training.
TRAIN_DIM_BOUND = 1024


def _train_residual_ivf_pq(
    embeddings: DataFrame, nlist: int, dim: int | None, m: int, kc: int
):
    """Train the residual IVF∘PQ index → (cents, cb, coded).

    Coarse quantizer is the Lloyd-REFINED centroid set (as in
    ``ivf_kmeans_topk`` — residuals only quantize finely when the
    centroids actually center their lists; measured on the fixture:
    residual-over-stride was WORSE than plain, residual-over-kmeans is
    at-or-above parity, and real clustered embeddings gain far more),
    then assignment + residual, PQ trained/encoded on the residuals.
    Deterministic end to end (stride init + integer-quantized Lloyd
    means), so train-once and retrain produce the identical index.

    Where it runs: (vec_id, embedding) rows that fit under
    ``spark.sql.autoBroadcastJoinThreshold`` (at 4·dim + 8 bytes a row,
    dim taken as TRAIN_DIM_BOUND when the caller does not give it) are
    collected once and trained on the driver with the same numpy
    kernels as the Arrow UDFs, bit-identically; ``coded`` is then a
    LocalRelation. A larger corpus trains as Spark jobs: stride
    collects, a distributed Lloyd step, PQ sums.
    """
    emb = embeddings.select("vec_id", "embedding").localCheckpoint(eager=False)
    table = collect_bounded(emb, 8 + 4 * (dim or TRAIN_DIM_BOUND))
    if table is None:
        dim = _dim_of(emb, dim)
        stride = _collect_cents(_stride_centroids(emb, nlist))
        cents = _collect_cents(
            _lloyd_step(_assign_local(emb, stride)).select("list_id", "c_emb")
        )
        resid = _assign_residual(emb, cents)
        resid_as_emb = resid.select("vec_id", F.col("residual").alias("embedding"))
        cb = _pq_train(resid_as_emb, dim, m, kc)
        coded = resid.select(
            "vec_id", "list_id", _pq_codes_udf(cb)(F.col("residual")).alias("codes")
        )
        return cents, cb, coded

    vec_id = table.column("vec_id").to_numpy()
    rows = table.column("embedding").combine_chunks()
    lengths = pc.list_value_length(rows).to_numpy(zero_copy_only=False)
    if len(rows) == 0 or lengths.min() != lengths.max():
        raise ValueError("residual IVF-PQ training needs non-empty, equal-length embeddings")
    mat = rows.flatten().to_numpy().astype(np.float64).reshape(len(rows), -1)
    dim = dim if dim is not None else mat.shape[1]

    # coarse quantizer: stride init, one Lloyd step (empty lists drop out)
    stride = _stride_rows(vec_id, mat, nlist)
    if not stride:
        raise ValueError("IVF training found no stride-sample rows")
    idx = _nearest_np(mat, np.array([v for _, v in stride]))
    cmat, members = _quantized_means(mat, idx, len(stride))
    list_ids = np.array([lid for lid, _ in stride], dtype=np.int32)[members]
    cents = [(int(lid), c.tolist()) for lid, c in zip(list_ids, cmat)]
    idx = _nearest_np(mat, cmat)
    resid = mat - cmat[idx]

    # PQ codebooks on the residuals: stride init, one Lloyd step (a code
    # with no members keeps its init value)
    init_rows = _stride_rows(vec_id, resid, kc)
    if not init_rows:
        raise ValueError("PQ training found no stride-sample rows")
    sub = dim // m
    cb = np.array(
        [[vec[s * sub : (s + 1) * sub] for _, vec in init_rows] for s in range(m)],
        dtype=np.float64,
    )
    codes = _pq_codes_np(resid, cb)
    for s in range(m):
        means, members = _quantized_means(resid[:, s * sub : (s + 1) * sub], codes[:, s], cb.shape[1])
        cb[s, members] = means
    codes = _pq_codes_np(resid, cb)
    coded = local_frame(
        embeddings.sparkSession,
        pa.table(
            [
                vec_id,
                list_ids[idx],
                pa.ListArray.from_arrays(
                    np.arange(0, codes.size + 1, m, dtype=np.int32), codes.ravel()
                ),
            ],
            names=["vec_id", "list_id", "codes"],
        ),
        "vec_id long, list_id int, codes array<int>",
    )
    return cents, cb, coded


def _stride_rows(vec_id: np.ndarray, mat: np.ndarray, n: int) -> list:
    """``_collect_cents(_stride_centroids(...))`` over driver arrays:
    [(list_id, vec)] for vec_id = list_id·IVF_STRIDE < n·IVF_STRIDE,
    sorted."""
    sel = (vec_id % IVF_STRIDE == 0) & (vec_id < n * IVF_STRIDE)
    return sorted(
        (int(v) // IVF_STRIDE, row.tolist()) for v, row in zip(vec_id[sel], mat[sel])
    )


def _quantized_means(x: np.ndarray, labels: np.ndarray, k: int):
    """(means, members): ``_lloyd_step``'s integer-quantized per-label
    means of the rows of ``x`` — floor(x·2²⁰ + 0.5) summed as int64,
    then (sum/n)/2²⁰ — for the labels in 0..k-1 that have members
    (``members`` is that boolean mask; ``means`` has one row each)."""
    q = np.floor(x * float(_QUANT) + 0.5).astype(np.int64)
    sums = np.zeros((k, x.shape[1]), dtype=np.int64)
    np.add.at(sums, labels, q)
    n = np.bincount(labels, minlength=k)
    members = n > 0
    means = sums[members].astype(np.float64) / n[members, None].astype(np.float64) / float(_QUANT)
    return means, members


def _query_residual_ivf_pq(
    embeddings: DataFrame,
    cents: list,
    cb: np.ndarray,
    coded: DataFrame,
    k: int,
    n_queries: int,
    nprobe: int,
    refine: int,
    prune_lists: bool = False,
) -> DataFrame:
    """Query half of residual IVF∘PQ: one ADC LUT per (query, probed
    list) from (q − c_list), code-only scan of the probed lists, shared
    exact-L2 rerank. With ``prune_lists`` the probed list_ids are also
    applied as a LITERAL filter — against a ``list_id``-partitioned
    codes table this prunes unprobed partitions at the SCAN (the
    persisted-index serving path), whereas the broadcast join alone
    would read all codes."""
    from osm_lib_spark.functions.hashing import l2_fold_np

    spark = embeddings.sparkSession
    dim = len(cents[0][1])
    m = cb.shape[0]
    sub = dim // m
    q_rows, pairs = _probe_list_rows(embeddings, cents, n_queries, nprobe)
    cmap = {lid: np.asarray(v, dtype=np.float64) for lid, v in cents}
    lut_rows = []
    for qid, lid, vec in pairs:
        qr = np.asarray(vec, dtype=np.float64) - cmap[lid]
        lut = [
            [float(l2_fold_np(qr[s * sub : (s + 1) * sub].reshape(1, -1), cb[s, j])[0]) for j in range(cb.shape[1])]
            for s in range(m)
        ]
        lut_rows.append((qid, lid, lut))
    probes_lut = local_frame(
        spark, lut_rows, "query_id long, list_id int, lut array<array<double>>"
    )
    qemb = local_frame(
        spark,
        [(qid, [float(v) for v in vec]) for qid, vec in q_rows],
        "query_id long, q_emb array<double>",
    )
    if prune_lists:
        probed_lids = sorted({lid for _, lid, _ in pairs})
        coded = coded.where(F.col("list_id").isin(probed_lids))
    scored = (
        coded.join(probes_lut, "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc", _adc_expr(m))
    )
    return _pq_rerank_tail(embeddings, scored, qemb, k, refine)


def _encode_ivf_pq(embeddings: DataFrame, cents: list, cb: np.ndarray) -> DataFrame:
    """Encode vectors against FROZEN index artifacts: row-local coarse
    assignment + residual (one Arrow kernel) then PQ codes — map-only,
    no shuffle, so encoding scales with input splits alone. Shared by
    the build (codes pass), sample-trained builds, and incremental
    appends."""
    resid = _assign_residual(embeddings, cents)
    return resid.select(
        "vec_id", "list_id", _pq_codes_udf(cb)(F.col("residual")).alias("codes")
    )


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

    Training runs on the driver when the training frame fits under
    ``spark.sql.autoBroadcastJoinThreshold`` and as Spark jobs when it
    does not (``_train_residual_ivf_pq``); both give the same bits.
    """
    import json as _json
    import os as _os

    spark = embeddings.sparkSession
    train_frame = train_on if train_on is not None else embeddings
    cents, cb, coded = _train_residual_ivf_pq(train_frame, nlist, dim, m, kc)
    dim = dim if dim is not None else len(cents[0][1])
    if train_on is not None:
        coded = _encode_ivf_pq(embeddings, cents, cb)
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
    return _query_residual_ivf_pq(
        embeddings, cents, cb, coded, k, n_queries, nprobe, refine, prune_lists=True
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
    if _dim_of(new_embeddings, None) != meta["dim"]:
        raise ValueError(
            f"embedding dim {_dim_of(new_embeddings, None)} != index dim {meta['dim']}"
        )
    _encode_ivf_pq(new_embeddings, cents, cb).write.mode("append").partitionBy(
        "list_id"
    ).parquet(_os.path.join(path, "codes"))
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
