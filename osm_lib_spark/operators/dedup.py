"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine additions for the training-data pipeline. Design notes per
operator (scale-first):

* exact         — one hash aggregate on md5(text); fully shuffled
                  partial+final agg, no skew (md5 keys are uniform).
* minhash_lsh   — shingle → 60-bit md5 hashes → P permutations
                  ((a_i·h + b_i) mod prime) folded with array_min, ALL
                  in Column expressions (no Python); band keys explode
                  → self-equi-join on (band, band_sig) → candidate
                  pairs → exact-Jaccard verify. The band join is the
                  only quadratic-risk step and it only pairs docs that
                  collide in a band — the standard LSH bound.
* simhash       — 60-bit sign-vote fingerprint in Column expressions;
                  near-dups = equal 15-hex-digit prefix bands (cheap
                  grouping analog of hamming-distance buckets).
* ngram_jaccard — EXACT threshold-Jaccard with prefix filtering
                  (PPJoin-style): shingles are globally ordered by
                  ascending document frequency; a pair with J ≥ t must
                  share its globally-smallest common shingle inside
                  BOTH docs' prefixes of length |d| − ⌈t·|d|⌉ + 1, so
                  the self-join runs only over prefixes — hot
                  stop-phrase shingles sort last and never enter a
                  prefix, killing the 10⁶-doc-shingle quadratic
                  blow-up while provably returning the identical
                  result set (the DuckDB oracle re-derives the naive
                  join independently and must hash-match).

Pair verification (minhash + ngram) joins candidate pairs to each
doc's SORTED SHINGLE-SET ARRAY (two uniform doc_id hash joins) and
computes |A∩B| with ``array_intersect`` in codegen — join cardinality
equals the candidate count, never candidates × postings, so one hot
shingle can no longer multiply the verify stage.

All integer arithmetic is md5-prefix based (functions.hashing) so
DuckDB/numpy oracles agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_lib_spark.functions.hashing import md5_int_col
from osm_lib_spark.operators.graph import min_label_components
from osm_lib_spark.session import collect_bounded, local_frame

MINHASH_PRIME = (1 << 31) - 1  # Mersenne; a_i·h + b_i stays < 2^62
# Defaults are TEST-scale. The LSH S-curve threshold is t ≈ (1/b)^(1/r)
# with r = num_perm/num_bands rows per band: 32 perms / 8 bands → r=4,
# t ≈ 0.59 — right for the 0.5-Jaccard gates here. A 100-TB corpus run
# wants num_perm=128, num_bands=16 (r=8, t ≈ 0.71, far fewer false
# candidates — candidate volume, not signature cost, dominates at
# scale) and a larger SHINGLE_N (5-gram words) so boilerplate shingles
# don't saturate buckets. All are plumbed as per-call arguments; the
# banded-join plan shape is unchanged at any setting.
NUM_PERM = 32
NUM_BANDS = 8  # 4 rows per band
SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
MAX_COMPONENT_ITERATIONS = 50  # label-propagation rounds (Spark path only)
PAIR_ROW_BYTES = 16  # (doc_a, doc_b): two longs


def _perm_coeffs(num_perm: int = NUM_PERM, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic permutation coefficients (odd a, any b), seed-fixed."""
    rng = np.random.default_rng(seed)
    a = (rng.integers(1, MINHASH_PRIME, size=num_perm, dtype=np.int64) | 1).tolist()
    b = rng.integers(0, MINHASH_PRIME, size=num_perm, dtype=np.int64).tolist()
    return a, b


def shingles_col(text, n: int = SHINGLE_N):
    """Distinct word n-gram shingles of a text column (array<string>)."""
    toks = F.split(F.trim(text), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(grams)


def exact_duplicates(documents: DataFrame, min_count: int = 2) -> DataFrame:
    """(text_md5, n_dups, keep_id): content groups by exact text;
    keep_id = min doc_id (the canonical survivor). min_count=2 lists
    duplicate groups only; min_count=1 is the full dedup table."""
    return (
        documents.groupBy(F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_dups") >= min_count)
    )


def minhash_signatures(documents: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, sig: array<long>) — all JVM-side; one pass over shingles.

    sig_i = min over shingles s of (a_i·h60(s) + b_i) mod prime, with
    h60(s) reduced mod prime first so products fit in int64.
    """
    a, b = _perm_coeffs(num_perm)
    a_arr = F.array(*[F.lit(x) for x in a])
    b_arr = F.array(*[F.lit(x) for x in b])
    sh = shingles_col(F.col("text"))
    hashes = F.transform(sh, lambda s: md5_int_col(s, 15) % MINHASH_PRIME)
    # Materialization barrier: without it CollapseProject inlines the
    # md5 hash array into EVERY permutation lambda (num_perm× md5 per
    # shingle) and later consumers inline the whole signature again —
    # measured 50× slowdown. localCheckpoint cuts the logical plan so
    # hashes are computed once per row.
    hashed = documents.select("doc_id", hashes.alias("h")).localCheckpoint(eager=True)
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("h"),
                lambda h: (F.element_at(a_arr, i + 1) * h + F.element_at(b_arr, i + 1))
                % MINHASH_PRIME,
            )
        ),
    )
    return hashed.select("doc_id", sig.alias("sig"))


def _band_table(
    documents: DataFrame, num_perm: int = NUM_PERM, num_bands: int = NUM_BANDS
) -> DataFrame:
    """(doc_id, band, band_sig): each doc's LSH band keys. Band key is
    the band's signature slice rendered as a string (exact, no
    second-level hashing). Banding happens INSIDE the same projection
    as the signature (the transform references `sig` as a lambda
    variable, so it is computed once per row — no second
    materialization barrier needed; the only eager checkpoint is the
    md5 hash array inside minhash_signatures)."""
    rows = num_perm // num_bands
    sigs = minhash_signatures(documents, num_perm)
    band_of = lambda sig_col: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda bnd: F.array_join(
            F.transform(
                F.slice(sig_col, bnd * rows + 1, rows), lambda v: v.cast("string")
            ),
            ",",
        ),
    )
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(F.array(F.col("sig")), band_of).getItem(0)
        ).alias("band", "band_sig"),
    )


def minhash_candidate_pairs(
    documents: DataFrame, num_perm: int = NUM_PERM, num_bands: int = NUM_BANDS
) -> DataFrame:
    """LSH banding: docs sharing any band signature → candidate pairs
    (doc_a < doc_b)."""
    bands = _band_table(documents, num_perm, num_bands)
    left = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_sig")
    # pure equi-join on (band, band_sig) — the doc_a < doc_b predicate is
    # a post-filter, NOT part of the join condition, so Catalyst plans a
    # hash join (folding it in can demote the plan to a nested loop)
    return (
        left.join(right, ["band", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _shingle_sets(documents: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, sh_set): each doc's sorted distinct-shingle array."""
    return documents.select(
        "doc_id", F.sort_array(shingles_col(F.col("text"), n)).alias("sh_set")
    )


def _verify_pairs(
    cands: DataFrame,
    sets: DataFrame,
    threshold: float,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verify of candidate pairs against shingle-set
    arrays: two uniform doc_id hash joins + ``array_intersect`` in
    codegen. Per-pair cost is O(|A|+|B|); the join cardinality is the
    candidate count — a hot shingle cannot multiply it (the old
    candidates × exploded-postings join could).

    The set table is semi-join pruned to docs that actually appear in
    a candidate pair, then lazily checkpointed: only candidate docs'
    shingle arrays materialize, ONCE, instead of shingling the whole
    corpus twice (once per join side) — at 10⁹ docs with ~10³
    candidates this is the difference between touching everything and
    touching nothing.
    """
    cands = cands.localCheckpoint(eager=False)
    side_b = sets_b if sets_b is not None else sets
    a_ids = cands.select(F.col("doc_a").alias("doc_id")).distinct()
    b_ids = cands.select(F.col("doc_b").alias("doc_id")).distinct()
    if sets_b is None:
        cand_ids = a_ids.unionByName(b_ids).distinct()
        sets = sets.join(cand_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
        side_b = sets
    else:
        sets = sets.join(a_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
        side_b = side_b.join(b_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"))
    b = side_b.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).cast("long").alias("inter"),
            F.size("set_a").cast("long").alias("size_a"),
            F.size("set_b").cast("long").alias("size_b"),
        )
        .where(
            F.col("inter")
            >= F.lit(threshold) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
        .select("doc_a", "doc_b", "inter", "size_a", "size_b")
    )


def minhash_dup_pairs(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Candidates verified by EXACT shingle Jaccard ≥ threshold.

    LSH only prunes, it never decides: every banded candidate pair is
    re-checked against the true shingle sets (``_verify_pairs``).
    Output: (doc_a, doc_b, inter, size_a, size_b), ints only.
    """
    cands = minhash_candidate_pairs(documents)  # _verify_pairs checkpoints
    return _verify_pairs(cands, _shingle_sets(documents), threshold)


def dup_components(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """(doc_id, component_id, keep): connected components over the
    verified MinHash duplicate graph — the keep-one-per-cluster step a
    dedup pipeline actually ships. component_id = min doc_id in the
    component (deterministic canonical survivor); keep = 1 iff this doc
    IS the survivor. Docs in no duplicate pair are their own singleton
    component (keep = 1).

    The result is the unique fixpoint of min-label propagation —
    independent of how it is computed, which is what lets the DuckDB
    oracle recompute it with a recursive CTE. Where it runs follows
    the pair set's size, as in ``components_from_pairs``: pairs that fit
    under ``spark.sql.autoBroadcastJoinThreshold`` are collected once
    and solved on the driver by numpy hooking and pointer jumping;
    larger ones run the distributed label-propagation loop, whose rounds
    grow with the graph's diameter (LSH dup clusters are near-cliques,
    so 2-3 in practice). A graph too large to collect AND too
    long-chained for that loop wants the alternating large-star /
    small-star formulation (same join shape, O(log n) rounds).
    """
    # the pairs come from ``documents``, so both endpoints are documents
    # already: skip components_from_pairs' semi-joins (two broadcast jobs)
    pairs = minhash_dup_pairs(documents, threshold).select("doc_a", "doc_b")
    return _components(documents, pairs)


def components_from_pairs(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components over an arbitrary (doc_a, doc_b) undirected
    pair table — the reusable core of ``dup_components`` (any of the
    dedup pair generators can feed it). One output row per
    ``documents`` row; pairs naming a doc outside ``documents`` are
    dropped, so every component has exactly one ``keep = 1`` row.

    Pairs that fit under ``spark.sql.autoBroadcastJoinThreshold``
    (``session.collect_bounded``) are solved by
    ``graph.min_label_components`` on the driver. Larger ones run
    label propagation in Spark: one shuffle join + partial-agg min per
    round, localCheckpointed so the plan stays O(1) across rounds,
    raising ``ValueError`` if MAX_COMPONENT_ITERATIONS rounds do not
    reach the fixpoint.
    """
    ids = documents.select("doc_id")
    # lazy semi-joins: they run inside the bounded collect's plan
    pairs = pairs.join(ids, F.col("doc_a") == ids.doc_id, "left_semi").join(
        ids, F.col("doc_b") == ids.doc_id, "left_semi"
    )
    return _components(documents, pairs)


def _components(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """``components_from_pairs`` over pairs whose endpoints are all in
    ``documents``."""
    # lazy checkpoint: the loop reuses what the bounded collect materialized
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    table = collect_bounded(pairs, PAIR_ROW_BYTES)
    if table is not None:
        doc_id, comp = min_label_components(
            table.column(0).to_numpy(zero_copy_only=False),
            table.column(1).to_numpy(zero_copy_only=False),
        )
        labels = local_frame(
            documents.sparkSession,
            pa.table([doc_id, comp], names=["doc_id", "comp"]),
            "doc_id long, comp long",
        )
    else:
        labels = _propagate_labels(pairs)
    return (
        documents.join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("comp", "doc_id").alias("component_id"))
        .withColumn("keep", (F.col("doc_id") == F.col("component_id")).cast("long"))
    )


def _propagate_labels(pairs: DataFrame) -> DataFrame:
    """(doc_id, comp) for the docs in some pair: min-label propagation
    to fixpoint, one Spark round per step."""
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)
    )
    # Iterate ONLY over docs that appear in some pair: a doc with no
    # edge has no neighbor, so its label can never change. Edge docs are
    # the duplicate-graph vertices (≪ corpus at scale); the corpus joins
    # once, in _components, to label the untouched singletons.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(MAX_COMPONENT_ITERATIONS):
        neigh = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst"))
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = (
            labels.join(neigh, labels.doc_id == neigh.dst, "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce("ncomp", "comp")).alias("comp"),
                (F.coalesce("ncomp", "comp") < F.col("comp")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        converged = stepped.where(F.col("_chg")).limit(1).count() == 0
        labels = stepped.drop("_chg")
        if converged:
            return labels
    raise ValueError(
        f"components did not converge in {MAX_COMPONENT_ITERATIONS} rounds"
    )


def simhash(documents: DataFrame, bits: int = 60) -> DataFrame:
    """(doc_id, simhash) — sign-vote over token 60-bit hashes.

    bit_j = 1 iff Σ_tokens (2·bit_j(h(t)) − 1) > 0. Duplicate tokens
    vote multiply (standard simhash weighting by term frequency).
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    hashes = F.transform(toks, lambda t: md5_int_col(t, 15))
    # SINGLE fold over the token hashes producing the full vote array:
    # acc[j] += bit_j(h) ? 1 : −1 via zip_with against a literal bit-
    # mask array (F.shiftright needs a literal shift, masks don't).
    # The old form ran `bits` separate F.aggregate folds — O(bits·T)
    # passes and a huge plan; this is one O(T) pass.
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    # fingerprint = Σ over j of (votes[j] > 0 ? 2^j : 0) — one more fold
    sim = F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    return documents.select("doc_id", sim.alias("simhash"))


def simhash_bucket_pairs(documents: DataFrame, prefix_hex: int = 8) -> DataFrame:
    """Near-dup candidates: equal high-prefix simhash bucket join.

    (The hamming-ball expansion is a multi-probe refinement; prefix
    bucketing is the scale-path first stage.)
    """
    s = simhash(documents).withColumn(
        "bucket", F.shiftright(F.col("simhash"), 60 - prefix_hex * 4)
    )
    a = s.select(F.col("doc_id").alias("doc_a"), "bucket", F.col("simhash").alias("sim_a"))
    b = s.select(F.col("doc_id").alias("doc_b"), "bucket", F.col("simhash").alias("sim_b"))
    return (
        a.join(b, ["bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
    )


def simhash_hamming_pairs(
    documents: DataFrame, max_hamming: int = 3, n_bands: int = 4, bits: int = 60
) -> DataFrame:
    """EXACT Hamming-ball near-dup pairs over simhash fingerprints.

    Pigeonhole banding: split the ``bits``-bit fingerprint into
    ``n_bands`` contiguous bands; two fingerprints within Hamming
    distance ``max_hamming ≤ n_bands − 1`` must agree EXACTLY on at
    least one band (d differing bits can dirty at most d bands), so the
    band equi-join loses nothing. Exact ``bit_count(a ^ b)`` verifies —
    banding only prunes. Output: (doc_a, doc_b, hamming).
    """
    if max_hamming > n_bands - 1:
        raise ValueError("exactness needs max_hamming <= n_bands - 1")
    rows = bits // n_bands
    s = simhash(documents, bits)
    band_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), bnd * rows).bitwiseAND(
                F.lit((1 << rows) - 1)
            )
            for bnd in range(n_bands)
        ]
    )
    banded = s.select(
        "doc_id", "simhash", F.posexplode(band_arr).alias("band", "band_sig")
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "band_sig"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "band_sig"
    )
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_prefix_candidates(
    documents: DataFrame, n: int = SHINGLE_N, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Candidate pairs under EXACT prefix filtering (PPJoin-style).

    Global shingle order = ascending (document frequency, shingle).
    Each doc keeps only its first ``|d| − ⌈t·|d|⌉ + 1`` shingles in
    that order; the self-join runs on prefixes only.

    Exactness: if J(A,B) ≥ t, let s be the globally-smallest common
    shingle. If s were outside A's prefix, every common shingle would
    lie in A's suffix of ⌈t·|A|⌉ − 1 elements (anything before s in
    A's order is non-common by minimality of s), so |A∩B| ≤
    ⌈t·|A|⌉ − 1 < t·|A| — contradicting |A∩B| ≥ t·|A∪B| ≥ t·|A|. The
    same holds for B, so s is in BOTH prefixes and the equi-join finds
    the pair. Hot shingles have maximal document frequency, sort last,
    and never enter a prefix — the skew cap falls out of correctness
    rather than fighting it.
    """
    from pyspark.sql import Window

    sh = documents.select(
        "doc_id", F.explode(shingles_col(F.col("text"), n)).alias("shingle")
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("dfreq"))
    w_doc = Window.partitionBy("doc_id").orderBy("dfreq", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("doc_id", "shingle")
    a = prefix.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = prefix.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = SHINGLE_N, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold.

    Prefix-filtered candidate generation (provably lossless — see
    ``ngram_prefix_candidates``) + exact array-intersect verify. The
    DuckDB oracle recomputes the NAIVE full shingle self-join
    independently; both must produce the identical pair set.
    """
    cands = ngram_prefix_candidates(documents, n, threshold)
    return _verify_pairs(cands, _shingle_sets(documents, n), threshold)


# ---------------------------------------------------------------------------
# Persisted MinHash index — incremental (batch-vs-corpus) dedup
# ---------------------------------------------------------------------------


def build_minhash_index(
    documents: DataFrame,
    path: str,
    num_perm: int = NUM_PERM,
    num_bands: int = NUM_BANDS,
    shingle_n: int = SHINGLE_N,
) -> dict:
    """Persist the corpus's LSH structures once so each future ingest
    batch dedups AGAINST the corpus without re-shingling it:

        path/bands/     (doc_id, band, band_sig)
        path/shingles/  (doc_id, sh_set)   range-partitioned+sorted by
                                           doc_id → per-file min/max
                                           skipping for the verify probe
        path/index_meta.json

    At 100 TB both are Iceberg tables; bands/ bucketed on
    (band, band_sig) co-locates the probe join, shingles/ keeps the
    doc_id sort for file skipping. The parquet layout here preserves
    the same pruning structure without a metastore.
    """
    import json as _json
    import os as _os

    _band_table(documents, num_perm, num_bands).write.mode("overwrite").parquet(
        _os.path.join(path, "bands")
    )
    sets = _shingle_sets(documents, shingle_n)
    sets.repartitionByRange(documents.sparkSession.sparkContext.defaultParallelism, "doc_id").sortWithinPartitions("doc_id").write.mode(
        "overwrite"
    ).parquet(_os.path.join(path, "shingles"))
    meta = {"num_perm": num_perm, "num_bands": num_bands, "shingle_n": shingle_n}
    with open(_os.path.join(path, "index_meta.json"), "w") as f:
        _json.dump(meta, f)
    return meta


def dedup_batch_against_index(
    batch: DataFrame, path: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """Verified duplicate pairs between an ingest batch and a PERSISTED
    corpus index: (doc_a = batch doc, doc_b = corpus doc, inter,
    size_a, size_b with exact Jaccard ≥ threshold).

    The batch is shingled/banded fresh (it is the small side); the
    corpus contributes only its persisted band table to the candidate
    equi-join and only the candidate corpus docs' shingle files to the
    verify (semi-join pruned, exactly `_verify_pairs`' one-sided
    guarantee applied per side). Corpus text is never touched — the
    steady-state ingest cost is O(batch) + O(collisions), independent
    of corpus size. Batch-internal dups are `minhash_dup_pairs(batch)`;
    re-ingested doc_ids pair with themselves and are excluded.
    """
    import json as _json
    import os as _os

    spark = batch.sparkSession
    with open(_os.path.join(path, "index_meta.json")) as f:
        meta = _json.load(f)
    corpus_bands = spark.read.parquet(_os.path.join(path, "bands"))
    batch_bands = _band_table(batch, meta["num_perm"], meta["num_bands"])
    cands = (
        batch_bands.select(F.col("doc_id").alias("doc_a"), "band", "band_sig")
        .join(
            corpus_bands.select(F.col("doc_id").alias("doc_b"), "band", "band_sig"),
            ["band", "band_sig"],
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    corpus_sets = spark.read.parquet(_os.path.join(path, "shingles"))
    return _verify_pairs(
        cands,
        _shingle_sets(batch, meta["shingle_n"]),
        threshold,
        sets_b=corpus_sets,
    )


def append_to_minhash_index(batch: DataFrame, path: str) -> dict:
    """Add an ingest batch (typically the post-dedup survivors) to the
    persisted index: band + shingle rows append as new files with the
    corpus untouched — the same shuffle-free ingest contract as
    ``append_to_ivf_pq_index``. Caller owns doc_id uniqueness."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "index_meta.json")) as f:
        meta = _json.load(f)
    _band_table(batch, meta["num_perm"], meta["num_bands"]).write.mode(
        "append"
    ).parquet(_os.path.join(path, "bands"))
    _shingle_sets(batch, meta["shingle_n"]).write.mode("append").parquet(
        _os.path.join(path, "shingles")
    )
    return meta
