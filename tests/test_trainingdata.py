"""Training-data operators: hand-checked unit tests + recall checks.

These pin the ALGORITHM definitions on tiny inputs (the DuckDB oracles
of jobs/check_correctness.py check the distributed execution of the
same algorithms at sf0.01).
"""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_lib_spark.functions.hashing import (
    cosine_fold_np,
    md5_int_py,
)
from osm_lib_spark.operators.dedup import (
    exact_duplicates,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from osm_lib_spark.operators.multimodal import decode_media_features, media_catalog
from osm_lib_spark.operators.similarity import ann_lsh_topk, cosine_topk
from osm_lib_spark.operators.text import (
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)
from osm_lib_spark.functions.hashing import FP_BASE, MOD_FP


@pytest.fixture(scope="module")
def tiny_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog"),  # near dup
        (4, "completely different content about spark engines"),
        (5, "el perro y el gato en la casa de los vecinos"),  # spanish-ish
        (6, "x"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(tiny_docs):
    got = exact_duplicates(tiny_docs).collect()
    assert len(got) == 1
    assert got[0].n_dups == 2 and got[0].keep_id == 1
    assert got[0].text_md5 == hashlib.md5(
        b"the quick brown fox jumps over the lazy dog"
    ).hexdigest()


def test_minhash_finds_near_dups(tiny_docs):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_dup_pairs(tiny_docs).collect()}
    assert (1, 2) in pairs  # identical docs always collide and verify
    assert all(a < b for a, b in pairs)
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_both_paths(spark, tiny_docs):
    """The driver pipeline (shingle rows under the threshold) and the
    Spark one (threshold -1) give the same band rows, pairs and
    components, on tiny_docs and on blank and whitespace texts: null
    texts pair with each other under band key "", "" and space-only
    texts pair with each other but not with null ones, a tab splits
    tokens and an NBSP does not; a doc_id on two rows stays two rows,
    each with its own band keys and shingle set, and a candidate pair is
    verified against every row of its two doc_ids (the union of doc 1's
    rows would give (1, 2, 2, 4, 2))."""
    from osm_lib_spark.operators.dedup import _band_table, dup_components
    from tests.conftest import both_paths

    hand = spark.createDataFrame(
        [
            (1, None), (2, None), (3, ""), (4, "   "),
            (5, "a\tb c d"), (6, "a b c d"), (7, "a\u00a0b c d"), (8, "a\u00a0b c d"),
            (9, "\ta b c"), (10, "a b c\t"), (11, "a b c"),
        ],
        "doc_id long, text string",
    )
    repeat = spark.createDataFrame(
        [(1, "a b c d"), (1, "x y z w"), (2, "a b c d"), (3, "x y z w")],
        "doc_id long, text string",
    )
    got = {}
    for name, docs in (("tiny", tiny_docs), ("hand", hand), ("repeat", repeat)):
        for fn in (_band_table, minhash_dup_pairs, dup_components):
            assert "LocalRelation" in fn(docs)._jdf.queryExecution().analyzed().toString()
            driver, cluster = both_paths(spark, lambda: sorted(map(tuple, fn(docs).collect())))
            assert driver == cluster != [], (name, fn.__name__)
            got[name, fn.__name__] = driver
    keys = {(d, band): key for d, band, key in got["hand", "_band_table"]}
    assert keys[1, 0] == keys[2, 0] == "" != keys[3, 0] == keys[4, 0]
    assert got["hand", "minhash_dup_pairs"] == [
        (1, 2, 1, 1, 1), (3, 4, 1, 1, 1), (5, 6, 2, 2, 2), (5, 11, 1, 2, 1),
        (6, 11, 1, 2, 1), (7, 8, 1, 1, 1), (9, 11, 1, 2, 1), (10, 11, 1, 2, 1),
    ]
    assert [c for _, c, _ in got["hand", "dup_components"]] == [1, 1, 3, 3, 5, 5, 7, 7, 5, 5, 5]
    assert (1, 2, 7, 7, 7) in got["tiny", "minhash_dup_pairs"]
    assert len(got["repeat", "_band_table"]) == 4 * 8
    assert got["repeat", "minhash_dup_pairs"] == [(1, 2, 2, 2, 2), (1, 3, 2, 2, 2)]
    assert got["repeat", "dup_components"] == [(1, 1, 1), (1, 1, 1), (2, 1, 0), (3, 1, 0)]


def test_minhash_null_doc_id_rejected(spark):
    """A documents row with a null doc_id fails before the band kernel
    with the same message on both paths (the kernel raised a pyarrow
    ArrowInvalid from its task): a ValueError on the driver, and the
    error Spark raises from the task's projection over the threshold."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from osm_lib_spark.operators.dedup import dup_components
    from tests.conftest import threshold

    docs = spark.createDataFrame(
        [(1, "a b c d"), (None, "a b c d"), (3, "x y z w"), (None, "x y z w"),
         (5, "p q r s"), (6, "p q r s"), (7, "u v w")],
        "doc_id long, text string",
    )
    message = "MinHash dedup needs a non-null doc_id"
    for fn in (minhash_dup_pairs, dup_components):
        with pytest.raises(ValueError, match=message):
            fn(docs)
        with threshold(spark, "-1"), pytest.raises((Py4JJavaError, SparkRuntimeException), match=message):
            fn(docs).collect()


def test_minhash_candidate_bound_falls_back(spark):
    """Shingle rows under the threshold whose band buckets hold more
    candidate pairs than fit (blank and identical texts share every
    band key) run the Spark pipeline, with the rows of threshold -1."""
    from osm_lib_spark.operators.dedup import _collect_shingles, _driver_dup_pairs, dup_components
    from tests.conftest import threshold

    docs = spark.createDataFrame(
        [(i, "" if i < 20 else "a b c d e") for i in range(40)], "doc_id long, text string"
    )
    # 80 shingle rows (3.2 kB) fit; Σ k(k−1)/2 = 2 · 8 · 190 pairs (146 kB) do not
    with threshold(spark, "10000"):
        assert _collect_shingles(docs) is not None and _driver_dup_pairs(docs, 0.5) is None
        pairs = minhash_dup_pairs(docs)
        assert "LocalRelation" not in pairs._jdf.queryExecution().analyzed().toString()
        got = sorted(map(tuple, pairs.collect())), sorted(map(tuple, dup_components(docs).collect()))
    with threshold(spark, "-1"):
        want = sorted(map(tuple, minhash_dup_pairs(docs).collect())), sorted(
            map(tuple, dup_components(docs).collect())
        )
    assert got == want
    assert len(got[0]) == 2 * 190
    assert {c for _, c, _ in got[1]} == {0, 20}


def test_ngram_jaccard_exact_values(tiny_docs):
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.size_a, r.size_b)
        for r in ngram_jaccard_pairs(tiny_docs, threshold=0.3).collect()
    }
    # doc1/doc2 identical: 7 distinct 3-gram shingles each, all shared
    assert got[(1, 2)] == (7, 7, 7)
    # doc1/doc3 differ in one word (token 6 of 9): windows 0-3 of 0-6 shared
    # → Jaccard 4/10 = 0.4: included at 0.3, excluded at the default 0.5
    assert got[(1, 3)] == (4, 7, 7)
    default = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(tiny_docs).collect()
    }
    assert (1, 3) not in default and (1, 2) in default


def test_simhash_matches_python(tiny_docs):
    got = {r.doc_id: r.simhash for r in simhash(tiny_docs).collect()}
    toks = "the quick brown fox jumps over the lazy dog".split()
    hs = [md5_int_py(t, 15) for t in toks]
    expected = 0
    for j in range(60):
        if sum(((h >> j) & 1) * 2 - 1 for h in hs) > 0:
            expected |= 1 << j
    assert got[1] == expected == got[2]
    assert got[1] != got[4]


def test_text_ops_hand_checked(tiny_docs):
    tok = {r.doc_id: (r.n_tokens, r.n_chars) for r in token_counts(tiny_docs).collect()}
    assert tok[1] == (9, 43)
    assert tok[6] == (1, 1)

    q = {r.doc_id: r for r in quality_scores(tiny_docs).collect()}
    assert q[1].n_words == 9 and q[1].n_stop == 2  # 'the' twice
    assert q[1].is_quality == 1
    assert q[6].is_quality == 0  # too short
    # repetition: doc 1 repeats 'the' (9 words, 8 distinct → 111‰);
    # its 8 word-2-grams are all distinct → 0‰
    assert q[1].dup_word_x1000 == 111 and q[1].dup_2gram_x1000 == 0
    assert q[6].dup_word_x1000 == 0 and q[6].dup_2gram_x1000 == 0  # 1 word

    lang = {r.doc_id: r.pred_lang for r in lang_id(tiny_docs).collect()}
    assert lang[1] == "en"
    assert lang[5] == "es"
    assert lang[6] == "und"

    fp = {r.doc_id: r.fingerprint for r in fingerprints(tiny_docs).collect()}
    toks = "the quick brown fox jumps over the lazy dog".split()
    acc = 0
    for t in toks:
        acc = (acc * FP_BASE + md5_int_py(t, 8)) % MOD_FP
    assert fp[1] == acc == fp[2]
    # order sensitivity: doc3 differs
    assert fp[3] != fp[1]


@pytest.fixture(scope="module")
def tiny_embeddings(spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(16).astype(np.float32).tolist(), i % 2) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_matches_numpy(tiny_embeddings):
    got = (
        cosine_topk(tiny_embeddings, k=5, n_queries=3)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pdf = tiny_embeddings.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    rows = []
    for q in range(3):
        qi = int(np.nonzero(ids == q)[0][0])
        cos = cosine_fold_np(mat, mat[qi])
        mask = ids != q
        order = np.lexsort((ids[mask], -cos[mask]))[:5]
        for rank, oi in enumerate(order, start=1):
            rows.append((q, rank, int(ids[mask][oi])))
    exp = pd.DataFrame(rows, columns=["query_id", "rank", "neighbor_id"])
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_ann_lsh_recall(tiny_embeddings):
    brute = cosine_topk(tiny_embeddings, k=5, n_queries=5).toPandas()
    ann = ann_lsh_topk(tiny_embeddings, k=5, n_queries=5).toPandas()
    # per query, candidates are reranked exactly; measure recall@5
    recall = []
    for q in range(5):
        b = set(brute[brute.query_id == q].neighbor_id)
        a = set(ann[ann.query_id == q].neighbor_id)
        recall.append(len(a & b) / len(b))
    assert sum(recall) / len(recall) >= 0.2  # breakage guard; typical ≫


def test_media_decode_real_pixels(docs_xs):
    """The media features are computed from ACTUALLY DECODED PNG bytes:
    re-decode one payload independently and compare the pixel sums."""
    import numpy as np

    from osm_lib_spark.functions.png import png_decode
    from osm_lib_spark.operators.multimodal import media_payloads, synth_payload

    cat = media_catalog(docs_xs)
    row = cat.where(F.col("media_kind") == "img").first()
    assert row.scheme == "media" and row.media_kind == "img"
    assert row.sig == hashlib.md5(row.media_ref.encode()).hexdigest()[:16]

    feats = decode_media_features(docs_xs)
    frow = feats.where(F.col("media_ref").contains("://img/")).first()
    img = png_decode(synth_payload(frow.media_ref))
    assert frow.f0 == img.shape[1] and frow.f1 == img.shape[0]
    assert frow.f2 == int(img[:, :, 0].astype(np.int64).sum())
    assert frow.f3 == int(img[:, :, 1].astype(np.int64).sum())
    assert cat.count() == feats.count()

    # the binary payload column round-trips through Arrow and decodes
    prow = (
        media_payloads(docs_xs).where(F.col("media_ref").contains("://img/")).first()
    )
    assert prow.n_bytes == len(prow.payload)
    decoded = png_decode(bytes(prow.payload))
    assert decoded.dtype.name == "uint8" and decoded.ndim == 3

    # frame fan-out is decode-driven: clip length and frame sigs derive
    # from the decoded dims / pixel sum
    from osm_lib_spark.operators.multimodal import sample_frames

    frames = sample_frames(docs_xs).where(F.col("media_ref") == frow.media_ref)
    got = sorted((r.frame_idx, r.frame_sig) for r in frames.collect())
    h, w = img.shape[:2]
    s0 = int(img[:, :, 0].astype(np.int64).sum())
    exp = [(i, s0 * 64 + i) for i in range(0, 10 + (w * h) % 40, 5)]
    assert got == exp


def test_media_decode_real_audio(docs_xs):
    """Audio spans route through the REAL WAV parser (sniffed by RIFF
    magic, not by ref string): re-decode one payload independently and
    compare the sample sums, then check the resample and window
    fan-out closed forms."""
    import numpy as np

    from osm_lib_spark.functions.wav import resample_nearest, wav_decode
    from osm_lib_spark.operators.multimodal import (
        AUDIO_RATE,
        media_payloads,
        resize_media,
        sample_frames,
        synth_payload,
    )

    aud = F.col("media_ref").contains("://audio/")
    cat = media_catalog(docs_xs).where(F.col("media_kind") == "audio")
    n_audio = cat.count()
    assert n_audio > 0  # the fixture mix really carries audio refs

    frow = decode_media_features(docs_xs).where(aud).first()
    samples, rate = wav_decode(synth_payload(frow.media_ref))
    assert rate == AUDIO_RATE and samples.dtype == np.int16
    assert frow.f0 == samples.shape[0] and frow.f1 == rate
    assert frow.f2 == int(samples.astype(np.int64).sum())
    assert frow.f3 == int(samples.max())

    prow = media_payloads(docs_xs).where(aud).first()
    assert bytes(prow.payload)[:4] == b"RIFF"

    rrow = resize_media(docs_xs).where(F.col("media_ref") == frow.media_ref).first()
    assert (rrow.width, rrow.height) == (224, 1)
    assert rrow.resized_sig == int(
        resample_nearest(samples, 224).astype(np.int64).sum()
    )

    frames = sample_frames(docs_xs, media_kind="audio").where(
        F.col("media_ref") == frow.media_ref
    )
    got = sorted((r.frame_idx, r.frame_sig) for r in frames.collect())
    s = int(samples.astype(np.int64).sum())
    exp = [(i, s * 64 + i) for i in range(0, 10 + samples.shape[0] % 40, 5)]
    assert got == exp


def test_media_decode_real_video(docs_xs):
    """Video spans route through the REAL APNG parser (PNG magic +
    acTL chunk walk, not the ref string): re-decode one payload
    independently and compare the per-frame pixel sums, then check the
    frame-stack resize and the REAL frame-sampling fan-out (each
    sampled row's signature comes from THAT decoded frame)."""
    import numpy as np

    from osm_lib_spark.functions.apng import apng_decode, is_apng
    from osm_lib_spark.functions.png import resize_nearest
    from osm_lib_spark.operators.multimodal import (
        media_payloads,
        resize_media,
        sample_frames,
        synth_payload,
    )

    vid = F.col("media_ref").contains("://vid/")
    cat = media_catalog(docs_xs).where(F.col("media_kind") == "vid")
    assert cat.count() > 0  # the fixture mix really carries video refs

    frow = decode_media_features(docs_xs).where(vid).first()
    frames = apng_decode(synth_payload(frow.media_ref))
    stack = np.stack(frames)
    assert frow.f0 == stack.shape[0]
    assert frow.f1 == stack.shape[1] * stack.shape[2]
    assert frow.f2 == int(stack[:, :, :, 0].astype(np.int64).sum())
    assert frow.f3 == int(stack[-1, :, :, 1].astype(np.int64).sum())

    prow = media_payloads(docs_xs).where(vid).first()
    assert is_apng(bytes(prow.payload))

    rrow = resize_media(docs_xs).where(F.col("media_ref") == frow.media_ref).first()
    assert (rrow.width, rrow.height) == (224, 224)
    assert rrow.resized_sig == sum(
        int(resize_nearest(fr, 224, 224)[:, :, 0].astype(np.int64).sum())
        for fr in frames
    )

    sampled = sample_frames(docs_xs, media_kind="vid").where(
        F.col("media_ref") == frow.media_ref
    )
    got = sorted((r.frame_idx, r.frame_sig) for r in sampled.collect())
    exp = [
        (i, int(frames[i][:, :, 0].astype(np.int64).sum()) * 64 + i)
        for i in range(0, len(frames), 5)
    ]
    assert got == exp


def test_apng_codec_roundtrip():
    """From-scratch APNG codec: encode/decode exact for multi-frame
    gray and RGB stacks across filter types, PNG/APNG discrimination
    by chunk walk (not byte scan), spec fallback (png_decode of an
    APNG yields frame 0), and loud failure outside the supported
    scope."""
    import struct

    import numpy as np

    from osm_lib_spark.functions.apng import apng_decode, apng_encode, is_apng
    from osm_lib_spark.functions.png import png_decode, png_encode

    rng = np.random.default_rng(98765)
    for shape, n in [((6, 9, 3), 4), ((5, 5), 1), ((3, 8, 3), 11)]:
        frames = [rng.integers(0, 256, size=shape).astype(np.uint8) for _ in range(n)]
        for ft in range(5):
            enc = apng_encode(frames, filter_type=ft)
            assert is_apng(enc)
            back = apng_decode(enc)
            assert len(back) == n
            for a, b in zip(frames, back):
                assert (a == b).all()

    # a still PNG is not an animation, and apng_decode says so loudly
    plain = png_encode(rng.integers(0, 256, size=(7, 7, 3)).astype(np.uint8))
    assert not is_apng(plain)
    with pytest.raises(ValueError, match="acTL"):
        apng_decode(plain)

    # spec fallback: a PNG decoder that ignores animation chunks shows
    # the first frame (our frame 0 lives in the ordinary IDAT)
    frames = [rng.integers(0, 256, size=(6, 6, 3)).astype(np.uint8) for _ in range(3)]
    assert (png_decode(apng_encode(frames)) == frames[0]).all()

    # mismatched frame shapes must fail at encode time
    with pytest.raises(ValueError, match="shape"):
        apng_encode([np.zeros((4, 4, 3), np.uint8), np.zeros((5, 4, 3), np.uint8)])

    # out-of-scope dispose_op must fail at decode time, not mis-render
    enc = bytearray(apng_encode(frames))
    fctl_at = bytes(enc).index(b"fcTL")
    body_at = fctl_at + 4  # chunk body starts after the type
    dispose_at = body_at + 24  # seq(4)+w(4)+h(4)+x(4)+y(4)+delays(4)
    enc[dispose_at] = 1
    import zlib as _z

    body = bytes(enc[body_at : body_at + 26])
    enc[fctl_at + 4 + 26 : fctl_at + 4 + 26 + 4] = struct.pack(
        ">I", _z.crc32(b"fcTL" + body) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="dispose"):
        apng_decode(bytes(enc))


def test_wav_codec_roundtrip():
    """From-scratch RIFF/WAVE codec: encode/decode exact for mono and
    multi-channel int16, unknown-chunk skipping, nearest-resample floor
    indexing, and loud failure on non-PCM input."""
    import struct

    import numpy as np

    from osm_lib_spark.functions.wav import resample_nearest, wav_decode, wav_encode

    rng = np.random.default_rng(54321)
    for shape in [(1,), (7,), (800,), (5, 2), (33, 3)]:
        samples = rng.integers(-32768, 32768, size=shape).astype(np.int16)
        back, rate = wav_decode(wav_encode(samples, 44100))
        assert rate == 44100 and back.shape == samples.shape
        assert (back == samples).all(), shape

    # odd data length (odd frame count mono) exercises the RIFF pad byte
    odd = np.array([1, -2, 3], dtype=np.int16)
    enc = wav_encode(odd)
    assert len(enc) % 2 == 0
    back, _ = wav_decode(enc)
    assert (back == odd).all()

    # real writers interleave metadata chunks; the walker must skip them
    raw = wav_encode(odd)
    fmt_at = raw.index(b"fmt ")
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = raw[:fmt_at] + extra + raw[fmt_at:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    back, _ = wav_decode(spliced)
    assert (back == odd).all()

    # resample: src_i = (i*3)//5 = 0,0,1,1,2
    r = resample_nearest(np.array([10, 20, 30], dtype=np.int16), 5)
    assert (r == [10, 10, 20, 20, 30]).all()

    with pytest.raises(ValueError, match="RIFF"):
        wav_decode(b"not a wav at all")
    ulaw = bytearray(wav_encode(odd))
    ulaw[20] = 7  # format tag 7 = mu-law
    with pytest.raises(ValueError, match="PCM"):
        wav_decode(bytes(ulaw))


def test_png_codec_roundtrip_all_filters():
    """From-scratch PNG codec: encode/decode must be exact for every
    row filter type, gray and RGB, plus nearest-resize floor indexing."""
    import numpy as np

    from osm_lib_spark.functions.png import png_decode, png_encode, resize_nearest

    rng = np.random.default_rng(12345)
    for shape in [(1, 1), (3, 5), (17, 9), (3, 5, 3), (32, 31, 3)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        for ft in range(5):
            back = png_decode(png_encode(img, filter_type=ft))
            assert back.shape == img.shape and (back == img).all(), (shape, ft)
    img = np.arange(4 * 6, dtype=np.uint8).reshape(4, 6)
    r = resize_nearest(img, 3, 2)
    # src_x = (x*6)//3 = 0,2,4 ; src_y = (y*4)//2 = 0,2
    assert (r == img[np.ix_([0, 2], [0, 2, 4])]).all()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="signature"):
        png_decode(b"not a png at all")


def test_ivf_recall_vs_nprobe_monotone(tiny_embeddings):
    """Recall-vs-cost knob: the top-nprobe probed lists are NESTED as
    nprobe grows, so candidates (and therefore recall@k) are
    deterministically monotone — and probing ALL nlist lists makes IVF
    exhaustive, i.e. exactly the brute-force answer. This pins the knob
    semantics a 100-TB deployment tunes (cost ∝ nprobe/nlist of the
    corpus scanned per query)."""
    from osm_lib_spark.operators.similarity import IVF_NLIST, ivf_topk

    brute = cosine_topk(tiny_embeddings, k=5, n_queries=5).toPandas()

    def recall(nprobe):
        ann = ivf_topk(tiny_embeddings, k=5, n_queries=5, nprobe=nprobe).toPandas()
        per_q = []
        for q in range(5):
            b = set(brute[brute.query_id == q].neighbor_id)
            a = set(ann[ann.query_id == q].neighbor_id)
            per_q.append(len(a & b) / len(b))
        return sum(per_q) / len(per_q)

    r1, r4, rall = recall(1), recall(4), recall(IVF_NLIST)
    assert r1 <= r4 <= rall
    assert rall == 1.0  # full probe == exhaustive == brute force


def test_components_from_pairs_chain(spark):
    """Transitive chains must collapse to one component with the min
    doc_id as canonical survivor: 1-2, 2-3 => {1,2,3}; 5-6 => {5,6};
    4 alone => singleton. A long chain (10..15 linked pairwise)
    exercises multiple propagation rounds. Both paths: the driver kernel
    (pairs under spark.sql.autoBroadcastJoinThreshold) and the Spark
    loop (threshold -1)."""
    from osm_lib_spark.operators.dedup import components_from_pairs

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6] + list(range(10, 16))], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)] + [(i, i + 1) for i in range(10, 15)],
        "doc_a long, doc_b long",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    for threshold in (saved, "-1"):
        spark.conf.set(key, threshold)
        try:
            got = {
                r.doc_id: (r.component_id, r.keep)
                for r in components_from_pairs(docs, pairs).collect()
            }
        finally:
            spark.conf.set(key, saved)
        assert got == {
            1: (1, 1), 2: (1, 0), 3: (1, 0),
            4: (4, 1),
            5: (5, 1), 6: (5, 0),
            **{i: (10, 1 if i == 10 else 0) for i in range(10, 16)},
        }, threshold


def test_sample_stratified_nested_and_deterministic(spark):
    """Hash sampling must be (a) deterministic across calls and (b)
    NESTED: a higher rate's sample is a superset of a lower rate's —
    the property that makes scaling-law subset curves consistent."""
    from osm_lib_spark.operators.sampling import sample_stratified

    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 else "de", "s", 1) for i in range(2000)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    lo = {r.doc_id for r in sample_stratified(docs, {"en": 0.2, "de": 0.2}).collect()}
    hi = {r.doc_id for r in sample_stratified(docs, {"en": 0.6, "de": 0.6}).collect()}
    again = {r.doc_id for r in sample_stratified(docs, {"en": 0.2, "de": 0.2}).collect()}
    assert lo == again
    assert lo <= hi
    # rates land near target (md5 is uniform; 2000 docs -> ±10% abs)
    assert 0.1 <= len(lo) / 2000 <= 0.3
    assert 0.5 <= len(hi) / 2000 <= 0.7
    # per-stratum rate honored: de-only rate 0 excludes every de doc
    en_only = sample_stratified(docs, {"en": 1.0}, default_rate=0.0)
    assert {r.lang for r in en_only.collect()} == {"en"}


def test_sessionize_hand_computed(spark):
    """Known gaps -> known sessions: user 1 has events at t0, +10min,
    +50min (gap>30 -> new session), +55min; user 2 has one event."""
    from osm_lib_spark.operators.sessions import sessionize

    base = "2026-01-15 12:00:00"
    rows = [
        (1, 1, "2026-01-15 12:00:00"),
        (2, 1, "2026-01-15 12:10:00"),
        (3, 1, "2026-01-15 13:00:00"),   # 50 min after prev -> new session
        (4, 1, "2026-01-15 13:05:00"),
        (5, 2, "2026-01-15 00:00:00"),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string").select(
        "event_id", "user_id", F.col("ts_s").cast("timestamp_ntz").alias("ts")
    )
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.span_us)
        for r in sessionize(ev).collect()
    }
    assert got == {
        (1, 1): (2, 10 * 60 * 1_000_000),
        (1, 2): (2, 5 * 60 * 1_000_000),
        (2, 1): (1, 0),
    }


def test_pq_full_refine_equals_l2_brute(tiny_embeddings):
    """With refine covering the whole corpus, PQ's ADC shortlist is a
    no-op and the result must equal the exact-L2 top-k (numpy-computed
    expected, same left-fold kernel); at the default refine the ADC
    shortlist must still recall most of the true top-5."""
    import pandas as pd

    from osm_lib_spark.functions.hashing import l2_fold_np
    from osm_lib_spark.operators.similarity import pq_topk

    pdf = tiny_embeddings.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    exp_rows = []
    for q in range(5):
        qi = int(np.nonzero(ids == q)[0][0])
        d = l2_fold_np(mat, mat[qi])
        mask = ids != q
        order = np.lexsort((ids[mask], d[mask]))[:5]
        for rank, oi in enumerate(order, start=1):
            exp_rows.append((q, rank, int(ids[mask][oi])))
    exp = pd.DataFrame(exp_rows, columns=["query_id", "rank", "neighbor_id"])

    got_full = (
        pq_topk(tiny_embeddings, k=5, n_queries=5, refine=10_000)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_full, exp, check_dtype=False)

    got_default = pq_topk(tiny_embeddings, k=5, n_queries=5).toPandas()
    recall = []
    for q in range(5):
        a = set(got_default[got_default.query_id == q].neighbor_id)
        b = set(exp[exp.query_id == q].neighbor_id)
        recall.append(len(a & b) / len(b))
    assert sum(recall) / len(recall) >= 0.6  # ADC is a strong preranker


def test_scrub_text_hand_computed(spark):
    from osm_lib_spark.operators.text import scrub_text

    rows = [
        (1, "contact bob.smith+x@example.co.uk or https://ex.com/a?b=c  now"),
        (2, "https://x.y/z?email=a@b.com end"),  # email inside URL: not counted
        (3, "plain\t\ttext   here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_urls, r.n_emails) for r in scrub_text(df).collect()}
    assert got == {
        1: ("contact <EMAIL> or <URL> now", 1, 1),
        2: ("<URL> end", 1, 0),
        3: ("plain text here", 0, 0),
    }


def test_decontaminate_flags_eval_overlap(spark):
    from osm_lib_spark.operators.decontaminate import decontaminate

    rows = [
        (0, "alpha beta gamma delta"),                 # eval (0 % 97 == 0)
        (97, "totally separate eval sentence here"),   # eval
        (1, "alpha beta gamma delta epsilon"),         # shares 2 shingles w/ doc 0
        (2, "unrelated corpus text with no overlap"),
        (3, "totally separate eval sentence here"),    # exact copy of an eval doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_shared, r.contaminated) for r in decontaminate(docs).collect()}
    assert set(got) == {1, 2, 3}  # eval docs never appear in the output
    assert got[1] == (2, 1)  # "alpha beta gamma", "beta gamma delta"
    assert got[2] == (0, 0)
    assert got[3] == (3, 1)  # all 3 shingles of the exact eval copy

    # explicit benchmark table: whole documents frame is the corpus
    eval_df = spark.createDataFrame([(100, "alpha beta gamma delta")], "doc_id long, text string")
    got2 = {r.doc_id: r.contaminated for r in decontaminate(docs, eval_docs=eval_df).collect()}
    assert got2[0] == 1 and got2[1] == 1 and got2[2] == 0


def test_ivf_pq_full_probe_equals_pq(tiny_embeddings):
    """ivf_pq_topk with nprobe == nlist probes every list, so its
    candidate set (and therefore its ADC shortlist, tie-breaks
    included) must equal plain pq_topk's full-corpus scan exactly."""
    import pandas as pd

    from osm_lib_spark.operators.similarity import IVF_NLIST, ivf_pq_topk, pq_topk

    got_pq = pq_topk(tiny_embeddings, k=5, n_queries=5).toPandas()
    got_ivf_pq = ivf_pq_topk(
        tiny_embeddings, k=5, n_queries=5, nprobe=IVF_NLIST
    ).toPandas()
    pd.testing.assert_frame_equal(
        got_ivf_pq.sort_values(["query_id", "rank"]).reset_index(drop=True),
        got_pq.sort_values(["query_id", "rank"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_ivf_pq_persisted_index_train_once_query_many(tiny_embeddings, tmp_path):
    """build_ivf_pq_index → ivf_pq_topk_from_index must equal the
    retrain-per-query path exactly (training is deterministic), and
    repeated queries over one persisted index are identical."""
    from osm_lib_spark.operators.similarity import (
        build_ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_from_index,
    )

    idx = str(tmp_path / "ivfpq")
    meta = build_ivf_pq_index(tiny_embeddings, idx, nlist=4, m=4, kc=4)
    assert meta["residual"] is True

    direct = sorted(
        map(tuple, ivf_pq_topk(tiny_embeddings, k=3, n_queries=3, nlist=4, m=4, kc=4, residual=True).collect())
    )
    served1 = sorted(map(tuple, ivf_pq_topk_from_index(tiny_embeddings, idx, k=3, n_queries=3).collect()))
    served2 = sorted(map(tuple, ivf_pq_topk_from_index(tiny_embeddings, idx, k=3, n_queries=3).collect()))
    assert served1 == direct
    assert served1 == served2

    # the codes table is hive-partitioned by coarse list, and the served
    # scan reads only the probed lists' partitions (partition pruning
    # is the serving-scan contract): one query probing one list reads
    # one of the two non-empty lists
    import os as _os
    import re

    from tests.conftest import plans_during

    parts = [d for d in _os.listdir(_os.path.join(idx, "codes")) if d.startswith("list_id=")]
    assert len(parts) >= 1
    _, plans = plans_during(
        tiny_embeddings.sparkSession,
        lambda: ivf_pq_topk_from_index(tiny_embeddings, idx, k=3, n_queries=1, nprobe=1).collect(),
    )
    pruned = [re.search(r"PartitionFilters: \[[^\]]*list_id#\d+ (?:IN \(|= )([\d, ]+)", p) for p in plans]
    probed = {int(x) for m in pruned if m for x in m.group(1).split(",")}
    assert len(probed) == 1 < len(parts), plans


def test_minhash_index_batch_vs_corpus(tiny_docs, tmp_path, spark):
    """Persisted MinHash index: a new batch dedups AGAINST the corpus
    (pairs equal the monolithic run restricted to batch×corpus), the
    survivor append makes a later identical batch collide, and the
    corpus text is never re-read on the probe path."""
    from osm_lib_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        dedup_batch_against_index,
        minhash_dup_pairs,
    )

    idx = str(tmp_path / "mh")
    build_minhash_index(tiny_docs, idx)

    batch = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog"),  # dup of 1,2,3
            (102, "totally novel text that matches nothing at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup_batch_against_index(batch, idx).collect()
    }
    # oracle: monolithic dedup over corpus ∪ batch, restricted to cross pairs
    mono = {
        (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b))
        for r in minhash_dup_pairs(tiny_docs.unionByName(batch)).collect()
        if (r.doc_a > 100) != (r.doc_b > 100)
    }
    assert got == mono and (101, 1) in got and all(a != 102 for a, _ in got)

    # append the novel survivor; an identical later ingest now collides
    append_to_minhash_index(batch.where("doc_id = 102"), idx)
    batch2 = spark.createDataFrame(
        [(201, "totally novel text that matches nothing at all")],
        "doc_id long, text string",
    )
    got2 = {(r.doc_a, r.doc_b) for r in dedup_batch_against_index(batch2, idx).collect()}
    assert got2 == {(201, 102)}


def test_ivf_pq_index_append_equals_monolithic(tiny_embeddings, tmp_path, spark):
    """Incremental ingest: build on corpus A, append batch B with the
    frozen codebooks — serving must equal a monolithic sample-trained
    index (train_on=A, codes over A∪B). Also: dim mismatch raises."""
    import numpy as np

    from osm_lib_spark.operators.similarity import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        ivf_pq_topk_from_index,
    )

    a = tiny_embeddings.where("vec_id < 28")
    b = tiny_embeddings.where("vec_id >= 28")

    mono = str(tmp_path / "mono")
    build_ivf_pq_index(tiny_embeddings, mono, nlist=4, m=4, kc=4, train_on=a)

    inc = str(tmp_path / "inc")
    build_ivf_pq_index(a, inc, nlist=4, m=4, kc=4)
    append_to_ivf_pq_index(b, inc)

    served_mono = sorted(
        map(tuple, ivf_pq_topk_from_index(tiny_embeddings, mono, k=3, n_queries=3).collect())
    )
    served_inc = sorted(
        map(tuple, ivf_pq_topk_from_index(tiny_embeddings, inc, k=3, n_queries=3).collect())
    )
    assert served_mono == served_inc
    # appended rows really landed in the hive-partitioned codes table
    n_codes = spark.read.parquet(f"{inc}/codes").count()
    assert n_codes == tiny_embeddings.count()

    rng = np.random.default_rng(7)
    wrong_dim = spark.createDataFrame(
        [(500, rng.standard_normal(8).astype(np.float32).tolist())],
        "vec_id long, embedding array<float>",
    )
    try:
        append_to_ivf_pq_index(wrong_dim, inc)
        raise AssertionError("dim mismatch must raise")
    except ValueError as exc:
        assert "dim" in str(exc)


def test_curate_corpus_repetition_gates(spark):
    """curate_corpus drops documents whose duplicate-word / dup-2-gram
    fractions exceed the thresholds, on top of the quality gate."""
    from osm_lib_spark.operators.curation import curate_corpus

    good = "the quick brown fox jumps over a lazy dog near the river bank"
    # 12 words, all but one distinct → low repetition, passes quality
    spam = "the buy now buy now buy now buy now buy now buy now"
    # 13 words, 4 distinct → dup_word ≈ 692‰ > 650; 2-grams repeat too
    rows = [(1, good, "en"), (2, spam, "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = {r.doc_id for r in curate_corpus(docs, rates={"en": 1.0}).collect()}
    assert 1 in kept and 2 not in kept
    # loosening the thresholds readmits the spammy doc
    kept_loose = {
        r.doc_id
        for r in curate_corpus(
            docs, rates={"en": 1.0}, max_dup_word_x1000=1000, max_dup_2gram_x1000=1000
        ).collect()
    }
    assert kept_loose == {1, 2}
