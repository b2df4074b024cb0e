"""Multimodal (media) column handling.

Media spans are opaque references (``media_ref``); the binary payload
is a sibling ``binary`` column materialized by ``media_payloads`` (at
scale: an object-store fetch keyed by the ref — here deterministic
synthetic PNG/WAV/APNG writers stand in for the fetch, clearly
marked). The DECODE is REAL for all three modalities:
``functions/png.py`` is a from-scratch PNG codec (signature/chunk/CRC
walk, zlib inflate, all five row filters), ``functions/wav.py`` a
from-scratch RIFF/WAVE PCM parser (chunk walk, fmt validation,
vectorized sample decode), and ``functions/apng.py`` a from-scratch
APNG animation parser (acTL/fcTL/fdAT chunk walk, per-frame inflate +
unfilter through the shared PNG kernels) — pure numpy, no
PIL/soundfile/pyav in this container. Every downstream stage sniffs
the CONTAINER content (\\x89PNG vs RIFF magic, then the acTL chunk
that distinguishes an animation from a still) rather than trusting
the ref string, exactly as a production decoder must, then computes
features / resize-resample signatures / frame fan-outs FROM DECODED
SAMPLES.

Spark shape: every payload op is one ``mapInArrow`` over the narrow
(doc_id, media_ref) rows (``_per_payload``); each task fetches and
decodes its refs' payloads and a short per-op row function turns each
into output values, so a batch stays Arrow in and Arrow out.

Oracle-checkability: the synthetic image payload for a ref is a w×h
RGB gradient pixel[y,x,c] = base_c + x + y, the synthetic audio
payload a PCM16 sawtooth sample[i] = base + (i % 64), and the
synthetic video an F-frame APNG whose frame f is the gradient shifted
by f (pixel[f,y,x,c] = base_c + x + y + f), with (base_c, w, h, n, F)
read from md5(ref) bytes — so pixel and sample SUMS have closed forms
the DuckDB oracle recomputes from md5 alone. If any decoder (or the
resize/resample) mis-reads even one value, the gate hash breaks: all
three decode paths are end-to-end verified, not just the plumbing.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

from osm_lib_spark.functions.apng import apng_decode, apng_encode, is_apng
from osm_lib_spark.functions.png import png_decode, png_encode, resize_nearest
from osm_lib_spark.functions.wav import resample_nearest, wav_decode, wav_encode
from osm_lib_spark.sources.span_codec import spans_of_kind

N_FEATURES = 4

MEDIA_FEATURE_SCHEMA = (
    "doc_id string, media_ref string, "
    + ", ".join(f"f{i} long" for i in range(N_FEATURES))
)


def media_catalog(docs: DataFrame) -> DataFrame:
    """All media spans with parsed metadata:
    (doc_id, media_ref, scheme, media_kind, media_id, sig).

    media_ref convention: ``scheme://kind/id``. sig is a 16-hex content
    signature placeholder (md5 of the ref; a real pipeline hashes the
    payload bytes).
    """
    spans = spans_of_kind(docs, "media")
    parts = F.split(F.col("media_ref"), "://", 2)
    path = F.split(F.coalesce(F.get(parts, 1), F.lit("")), "/", 2)
    return spans.select(
        "doc_id",
        "media_ref",
        F.get(parts, 0).alias("scheme"),
        F.get(path, 0).alias("media_kind"),
        F.get(path, 1).try_cast("long").alias("media_id"),
        F.substring(F.md5(F.col("media_ref")), 1, 16).alias("sig"),
    )


AUDIO_RATE = 8000


def synth_payload(ref: str) -> bytes:
    """Deterministic 'object-store fetch' stand-in, keyed by the ref's
    media kind (``media://img/...`` vs ``media://audio/...``):

    - img: a real zlib-compressed PNG of a w×h RGB gradient with
      pixel[y, x, c] = base_c + x + y, where (base_0..2, w, h) come
      from md5(ref) bytes 0-4 (base_c = byte_c % 128,
      dims = 8 + byte % 25; max pixel value 127+31+31 = 189 < 256, no
      wraparound).
    - audio: a real RIFF/WAVE PCM16 mono sawtooth with
      sample[i] = base_0 + (i % 64) at 8 kHz, n = 64·(13 + byte_4 % 25)
      samples — Σ samples = n·base_0 + (n/64)·2016 exactly.
    - vid: a real APNG animation of F = 4 + byte_5 % 12 full frames,
      frame f the same gradient shifted by f
      (pixel[y, x, c] = base_c + x + y + f; max value
      127+31+31+14 = 203 < 256, no wraparound) — per-frame channel
      sums are the img closed form plus w·h·f.

    All three content rules have md5-derivable closed forms the oracle
    checks. At scale this function is the only thing a production
    build replaces (S3/GCS ranged GET by ref)."""
    d = hashlib.md5(ref.encode()).digest()
    if "://audio/" in ref:
        base = d[0] % 128
        n = 64 * (13 + d[4] % 25)
        samples = (base + (np.arange(n) % 64)).astype(np.int16)
        return wav_encode(samples, AUDIO_RATE)
    base = [d[0] % 128, d[1] % 128, d[2] % 128]
    w, h = 8 + d[3] % 25, 8 + d[4] % 25
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([b + xx + yy for b in base], axis=2).astype(np.uint8)
    if "://vid/" in ref:
        n_frames = 4 + d[5] % 12
        return apng_encode([img + f for f in range(n_frames)])
    return png_encode(img)


def decode_payload(raw: bytes):
    """Sniff the container content and decode: ('img', uint8 hxwx3),
    ('audio', (int16 samples, rate)), or ('vid', [uint8 hxwx3, ...]).
    Production decoders route on content, not on the ref string — a
    mislabeled ref must fail loudly in the codec, not silently decode
    as the wrong modality. PNG-vs-APNG is decided by the acTL chunk
    (a proper chunk walk), exactly as spec-compliant viewers do."""
    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        if is_apng(raw):
            return "vid", apng_decode(raw)
        return "img", png_decode(raw)
    if raw[:4] == b"RIFF":
        return "audio", wav_decode(raw)
    raise ValueError(f"unknown media container (magic {raw[:4]!r})")


PAYLOAD_SCHEMA = "doc_id string, media_ref string, payload binary, n_bytes long"


def _total(a: np.ndarray) -> int:
    return int(a.astype(np.int64).sum())


def _per_payload(media: DataFrame, ddl: str, row_fn) -> DataFrame:
    """The loop behind every payload op: one ``mapInArrow`` over the
    narrow (doc_id, media_ref) rows of ``media``. Each ref's payload is
    fetched in the task that uses it, and ``row_fn(payload bytes)``
    gives the values after (doc_id, media_ref) of that ref's output
    rows: one tuple for a 1→1 op, any number for a fan-out. The payload
    is the heavy column, so fetch and decode are fused into the one
    Python stage and it never crosses the JVM boundary between two of
    them."""
    schema = to_arrow_schema(DataType.fromDDL(ddl))

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                (doc_id, ref, *values)
                for doc_id, ref in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist())
                for values in row_fn(synth_payload(ref))
            ]
            cols = list(zip(*rows)) or [()] * len(schema)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
            )

    return media.select("doc_id", "media_ref").mapInArrow(task, ddl)


def media_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, media_ref, payload, n_bytes): the binary media column.

    One Arrow batch of refs in, one batch of PNG/WAV/APNG byte payloads
    out — the batching/partitioning shape of a real object-store fetch
    stage (payload bytes never touch the driver)."""
    return _per_payload(spans_of_kind(docs, "media"), PAYLOAD_SCHEMA, lambda raw: [(raw, len(raw))])


def _features(raw: bytes) -> list[tuple]:
    kind, decoded = decode_payload(raw)
    if kind == "img":
        h, w = decoded.shape[:2]
        return [(w, h, _total(decoded[:, :, 0]), _total(decoded[:, :, 1]))]
    if kind == "vid":
        stack = np.stack(decoded)  # (F, h, w, 3)
        n_frames, h, w = stack.shape[:3]
        return [(n_frames, w * h, _total(stack[:, :, :, 0]), _total(stack[-1, :, :, 1]))]
    samples, rate = decoded
    return [(samples.shape[0], rate, _total(samples), int(samples.max()))]


def decode_media_features(docs: DataFrame) -> DataFrame:
    """REAL media decode: (doc_id, media_ref, f0..f3), modality-typed
    by the sniffed container —

    - img (PNG): f0/f1 = decoded width/height (from the IHDR), f2/f3 =
      pixel SUMS of channels 0/1 of the decoded array.
    - audio (WAV): f0 = decoded sample count, f1 = sample rate (from
      the fmt chunk), f2 = SUM of samples, f3 = max sample.
    - vid (APNG): f0 = decoded frame count, f1 = pixels per frame
      (w·h), f2 = channel-0 sum over ALL frames, f3 = channel-1 sum of
      the LAST frame (so a dropped/duplicated/mis-ordered frame breaks
      the hash, not just a wrong pixel).

    All four are recomputed by the oracle from the synthetic payload's
    closed form, so a bug in ANY codec breaks the gate hash.

    Each Arrow batch fetches payload bytes and decodes them (zlib
    inflate + unfilter per image/frame; RIFF chunk walk + PCM frame
    decode per clip) — the exact batching shape of a
    PIL/libsndfile/pyav decoder (``_per_payload``).
    """
    return _per_payload(spans_of_kind(docs, "media"), MEDIA_FEATURE_SCHEMA, _features)


RESIZE_SCHEMA = "doc_id string, media_ref string, width int, height int, resized_sig long"


def resize_media(docs: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """REAL shape normalization — the stage a training pipeline runs to
    make every media item a fixed-size tensor:

    - img: nearest-neighbor resize to (width, height) by integer index
      mapping (src = (dst·in)//out), signed with the channel-0 pixel
      sum of the RESIZED array.
    - audio: nearest-neighbor resample to a fixed ``width`` samples
      (the 1-D analog, same floor index map; ``height`` is reported as
      1), signed with the sum of the RESAMPLED clip.
    - vid: EVERY decoded frame resized to (width, height), signed with
      the channel-0 sum over all resized frames (the fixed-size tensor
      stack a video training pipeline feeds the model).

    The oracle recomputes all three signatures in SQL from the
    synthetic payload's closed form plus the same floor index map. A
    wrong resample (off-by-one index math, wrong rounding) breaks the
    hash. Fetch+decode fused in one Python stage (``_per_payload``).
    """

    def resized(raw: bytes) -> list[tuple]:
        kind, decoded = decode_payload(raw)
        if kind == "img":
            return [(width, height, _total(resize_nearest(decoded, width, height)[:, :, 0]))]
        if kind == "vid":
            sig = sum(_total(resize_nearest(fr, width, height)[:, :, 0]) for fr in decoded)
            return [(width, height, sig)]
        return [(width, 1, _total(resample_nearest(decoded[0], width)))]

    return _per_payload(spans_of_kind(docs, "media"), RESIZE_SCHEMA, resized)


FRAME_SCHEMA = "doc_id string, media_ref string, frame_idx int, frame_sig long"


def sample_frames(
    docs: DataFrame, every_n: int = 5, media_kind: str | None = None
) -> DataFrame:
    """Frame sampling: ONE media row fans out to MANY frame rows (the
    1→N shape a real pyav sampler has). ``media_kind``
    restricts to e.g. 'video' refs; None samples every media span
    (the synthetic fixtures carry img refs only).

    The fan-out is driven by the DECODED payload, not the ref string:
    a vid's frame count is the APNG's ACTUAL decoded frame count and
    every sampled frame's signature is THAT frame's channel-0 pixel
    sum ·64 + frame_idx (real per-frame decode, the pyav shape); an
    image's pseudo-'clip length' is 10 + (w·h) % 40 frames with (w, h)
    read from the decoded image and frame signature
    sum(channel 0)·64 + frame_idx; an audio clip's window count is
    10 + n_samples % 40 with signature sum(samples)·64 + frame_idx —
    so a bug in any codec changes both the ROW COUNT and the values,
    and the oracle (which re-derives w/h/n/F and the sums from the
    synthetic payload's closed form) catches either.
    """
    media = spans_of_kind(docs, "media")
    if media_kind is not None:
        media = media.where(F.col("media_ref").contains(f"://{media_kind}/"))

    def frames(raw: bytes) -> list[tuple]:
        kind, decoded = decode_payload(raw)
        if kind == "vid":
            return [
                (idx, _total(decoded[idx][:, :, 0]) * 64 + idx)
                for idx in range(0, len(decoded), every_n)
            ]
        if kind == "img":
            h, w = decoded.shape[:2]
            sig_base, n_frames = _total(decoded[:, :, 0]), 10 + (w * h) % 40
        else:
            samples, _rate = decoded
            sig_base, n_frames = _total(samples), 10 + samples.shape[0] % 40
        return [(idx, sig_base * 64 + idx) for idx in range(0, n_frames, every_n)]

    return _per_payload(media, FRAME_SCHEMA, frames)
