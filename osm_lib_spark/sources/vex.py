"""Byte-level VEX source and sink (reference S2/K2).

VEX is the reference's own streaming format (VEXBlock.java:24-110,
VexInput.java:64-150, VexOutput.java:40-175): a headerless
concatenation of blocks, each framed as

    [4-byte ASCII type "VEXN"|"VEXW"|"VEXR"]
    [4-byte big-endian entity count]
    [4-byte big-endian deflated size]
    [zlib data, inflating to ≤ 1 MiB]

The inflated payload is a varint stream. Per block, the delta-coding
state (entity id, way ref, node fixedLat/fixedLon) resets to zero
(VexInput.java:65-66); WITHIN a block the way-ref accumulator carries
across entities (VexInput.java:118-124 — `ref` is a stream field, not
per-way). Records:

    node     = sint64 Δid, tags, sint64 ΔfixedLat, sint64 ΔfixedLon
    way      = sint64 Δid, tags, uint32 nRefs, nRefs × sint64 Δref
    relation = sint64 Δid, tags, uint32 nMembers, members ×
               (sint64 memberId ABSOLUTE, uint32 typeOrdinal
                [NODE=0, WAY=1, RELATION=2 — OSMEntity.java:13],
                string role)
    tags     = uint32 count, count × (string key, string value)
    string   = uint32 byteLen, UTF-8 bytes

Blocks are fully self-contained, so the Spark dataflow mirrors the PBF
codec: a header-only offset scan indexes blocks, ``mapInArrow`` tasks
seek + inflate + decode their own blocks in parallel, and the sink is
the PBF one (``pbf.write_blocks``): rows bucketed by id range, one
``mapInArrow`` per task encodes its buckets into byte-capped blocks and
writes them as part files named by (type, bucket); the driver
concatenates the parts in name order (multipart-compose; O(1) driver
memory). The payload is a sequential
varint/string stream (strings interleave the varints, so PBF's purely
columnar decode doesn't apply directly); the decode is a two-pass
hybrid: a lean structural walk records varint spans — whole ref runs
jump in O(1) via the block-wide terminator index — then ids/lats/lons/
refs decode in single vectorized numpy passes and columns build as
Arrow arrays from flats + offsets (``decode_vex_block_arrow``).
Encode is vectorized the same way in reverse (``_chain_frags``: one
numpy varint pass per column, per-entity fragments by slicing, block
splits via cumsum+searchsorted, block-start entities re-encoded against
reset state — bytes identical to the scalar writer, differential-
tested). Measured at sf0.1 (2.9M entities, 363 blocks, local[32]):
encode ~0.76M entities/s (tag strings are the scalar remainder),
decode ~2.2M entities/s (both were ~0.3-0.7M/s scalar).
"""

from __future__ import annotations

import os
import struct
import zlib
from typing import Iterator

from bisect import bisect_left

import numpy as np
import pandas as pd

import pyarrow as pa

from osm_lib_spark.sources.pbf import (
    BLOCK_SIZE,
    ENTITY_SCHEMA,
    TYPE_NAMES,
    _as_list,
    _entity_batch,
    _tags_list_array,
    blob_index,
    np_decode_varints,
    np_encode_varints_with_lens,
    np_unzigzag,
    np_zigzag,
    write_blocks,
)

VEX_BUFFER_SIZE = 1 << 20  # VEXBlock.java:25 — inflated blocks ≤ 1 MiB
_TYPES = {b"VEXN": "node", b"VEXW": "way", b"VEXR": "relation"}
_HEADERS = {"node": b"VEXN", "way": b"VEXW", "relation": b"VEXR"}
_MEMBER_TYPES = ["NODE", "WAY", "RELATION"]  # ordinal order, OSMEntity.java:13
_MEMBER_ORD = {t: i for i, t in enumerate(_MEMBER_TYPES)}


# ---------------------------------------------------------------------------
# varint stream primitives (scalar — VEX records interleave strings)
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def u64(self) -> int:
        buf, pos = self.buf, self.pos
        result = 0
        shift = 0
        while True:
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                self.pos = pos
                return result
            shift += 7

    def s64(self) -> int:
        u = self.u64()
        return (u >> 1) ^ -(u & 1)

    def string(self) -> str:
        n = self.u64()
        s = self.buf[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return s

    def tags(self) -> list[tuple[str, str]]:
        n = self.u64()
        if n > 500:  # corruption guard, VexInput.java:88-90
            raise ValueError(f"entity has {n} tags — corrupted VEX data")
        return [(self.string(), self.string()) for _ in range(n)]

    def exhausted(self) -> bool:
        return self.pos >= len(self.buf)


class _Writer:
    __slots__ = ("out",)

    def __init__(self) -> None:
        self.out = bytearray()

    def u64(self, n: int) -> None:
        out = self.out
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                return

    def s64(self, v: int) -> None:
        self.u64(((v << 1) ^ (v >> 63)) & ((1 << 64) - 1))

    def string(self, s: str) -> None:
        b = (s or "").encode("utf-8")
        self.u64(len(b))
        self.out.extend(b)

    def tags(self, tags: list) -> None:
        tags = _as_list(tags)
        self.u64(len(tags))
        for t in tags:
            self.string(t["key"])
            self.string(t["value"] if t["value"] is not None else "")


# ---------------------------------------------------------------------------
# block framing
# ---------------------------------------------------------------------------


def scan_vex_blocks(path: str) -> list[tuple[str, int, int, str, int, int]]:
    """Index block payload offsets without reading payloads:
    (path, offset, deflated_size, kind, n_entities, seq). A file cut
    inside a 12-byte block header or a block payload raises
    ``ValueError``."""
    rows = []
    seq = 0
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        while True:
            head = f.read(12)
            if not head:
                break
            if len(head) < 12:
                raise ValueError(f"{path}: truncated VEX block header at byte {f.tell() - len(head)}")
            kind = _TYPES.get(head[:4])
            if kind is None:
                raise ValueError(f"unrecognized VEX block type {head[:4]!r}")
            n_entities, n_bytes = struct.unpack(">ii", head[4:12])
            if not (0 <= n_bytes <= VEX_BUFFER_SIZE and 0 <= n_entities <= VEX_BUFFER_SIZE):
                raise ValueError("impossible VEX block header — corrupted file")
            offset = f.tell()
            if offset + n_bytes > size:
                raise ValueError(
                    f"{path}: {kind} block at byte {offset} runs {offset + n_bytes - size} bytes past EOF"
                )
            rows.append((path, offset, n_bytes, kind, n_entities, seq))
            seq += 1
            f.seek(offset + n_bytes)
    return rows


def _uvarint_at(buf: bytes, pos: int) -> int:
    """Scalar varint value at a known-genuine start (navigation counts
    only — bulk values decode vectorized). A varint that runs past the
    buffer raises ``ValueError``."""
    try:
        b = buf[pos]
        if b < 0x80:
            return b
        result = b & 0x7F
        shift = 7
        while True:
            pos += 1
            b = buf[pos]
            result |= (b & 0x7F) << shift
            if b < 0x80:
                return result
            shift += 7
    except IndexError:
        raise ValueError(f"truncated varint at byte {pos} of a {len(buf)}-byte VEX block") from None


def _inflate_block(deflated: bytes) -> bytes:
    """A block's deflated payload → its bytes; corrupt zlib data or a
    block past the reader's 1 MiB buffer raises ``ValueError``."""
    try:
        payload = zlib.decompress(deflated)
    except zlib.error as exc:
        raise ValueError(f"corrupt VEX block zlib data: {exc}") from None
    if len(payload) > VEX_BUFFER_SIZE:
        raise ValueError("VEX block inflates past the 1 MiB cap")
    return payload


def _gather_varints(arr: np.ndarray, starts: list, ends: list) -> np.ndarray:
    """Gather scattered-but-intact varint spans [start..end] into one
    packed buffer and decode them in ONE vectorized pass — the
    continuation-bit boundaries survive concatenation because every
    gathered span is a whole varint (or a run of whole varints)."""
    if not starts:
        return np.zeros(0, dtype=np.uint64)
    s = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(ends, dtype=np.int64) - s + 1
    offs = np.cumsum(lens) - lens
    idx = np.arange(int(lens.sum()), dtype=np.int64) - np.repeat(offs, lens) + np.repeat(s, lens)
    return np_decode_varints(arr[idx])


def _walk_tags(
    payload: bytes, ends_l: list, pos: int, j: int, ntags: int, keys_out: list, vals_out: list
):
    """Decode one entity's tags in the structural walk, appending to the
    block-flat key/value lists (the Arrow list<struct> column is built
    once from flats + offsets — no per-entity dict objects).

    Strings interleave the varint stream, so after each string the
    terminator index resyncs with a bisect — the only per-item Python
    the walk cannot avoid. Returns (pos, j).
    """
    if ntags > 500:  # corruption guard, VexInput.java:88-90
        raise ValueError(f"entity has {ntags} tags — corrupted VEX data")
    for _ in range(ntags):
        klen = _uvarint_at(payload, pos)
        pos = ends_l[j] + 1
        keys_out.append(payload[pos : pos + klen].decode("utf-8"))
        pos += klen
        j = bisect_left(ends_l, pos)
        vlen = _uvarint_at(payload, pos)
        pos = ends_l[j] + 1
        vals_out.append(payload[pos : pos + vlen].decode("utf-8"))
        pos += vlen
        j = bisect_left(ends_l, pos)
    return pos, j


def _tag_offsets(counts: list) -> np.ndarray:
    return np.concatenate(([0], np.cumsum(counts))).astype(np.int32)


def decode_vex_block_arrow(kind: str, n_entities: int, payload: bytes) -> pa.RecordBatch:
    """One inflated block → an Arrow RecordBatch in the unified entity
    schema.

    Vectorized two-pass decode (the sources/pbf.py ``_batch_packed``
    pattern adapted to an interleaved stream): a lean structural walk
    records varint SPANS — O(1) per contiguous run via the block-wide
    terminator index, so a way's whole ref run is one jump — and only
    decodes the navigation counts scalar-side; then ids / lats / lons /
    refs decode in single ``np_decode_varints`` passes with the
    cross-entity delta chains (VexInput.java:23,118 — they carry across
    entities within a block) restored by one cumsum per column. Columns
    are built directly as Arrow arrays from flats + offsets — the old
    pandas list-of-dict columns spent more time in pandas→Arrow
    conversion than in the decode itself.
    Relations keep the scalar reader: they are ~0.5% of entities and
    their members are string-heavy (role per member), which the walk
    can't vectorize anyway.
    """
    if kind == "node":
        arr = np.frombuffer(payload, dtype=np.uint8)
        ends_l = np.flatnonzero(arr < 0x80).tolist()
        id_s, id_e = [], []
        ll_s, ll_e = [], []
        keys_f, vals_f, tag_counts = [], [], []
        pos = 0
        j = 0
        for _ in range(n_entities):
            id_s.append(pos)
            e0 = ends_l[j]
            id_e.append(e0)
            ntags = _uvarint_at(payload, e0 + 1)
            pos = ends_l[j + 1] + 1
            j += 2
            tag_counts.append(ntags)
            if ntags:
                pos, j = _walk_tags(payload, ends_l, pos, j, ntags, keys_f, vals_f)
            e_lat = ends_l[j]
            e_lon = ends_l[j + 1]
            ll_s.append(pos)
            ll_e.append(e_lat)
            ll_s.append(e_lat + 1)
            ll_e.append(e_lon)
            pos = e_lon + 1
            j += 2
        ids = np.cumsum(np_unzigzag(_gather_varints(arr, id_s, id_e)), dtype=np.int64)
        ll = np_unzigzag(_gather_varints(arr, ll_s, ll_e))
        return _entity_batch(
            "node",
            ids,
            _tags_list_array(_tag_offsets(tag_counts), keys_f, vals_f),
            fixed_lat=np.cumsum(ll[0::2]).astype(np.int32),
            fixed_lon=np.cumsum(ll[1::2]).astype(np.int32),
        )
    if kind == "way":
        arr = np.frombuffer(payload, dtype=np.uint8)
        ends_l = np.flatnonzero(arr < 0x80).tolist()
        id_s, id_e = [], []
        run_s, run_e, run_n = [], [], []
        keys_f, vals_f, tag_counts = [], [], []
        pos = 0
        j = 0
        for _ in range(n_entities):
            id_s.append(pos)
            e0 = ends_l[j]
            id_e.append(e0)
            ntags = _uvarint_at(payload, e0 + 1)
            pos = ends_l[j + 1] + 1
            j += 2
            tag_counts.append(ntags)
            if ntags:
                pos, j = _walk_tags(payload, ends_l, pos, j, ntags, keys_f, vals_f)
            nrefs = _uvarint_at(payload, pos)
            if nrefs:
                # the whole ref run is contiguous varints: its last
                # terminator is ends_l[j + nrefs] — one O(1) jump
                run_s.append(ends_l[j] + 1)
                run_e.append(ends_l[j + nrefs])
                pos = ends_l[j + nrefs] + 1
                j += nrefs + 1
            else:
                pos = ends_l[j] + 1
                j += 1
            run_n.append(nrefs)
        ids = np.cumsum(np_unzigzag(_gather_varints(arr, id_s, id_e)), dtype=np.int64)
        refs_abs = np.cumsum(np_unzigzag(_gather_varints(arr, run_s, run_e)), dtype=np.int64)
        node_ids = pa.ListArray.from_arrays(
            pa.array(_tag_offsets(run_n), pa.int32()), pa.array(refs_abs, pa.int64())
        )
        return _entity_batch(
            "way",
            ids,
            _tags_list_array(_tag_offsets(tag_counts), keys_f, vals_f),
            node_ids=node_ids,
        )
    if kind == "relation":
        r = _Reader(payload)
        eid = 0
        ids = []
        keys_f, vals_f, tag_counts = [], [], []
        mtypes_f, mids_f, roles_f, mem_counts = [], [], [], []
        for _ in range(n_entities):
            eid += r.s64()
            tags = r.tags()
            n = r.u64()
            for _ in range(n):
                mids_f.append(r.s64())  # absolute, VexInput.java:140
                mtypes_f.append(_MEMBER_TYPES[r.u64()])
                roles_f.append(r.string())
            mem_counts.append(n)
            ids.append(eid)
            tag_counts.append(len(tags))
            for k, v in tags:
                keys_f.append(k)
                vals_f.append(v)
        member_struct = pa.StructArray.from_arrays(
            [
                pa.array(mtypes_f, pa.string()),
                pa.array(mids_f, pa.int64()),
                pa.array(roles_f, pa.string()),
            ],
            names=["type", "member_id", "role"],
        )
        members = pa.ListArray.from_arrays(
            pa.array(_tag_offsets(mem_counts), pa.int32()), member_struct
        )
        return _entity_batch(
            "relation",
            np.array(ids, np.int64),
            _tags_list_array(_tag_offsets(tag_counts), keys_f, vals_f),
            members=members,
        )
    raise ValueError(kind)


def decode_vex_block(kind: str, n_entities: int, payload: bytes) -> pd.DataFrame:
    """Pandas view of ``decode_vex_block_arrow`` (tests + ad-hoc use;
    the Spark read path stays in Arrow end-to-end)."""
    df = decode_vex_block_arrow(kind, n_entities, payload).to_pandas()
    for col in ("tags", "node_ids", "members"):
        df[col] = df[col].map(lambda v: None if v is None else list(v))
    return df


DEFLATE_LEVEL = 3  # see pbf.DEFLATE_LEVEL — encode-speed/size knob, any
# level is a valid stream for the inflating reader


def _frame_block(kind: str, n_entities: int, payload: bytes) -> bytes:
    """payload → framed deflated block bytes (VEXBlock.writeDeflated)."""
    deflated = zlib.compress(payload, DEFLATE_LEVEL)
    return (
        _HEADERS[kind]
        + struct.pack(">ii", n_entities, len(deflated))
        + deflated
    )


_ZERO_STATE = (0, 0, 0, 0)  # (prev_id, prev_lat, prev_lon, prev_ref)


def _encode_vex_entity(kind: str, row, state: tuple) -> tuple:
    """Encode ONE entity against the given delta state → (bytes, new_state).

    Split out so the block writer can test-encode an entity BEFORE
    committing it: if appending would push the inflated block past the
    reader's fixed 1 MiB buffer (VEXBlock.java:25), the current block is
    flushed first and the entity re-encoded against the reset state.
    """
    prev_id, prev_lat, prev_lon, prev_ref = state
    w = _Writer()
    eid = int(row.id)
    w.s64(eid - prev_id)
    w.tags(row.tags)
    if kind == "node":
        w.s64(int(row.fixed_lat) - prev_lat)
        w.s64(int(row.fixed_lon) - prev_lon)
        prev_lat, prev_lon = int(row.fixed_lat), int(row.fixed_lon)
    elif kind == "way":
        refs = _as_list(row.node_ids)
        w.u64(len(refs))
        for ref in refs:
            w.s64(int(ref) - prev_ref)
            prev_ref = int(ref)
    else:
        members = _as_list(row.members)
        w.u64(len(members))
        for m in members:
            w.s64(int(m["member_id"]))
            w.u64(_MEMBER_ORD[m["type"]])
            w.string(m["role"])
    return bytes(w.out), (eid, prev_lat, prev_lon, prev_ref)


_UV_SMALL = [bytes([i]) for i in range(128)]  # 1-byte varints (the common case)


def _uv(n: int) -> bytes:
    if n < 128:
        return _UV_SMALL[n]
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag_blob(tags) -> bytes:
    """Tag list → its wire bytes WITHOUT the leading count (the count
    is a vectorized column)."""
    parts = []
    for t in _as_list(tags):
        k = (t["key"] or "").encode("utf-8")
        v = (t["value"] if t["value"] is not None else "").encode("utf-8")
        parts.append(_uv(len(k)))
        parts.append(k)
        parts.append(_uv(len(v)))
        parts.append(v)
    return b"".join(parts)


def _varint_col_frags(vals: np.ndarray) -> list:
    """uint64 column → per-value varint bytes objects via ONE vectorized
    encode + C-level slicing."""
    enc, lens = np_encode_varints_with_lens(vals)
    buf = enc.tobytes()
    out = []
    o = 0
    for ln in lens.tolist():
        out.append(buf[o : o + ln])
        o += ln
    return out


def _chain_frags(kind: str, frame: pd.DataFrame) -> list:
    """Per-entity wire fragments assuming an UNBROKEN delta chain from
    state zero (entity 0 is naturally reset-state; block starts > 0 get
    re-encoded scalar-side). All varint columns encode in single numpy
    passes — the old per-varint Python writer was the encode hot spot.
    """
    ids = frame["id"].to_numpy(np.int64)
    id_b = _varint_col_frags(np_zigzag(np.diff(ids, prepend=0)))
    tags_cells = frame["tags"].tolist()
    ntags = np.array([len(_as_list(t)) for t in tags_cells], np.uint64)
    nt_b = _varint_col_frags(ntags)
    blobs = [_tag_blob(t) if n else b"" for t, n in zip(tags_cells, ntags.tolist())]
    if kind == "node":
        lat_b = _varint_col_frags(
            np_zigzag(np.diff(frame["fixed_lat"].to_numpy(np.int64), prepend=0))
        )
        lon_b = _varint_col_frags(
            np_zigzag(np.diff(frame["fixed_lon"].to_numpy(np.int64), prepend=0))
        )
        return [
            i + n + t + la + lo
            for i, n, t, la, lo in zip(id_b, nt_b, blobs, lat_b, lon_b)
        ]
    # way: the ref delta chain carries ACROSS entities within a block
    refs_cells = [_as_list(r) for r in frame["node_ids"].tolist()]
    counts = np.array([len(r) for r in refs_cells], np.int64)
    nref_b = _varint_col_frags(counts.astype(np.uint64))
    if counts.sum():
        flat = np.concatenate(
            [np.asarray(r, np.int64) for r in refs_cells if len(r)]
        )
        enc, lens = np_encode_varints_with_lens(np_zigzag(np.diff(flat, prepend=0)))
        refbuf = enc.tobytes()
        seg_lens = np.zeros(len(counts), np.int64)
        np.add.at(
            seg_lens, np.repeat(np.arange(len(counts)), counts), lens
        )
        offs = np.concatenate(([0], np.cumsum(seg_lens))).tolist()
        run_b = [refbuf[offs[i] : offs[i + 1]] for i in range(len(counts))]
    else:
        run_b = [b""] * len(counts)
    return [
        i + n + t + nr + rr
        for i, n, t, nr, rr in zip(id_b, nt_b, blobs, nref_b, run_b)
    ]


def encode_vex_rows(kind: str, frame: pd.DataFrame, max_bytes: int = 900_000):
    """Encode id-sorted entity rows into 1+ framed blocks, flushing
    BEFORE an entity whose addition would cross the inflated-size cap
    (so no block ever exceeds the reader's 1 MiB buffer — the old
    flush-after-append could overflow it on a single huge relation).
    A lone entity larger than the cap is a hard error. Yields
    (first_id, framed_bytes).

    Node/way blocks encode vectorized (``_chain_frags``: one numpy
    varint pass per column, per-entity fragments by slicing); only each
    block's FIRST entity re-encodes scalar-side against reset delta
    state, so the emitted bytes are identical to the scalar writer's
    (differential-tested). Relations stay scalar — string-heavy members,
    ~0.5% of entities.
    """
    if kind in ("node", "way") and len(frame):
        frags = _chain_frags(kind, frame)
        ids = frame["id"].to_numpy(np.int64)
        if kind == "way":
            ref_counts = [len(_as_list(r)) for r in frame["node_ids"].tolist()]
        n = len(frags)
        i = 0
        while i < n:
            if i == 0:
                reset_b = frags[0]  # chain-from-zero == reset state
            else:
                reset_b, _ = _encode_vex_entity(kind, frame.iloc[i], _ZERO_STATE)
            if len(reset_b) > VEX_BUFFER_SIZE:
                raise ValueError(
                    f"single {kind} {int(ids[i])} encodes to {len(reset_b)} bytes — "
                    f"exceeds the {VEX_BUFFER_SIZE}-byte VEX block buffer"
                )
            # Exact greedy walk (mirrors the scalar writer's decisions):
            # chain fragments are valid inside the block EXCEPT for a
            # way block's first ref-bearing entity when the block opened
            # with ref-less ways — the ref chain is still at 0 then, so
            # that one entity re-encodes with (chain id, zero ref) state.
            # Fuzz-caught: the pure cumsum split missed this case.
            block = [reset_b]
            total = len(reset_b)
            refs_seen = kind != "way" or ref_counts[i] > 0
            k = i + 1
            while k < n:
                if not refs_seen and ref_counts[k] > 0:
                    fb, _ = _encode_vex_entity(
                        "way", frame.iloc[k], (int(ids[k - 1]), 0, 0, 0)
                    )
                else:
                    fb = frags[k]
                if total + len(fb) > max_bytes:
                    break
                block.append(fb)
                total += len(fb)
                if kind == "way" and ref_counts[k] > 0:
                    refs_seen = True
                k += 1
            yield (int(ids[i]), _frame_block(kind, k - i, b"".join(block)))
            i = k
        return
    yield from _encode_vex_rows_scalar(kind, frame, max_bytes)


def _encode_vex_rows_scalar(kind: str, frame: pd.DataFrame, max_bytes: int = 900_000):
    """Scalar reference writer (relations + the vectorized writer's
    differential oracle in tests)."""
    buf = bytearray()
    state = _ZERO_STATE
    n_in_block = 0
    first_id = None

    def flush():
        nonlocal buf, state, n_in_block, first_id
        out = (first_id, _frame_block(kind, n_in_block, bytes(buf)))
        buf = bytearray()
        state = _ZERO_STATE
        n_in_block = 0
        first_id = None
        return out

    for row in frame.itertuples(index=False):
        eb, st2 = _encode_vex_entity(kind, row, state)
        if n_in_block and len(buf) + len(eb) > max_bytes:
            yield flush()
            eb, st2 = _encode_vex_entity(kind, row, state)
        if len(eb) > VEX_BUFFER_SIZE:
            raise ValueError(
                f"single {kind} {int(row.id)} encodes to {len(eb)} bytes — "
                f"exceeds the {VEX_BUFFER_SIZE}-byte VEX block buffer"
            )
        if first_id is None:
            first_id = int(row.id)
        buf += eb
        state = st2
        n_in_block += 1
    if n_in_block:
        yield flush()


# ---------------------------------------------------------------------------
# Spark integration (same dataflow as sources/pbf.py)
# ---------------------------------------------------------------------------


def read_vex(spark, path: str, blobs_per_task: int = 16):
    """Distributed VEX read → unified entity DataFrame (blocks are the
    parallelism unit; tasks seek + inflate + decode their own blocks)."""
    idx = blob_index(
        spark,
        scan_vex_blocks(path),
        "path string, offset long, size long, kind string, n_entities long, seq long",
        blobs_per_task,
    )

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Arrow end-to-end: each block decodes straight into Arrow arrays
        # (flats + offsets) — no pandas object columns anywhere on the path
        for batch in batches:
            for r in batch.to_pylist():
                with open(r["path"], "rb") as f:
                    f.seek(int(r["offset"]))
                    payload = _inflate_block(f.read(int(r["size"])))
                yield decode_vex_block_arrow(r["kind"], int(r["n_entities"]), payload)

    return idx.mapInArrow(decode, schema=ENTITY_SCHEMA)


def write_vex(path: str, nodes, ways, relations):
    """Distributed VEX sink (``pbf.write_blocks``): each id-sorted
    bucket encodes into byte-capped blocks (``encode_vex_rows``; delta
    state resets per block — VexOutput.beginBlock), written type-major
    in (type, first_id) order. VEX has no file header."""
    def encode(rank: int, batch: pa.RecordBatch) -> Iterator[bytes]:
        return (blob for _, blob in encode_vex_rows(TYPE_NAMES[rank], batch.to_pandas()))

    return write_blocks(path, (nodes, ways, relations), encode, BLOCK_SIZE)
