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
the PBF one (``pbf.write_blocks``): rows bucketed by id range, each
bucket encoded into byte-capped blocks, on the driver when the tables
fit under the broadcast threshold, else by one ``mapInArrow`` per task
that writes them as part files named by (type, bucket); the driver
concatenates the parts in name order (multipart-compose). The varints, zigzag deltas, list columns and member columns go
through ``sources/pbf.py``'s codec and Arrow column kernels.

The payload is a sequential varint/string stream (strings interleave
the varints, so PBF's purely columnar decode doesn't apply directly);
the decode is a two-pass hybrid: a lean structural walk records varint
spans — whole ref runs jump in O(1) via the block-wide terminator index
— then ids/lats/lons/refs decode in single vectorized numpy passes and
columns build as Arrow arrays from flats + counts
(``decode_vex_block_arrow``). Encode reads the Arrow columns of a
``pa.RecordBatch`` (``_chain_frags``: one numpy varint pass per column
gives every entity's bytes as if the whole batch were one delta chain);
``encode_vex_rows`` then walks the entities greedily, closing a block
before the entity that would cross the byte cap and re-encoding each
block's first entity against reset state — bytes identical to the
scalar writer ``_encode_vex_rows_scalar``, differential-tested.
Relations go through the scalar writer. Measured on sf-s (115,600
entities, one Python process, 4 vCPU host): encode 0.45 CPU-s, decode
0.60 CPU-s.
"""

from __future__ import annotations

import os
import struct
import zlib
from bisect import bisect_left
from typing import Iterator

import numpy as np
import pyarrow as pa

from osm_lib_spark.sources.pbf import (
    BLOCK_SIZE,
    ENTITY_SCHEMA,
    TYPE_NAMES,
    _MEMBER_ORD,
    _as_list,
    _enc_bytes,
    _enc_varint,
    _entity_batch,
    _int64s,
    _list_array,
    _list_col,
    _members_array,
    _offsets,
    _read_varint,
    _seg_varint_spans,
    _tag_columns,
    _tags_list_array,
    _zigzag_deltas,
    blob_index,
    np_decode_varints,
    np_unzigzag,
    write_blocks,
)

VEX_BUFFER_SIZE = 1 << 20  # VEXBlock.java:25 — inflated blocks ≤ 1 MiB
_TYPES = {b"VEXN": "node", b"VEXW": "way", b"VEXR": "relation"}
_HEADERS = {"node": b"VEXN", "way": b"VEXW", "relation": b"VEXR"}


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


# ---------------------------------------------------------------------------
# block decode
# ---------------------------------------------------------------------------


def _read_string(buf: bytes, pos: int) -> tuple[str, int]:
    """The string at ``pos`` → (str, position after it); one that runs
    past the block raises ``ValueError``."""
    n, pos = _read_varint(buf, pos)
    if pos + n > len(buf):
        raise ValueError(f"string at byte {pos} runs {pos + n - len(buf)} bytes past its VEX block")
    return buf[pos : pos + n].decode("utf-8"), pos + n


def _gather_varints(arr: np.ndarray, starts: list, ends: list) -> np.ndarray:
    """Gather scattered-but-intact varint spans [start..end] into one
    packed buffer and decode them in ONE vectorized pass — the
    continuation-bit boundaries survive concatenation because every
    gathered span is a whole varint (or a run of whole varints)."""
    if not starts:
        return np.zeros(0, dtype=np.uint64)
    s = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(ends, dtype=np.int64) - s + 1
    idx = np.arange(int(lens.sum()), dtype=np.int64) + np.repeat(s - _offsets(lens)[:-1], lens)
    return np_decode_varints(arr[idx])


def _walk_tags(payload: bytes, pos: int, ntags: int, keys_out: list, vals_out: list) -> int:
    """Decode one entity's ``ntags`` tags at ``pos``, appending to the
    block-flat key/value lists (the Arrow list<struct> column is built
    once from flats + counts — no per-entity dict objects). Returns the
    position after the tags."""
    if ntags > 500:  # corruption guard, VexInput.java:88-90
        raise ValueError(f"entity has {ntags} tags — corrupted VEX data")
    for _ in range(ntags):
        key, pos = _read_string(payload, pos)
        val, pos = _read_string(payload, pos)
        keys_out.append(key)
        vals_out.append(val)
    return pos


def decode_vex_block_arrow(kind: str, n_entities: int, payload: bytes) -> pa.RecordBatch:
    """One inflated block → an Arrow RecordBatch in the unified entity
    schema. A payload that ends before ``n_entities`` entities or goes
    on past them, or whose varints or strings run past it, raises
    ``ValueError``.

    Vectorized two-pass decode (the sources/pbf.py ``_batch_packed``
    pattern adapted to an interleaved stream): a lean structural walk
    records varint SPANS — O(1) per contiguous run via the block-wide
    terminator index, so a way's whole ref run is one jump — and only
    decodes the navigation counts scalar-side; then ids / lats / lons /
    refs decode in single ``np_decode_varints`` passes with the
    cross-entity delta chains (VexInput.java:23,118 — they carry across
    entities within a block) restored by one cumsum per column. Columns
    are built directly as Arrow arrays from flats + counts.
    Relations are walked value by value: they are ~0.5% of entities and
    their members are string-heavy (role per member), which the span
    walk can't vectorize anyway.
    """
    decode = {"node": _decode_nodes, "way": _decode_ways, "relation": _decode_relations}[kind]
    try:
        batch, end = decode(n_entities, payload)
    except IndexError:
        # the walk indexes the terminator list past its end only when the
        # payload has fewer entities than the header says
        raise ValueError(f"VEX {kind} block ends before its {n_entities} entities") from None
    if end != len(payload):
        raise ValueError(f"VEX {kind} block has {len(payload) - end} bytes past its {n_entities} entities")
    return batch


def _decode_nodes(n_entities: int, payload: bytes) -> tuple[pa.RecordBatch, int]:
    arr = np.frombuffer(payload, dtype=np.uint8)
    ends_l = np.flatnonzero(arr < 0x80).tolist()
    id_s, id_e = [], []
    ll_s, ll_e = [], []
    keys_f, vals_f, tag_counts = [], [], []
    pos = 0
    j = 0
    for _ in range(n_entities):
        id_s.append(pos)
        id_e.append(ends_l[j])
        ntags, pos = _read_varint(payload, ends_l[j] + 1)
        j += 2
        tag_counts.append(ntags)
        if ntags:
            pos = _walk_tags(payload, pos, ntags, keys_f, vals_f)
            j = bisect_left(ends_l, pos)
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
        _tags_list_array(tag_counts, keys_f, vals_f),
        fixed_lat=np.cumsum(ll[0::2]).astype(np.int32),
        fixed_lon=np.cumsum(ll[1::2]).astype(np.int32),
    ), pos


def _decode_ways(n_entities: int, payload: bytes) -> tuple[pa.RecordBatch, int]:
    arr = np.frombuffer(payload, dtype=np.uint8)
    ends_l = np.flatnonzero(arr < 0x80).tolist()
    id_s, id_e = [], []
    run_s, run_e, run_n = [], [], []
    keys_f, vals_f, tag_counts = [], [], []
    pos = 0
    j = 0
    for _ in range(n_entities):
        id_s.append(pos)
        id_e.append(ends_l[j])
        ntags, pos = _read_varint(payload, ends_l[j] + 1)
        j += 2
        tag_counts.append(ntags)
        if ntags:
            pos = _walk_tags(payload, pos, ntags, keys_f, vals_f)
            j = bisect_left(ends_l, pos)
        nrefs, _ = _read_varint(payload, pos)
        if nrefs:
            # the whole ref run is contiguous varints: its last
            # terminator is ends_l[j + nrefs] — one O(1) jump
            run_s.append(ends_l[j] + 1)
            run_e.append(ends_l[j + nrefs])
        pos = ends_l[j + nrefs] + 1
        j += nrefs + 1
        run_n.append(nrefs)
    ids = np.cumsum(np_unzigzag(_gather_varints(arr, id_s, id_e)), dtype=np.int64)
    refs_abs = np.cumsum(np_unzigzag(_gather_varints(arr, run_s, run_e)), dtype=np.int64)
    return _entity_batch(
        "way",
        ids,
        _tags_list_array(tag_counts, keys_f, vals_f),
        node_ids=_list_array(run_n, pa.array(refs_abs, pa.int64())),
    ), pos


def _decode_relations(n_entities: int, payload: bytes) -> tuple[pa.RecordBatch, int]:
    id_deltas, keys_f, vals_f, tag_counts = [], [], [], []
    mids, mtypes, roles, mem_counts = [], [], [], []
    pos = 0
    for _ in range(n_entities):
        delta, pos = _read_varint(payload, pos)
        ntags, pos = _read_varint(payload, pos)
        pos = _walk_tags(payload, pos, ntags, keys_f, vals_f)
        n, pos = _read_varint(payload, pos)
        for _ in range(n):
            mid, pos = _read_varint(payload, pos)  # absolute, VexInput.java:140
            mtype, pos = _read_varint(payload, pos)
            role, pos = _read_string(payload, pos)
            mids.append(mid)
            mtypes.append(mtype)
            roles.append(role)
        id_deltas.append(delta)
        tag_counts.append(ntags)
        mem_counts.append(n)
    ids = np.cumsum(np_unzigzag(np.array(id_deltas, np.uint64)), dtype=np.int64)
    members = _members_array(
        mem_counts, np.array(mtypes, np.uint64), np_unzigzag(np.array(mids, np.uint64)), roles
    )
    return _entity_batch(
        "relation", ids, _tags_list_array(tag_counts, keys_f, vals_f), members=members
    ), pos


# ---------------------------------------------------------------------------
# block encode ← Arrow record batches
# ---------------------------------------------------------------------------

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


def _enc_sint(v: int) -> bytes:
    """sint64: the zigzag varint of ``v``."""
    return _enc_varint((v << 1) ^ (v >> 63))


def _enc_string(s: str | None) -> bytes:
    """A VEX string; None is written as ""."""
    return _enc_bytes((s or "").encode("utf-8"))


_ZERO_STATE = (0, 0, 0, 0)  # (prev_id, prev_lat, prev_lon, prev_ref)


def _encode_vex_entity(kind: str, row: dict, state: tuple) -> tuple:
    """Encode ONE entity (a ``to_pylist()`` row) against the given delta
    state → (bytes, new_state).

    Split out so the block writer can test-encode an entity BEFORE
    committing it: if appending would push the inflated block past the
    reader's fixed 1 MiB buffer (VEXBlock.java:25), the current block is
    flushed first and the entity re-encoded against the reset state.
    """
    prev_id, prev_lat, prev_lon, prev_ref = state
    tags = _as_list(row["tags"])
    out = [_enc_sint(row["id"] - prev_id), _enc_varint(len(tags))]
    out += [_enc_string(t["key"]) + _enc_string(t["value"]) for t in tags]
    if kind == "node":
        out += [_enc_sint(row["fixed_lat"] - prev_lat), _enc_sint(row["fixed_lon"] - prev_lon)]
        prev_lat, prev_lon = row["fixed_lat"], row["fixed_lon"]
    elif kind == "way":
        refs = _as_list(row["node_ids"])
        out.append(_enc_varint(len(refs)))
        for ref in refs:
            out.append(_enc_sint(ref - prev_ref))
            prev_ref = ref
    else:
        members = _as_list(row["members"])
        out.append(_enc_varint(len(members)))
        out += [
            _enc_sint(m["member_id"]) + _enc_varint(_MEMBER_ORD[m["type"]]) + _enc_string(m["role"])
            for m in members
        ]
    return b"".join(out), (row["id"], prev_lat, prev_lon, prev_ref)


def _chain_frags(kind: str, batch: pa.RecordBatch) -> list:
    """Per-entity wire fragments of a node or way batch assuming an
    UNBROKEN delta chain from state zero (entity 0 is naturally
    reset-state; block starts > 0 get re-encoded scalar-side). Every
    varint column encodes in one numpy pass; the tag strings are the
    per-tag Python left."""
    tag_counts, keys, vals = _tag_columns(batch)
    pairs = [_enc_string(k) + _enc_string(v) for k, v in zip(keys.tolist(), vals.tolist())]
    offs = _offsets(tag_counts).tolist()
    cols = [
        _seg_varint_spans(_zigzag_deltas(_int64s(batch.column("id")))),
        _seg_varint_spans(tag_counts),
        [b"".join(pairs[lo:hi]) for lo, hi in zip(offs, offs[1:])],
    ]
    if kind == "node":
        cols += [
            _seg_varint_spans(_zigzag_deltas(_int64s(batch.column(c)))) for c in ("fixed_lat", "fixed_lon")
        ]
    else:  # way: the ref delta chain carries ACROSS entities within a block
        ref_counts, refs = _list_col(batch, "node_ids")
        cols += [
            _seg_varint_spans(ref_counts),
            _seg_varint_spans(_zigzag_deltas(_int64s(refs)), ref_counts),
        ]
    return [b"".join(parts) for parts in zip(*cols)]


def encode_vex_rows(kind: str, batch: pa.RecordBatch, max_bytes: int = 900_000):
    """Encode an id-sorted entity batch into 1+ framed blocks, flushing
    BEFORE an entity whose addition would cross the inflated-size cap
    (so no block ever exceeds the reader's 1 MiB buffer — the old
    flush-after-append could overflow it on a single huge relation).
    A lone entity larger than the cap is a hard error. Yields
    (first_id, framed_bytes).

    Node/way blocks encode vectorized (``_chain_frags``); only each
    block's FIRST entity re-encodes scalar-side against reset delta
    state, so the emitted bytes are identical to the scalar writer's
    (differential-tested). Relations stay scalar — string-heavy members,
    ~0.5% of entities.
    """
    if kind not in ("node", "way") or not batch.num_rows:
        yield from _encode_vex_rows_scalar(kind, batch, max_bytes)
        return
    frags = _chain_frags(kind, batch)
    ids = _int64s(batch.column("id"))
    if kind == "way":
        ref_counts = _list_col(batch, "node_ids")[0]
    n = len(frags)
    i = 0
    while i < n:
        if i == 0:
            reset_b = frags[0]  # chain-from-zero == reset state
        else:
            reset_b, _ = _encode_vex_entity(kind, batch.slice(i, 1).to_pylist()[0], _ZERO_STATE)
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
        block = [reset_b]
        total = len(reset_b)
        refs_seen = kind != "way" or ref_counts[i] > 0
        k = i + 1
        while k < n:
            if not refs_seen and ref_counts[k] > 0:
                fb, _ = _encode_vex_entity(
                    "way", batch.slice(k, 1).to_pylist()[0], (int(ids[k - 1]), 0, 0, 0)
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


def _encode_vex_rows_scalar(kind: str, batch: pa.RecordBatch, max_bytes: int = 900_000):
    """Scalar reference writer over ``batch.to_pylist()`` rows (relations
    + the vectorized writer's differential oracle in tests)."""
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

    for row in batch.to_pylist():
        eb, st2 = _encode_vex_entity(kind, row, state)
        if n_in_block and len(buf) + len(eb) > max_bytes:
            yield flush()
            eb, st2 = _encode_vex_entity(kind, row, state)
        if len(eb) > VEX_BUFFER_SIZE:
            raise ValueError(
                f"single {kind} {row['id']} encodes to {len(eb)} bytes — "
                f"exceeds the {VEX_BUFFER_SIZE}-byte VEX block buffer"
            )
        if first_id is None:
            first_id = row["id"]
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
        # (flats + counts) — no pandas object columns anywhere on the path
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
        return (blob for _, blob in encode_vex_rows(TYPE_NAMES[rank], batch))

    return write_blocks(path, (nodes, ways, relations), encode, BLOCK_SIZE)
