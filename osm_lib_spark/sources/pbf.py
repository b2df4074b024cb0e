"""Byte-level OSM PBF source and sink (reference S1/K1).

From-scratch implementation of the public OSM PBF container format
(fileformat.proto / osmformat.proto wire layout): a stream of
[4-byte big-endian length][BlobHeader][Blob] records, where each Blob
holds a zlib-compressed (or raw) OSMHeader / OSMData block. OSMData is
a PrimitiveBlock: a per-block string table plus primitive groups of
dense nodes (delta-coded id/lat/lon + 0-terminated keys_vals), ways
(delta-coded refs), and relations (delta-coded memids).

Semantics mirrored from the reference (cited for parity, not copied —
this is a numpy wire codec, the reference drives the osmosis protobuf
library):

* dense-node delta decode + string-table tag lookup —
  PBFInput.java:88-121
* way ref delta decode — PBFInput.java:124-152
* relation memid delta decode + member types — PBFInput.java:155-195
* fixed-point conversion: degrees = 1e-9*(offset + granularity*raw),
  fixed = (int)(degrees * 1e7) truncating toward zero (osmosis
  BinaryParser.parseLat semantics + Node.java:26-29)
* sink block structure: ≤8000 entities per block, one primitive group
  per block, per-block string table with "" at index 0, type
  transitions force a new block, dense nodes always — that is, blocks
  are type-pure — PBFOutput.java:54-135
* zlib-deflate each block, store raw if deflate doesn't shrink it —
  PBFOutput.java:96-120,142-157

Spark-first dataflow:

* READ: the blob directory scan (`scan_blobs`) reads only the ~32-byte
  headers (seek + skip), yielding a (path, offset, size, seq) blob
  table (a ``local_frame``: no Python task scans it). Blobs are the
  parallelism unit — `mapInArrow` tasks seek into the file and decode
  their own blobs, so a planet file fans out across executors without
  ever landing whole on the driver. All hot
  decode paths are block-wide numpy passes: packed varints decode once
  per COLUMN per block (`_batch_packed` concatenates every way's/
  relation's field payloads before one vectorized decode — per-entity
  numpy calls cost more in dispatch than decoding), dense-node tags
  assemble via zero-terminator arithmetic, and entity columns are
  built as Arrow arrays directly (never pandas object dicts).
* WRITE (``write_blocks``, shared with the VEX sink): rows are bucketed
  by id range into ~``block_size``-row buckets, with tasks sized by
  block count (a Python task costs a fixed ~0.08 CPU-s), and ONE
  ``mapInArrow`` per task encodes its buckets into part files named by
  (type, bucket); PBF blocks share no state (delta coding and string
  tables reset per block). Blocks encode in block-wide numpy passes:
  string-table codes via one sorted-unique, keys_vals by vectorized
  scatter, refs as segmented-delta varints sliced by byte-span cumsums.
  The driver concatenates the parts in name order — multipart PUT +
  compose on an object store, O(1) driver memory.

Measured at sf0.1 (2.9M entities, local[32]): decode ~2.6M entities/s,
encode ~0.74M entities/s — same order as the reference's single-node
osmosis stream, with the difference that this codec fans out per blob
and the sink's part-file compose keeps driver memory O(1).
"""

from __future__ import annotations

import os
import struct
import zlib
from contextlib import contextmanager
from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# protobuf wire primitives (numpy-vectorized for packed arrays)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Scalar varint — for message framing only, never per-entity data."""
    result = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def np_decode_varints(buf: np.ndarray) -> np.ndarray:
    """Decode a packed varint byte array → uint64 values, vectorized.

    Varint boundaries are the bytes without the continuation bit; each
    byte contributes its 7-bit payload shifted by its offset within its
    varint. One pass of numpy ops, no Python loop over values.
    """
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64)
    cont = (buf & 0x80) != 0
    ends = np.flatnonzero(~cont)
    starts = np.concatenate(([0], ends[:-1] + 1))
    idx = np.arange(len(buf), dtype=np.int64)
    gid = np.searchsorted(ends, idx)
    shift = ((idx - starts[gid]) * 7).astype(np.uint64)
    vals = (buf & 0x7F).astype(np.uint64) << shift
    out = np.zeros(len(ends), dtype=np.uint64)
    np.add.at(out, gid, vals)
    return out


def np_unzigzag(u: np.ndarray) -> np.ndarray:
    """uint64 zigzag → int64: (u >> 1) ^ -(u & 1)."""
    u = u.astype(np.uint64)
    return ((u >> np.uint64(1)) ^ (~(u & np.uint64(1)) + np.uint64(1))).astype(
        np.int64
    )


def np_zigzag(v: np.ndarray) -> np.ndarray:
    """int64 → uint64 zigzag: (v << 1) ^ (v >> 63)."""
    v = v.astype(np.int64)
    return ((v << np.int64(1)) ^ (v >> np.int64(63))).astype(np.uint64)


def np_encode_varints_with_lens(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 values → (packed varint bytes, per-value byte length),
    vectorized: per-value lengths first, then the i-th byte of every
    value scatters in ≤10 passes."""
    v = np.asarray(vals, dtype=np.uint64)
    if len(v) == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    lens = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while (tmp != 0).any():
        lens += (tmp != 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    out = np.zeros(int(lens.sum()), dtype=np.uint8)
    for i in range(int(lens.max())):
        sel = lens > i
        byte = ((v[sel] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        more = (lens[sel] - 1 > i).astype(np.uint8) << 7
        out[offs[sel] + i] = byte | more
    return out, lens


def np_encode_varints(vals: np.ndarray) -> np.ndarray:
    """uint64 values → packed varint bytes, vectorized."""
    return np_encode_varints_with_lens(vals)[0]


def _fields(data: bytes) -> Iterator[tuple[int, int, object]]:
    """Walk a protobuf message: yields (field_no, wire_type, value).

    wire 0 → int value; wire 2 → bytes; wire 1/5 → raw fixed bytes. A
    value that runs past the end of ``data`` raises ``ValueError``.
    """
    pos, n = 0, len(data)
    while pos < n:
        key, pos = _read_varint(data, pos)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            val, pos = _read_varint(data, pos)
            yield fno, wt, val
            continue
        if wt == 2:
            ln, pos = _read_varint(data, pos)
        elif wt == 5:
            ln = 4
        elif wt == 1:
            ln = 8
        else:  # pragma: no cover — groups are not used by PBF
            raise ValueError(f"unsupported wire type {wt}")
        if pos + ln > n:
            raise ValueError(f"field {fno} runs {pos + ln - n} bytes past its message")
        yield fno, wt, data[pos : pos + ln]
        pos += ln


def _packed_u64(wt: int, val: object, out: list) -> None:
    """Accumulate a packed-or-single varint field occurrence."""
    if wt == 2:
        out.append(np_decode_varints(np.frombuffer(val, dtype=np.uint8)))
    else:
        out.append(np.array([val], dtype=np.uint64))


def _cat(parts: list, dtype=np.uint64) -> np.ndarray:
    if not parts:
        return np.zeros(0, dtype=dtype)
    return np.concatenate(parts).astype(dtype)


# ---------------------------------------------------------------------------
# encode helpers
# ---------------------------------------------------------------------------


def _enc_varint(n: int) -> bytes:
    out = bytearray()
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_field_varint(fno: int, val: int) -> bytes:
    return _enc_varint(fno << 3) + _enc_varint(val)


def _enc_field_bytes(fno: int, val: bytes) -> bytes:
    return _enc_varint((fno << 3) | 2) + _enc_varint(len(val)) + val


def _enc_packed(fno: int, vals: np.ndarray) -> bytes:
    """Packed repeated varint field (empty → omitted)."""
    if len(vals) == 0:
        return b""
    payload = np_encode_varints(vals).tobytes()
    return _enc_field_bytes(fno, payload)


# ---------------------------------------------------------------------------
# blob framing
# ---------------------------------------------------------------------------

_ACCEPTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes"}


def scan_blobs(path: str) -> list[tuple[str, int, int, str, int]]:
    """Index a PBF file's blobs WITHOUT reading blob payloads.

    Reads each [len][BlobHeader], seeks past the datasize, and returns
    (path, payload_offset, payload_size, kind, seq) rows — the
    parallelism unit for the distributed read. I/O is O(#blobs · 32B).
    A file cut inside a frame, a header or a payload raises
    ``ValueError``.
    """
    rows = []
    seq = 0
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        while True:
            head = f.read(4)
            if not head:
                break
            if len(head) < 4:
                raise ValueError(f"{path}: truncated blob frame at byte {f.tell() - len(head)}")
            (hlen,) = struct.unpack(">I", head)
            header = f.read(hlen)
            if len(header) < hlen:
                raise ValueError(f"{path}: truncated BlobHeader at byte {f.tell() - len(header)}")
            kind, datasize = None, None
            for fno, wt, val in _fields(header):
                if fno == 1:
                    kind = val.decode("utf-8")
                elif fno == 3:
                    datasize = val
            if kind is None or datasize is None:
                raise ValueError(f"{path}: BlobHeader without type or datasize")
            offset = f.tell()
            if offset + datasize > size:
                raise ValueError(
                    f"{path}: {kind} blob at byte {offset} runs {offset + datasize - size} bytes past EOF"
                )
            rows.append((path, offset, datasize, kind, seq))
            seq += 1
            f.seek(offset + datasize)
    return rows


def _inflate_blob(data: bytes) -> bytes:
    """Blob → uncompressed block bytes (raw=1, zlib_data=3)."""
    raw, zdata = None, None
    for fno, wt, val in _fields(data):
        if fno == 1:
            raw = val
        elif fno == 3:
            zdata = val
    if raw is not None:
        return raw
    if zdata is not None:
        try:
            return zlib.decompress(zdata)
        except zlib.error as exc:
            raise ValueError(f"corrupt zlib_data: {exc}") from None
    raise ValueError("blob has neither raw nor zlib_data")


def check_header_block(data: bytes) -> None:
    """Raise on required features we do not implement (PBFInput
    HeaderBlock handling analog)."""
    for fno, wt, val in _fields(data):
        if fno == 4:  # required_features
            feat = val.decode("utf-8")
            if feat not in _ACCEPTED_FEATURES:
                raise ValueError(f"unsupported required PBF feature: {feat}")


# ---------------------------------------------------------------------------
# PrimitiveBlock decode → entity dicts
# ---------------------------------------------------------------------------


def _fixed_from_raw(raw: np.ndarray, granularity: int, offset: int) -> np.ndarray:
    """raw coordinate units → int32 fixed-point, bit-matching the
    reference's double math: trunc(1e-9*(offset + granularity*raw) * 1e7)
    (osmosis parseLat + Node.setLatLon truncation)."""
    nano = offset + granularity * raw.astype(np.int64)  # exact in int64
    deg = nano.astype(np.float64) * 1e-9
    return (deg * 1e7).astype(np.int64).astype(np.int32)


def decode_primitive_block(data: bytes) -> dict:
    """PrimitiveBlock bytes → columnar entity arrays.

    Returns {nodes: (ids, fixed_lat, fixed_lon, tags), ways: (ids,
    refs_list, tags), relations: (ids, members_list, tags)} with numpy
    arrays for all numeric columns; tags are python lists of
    (key, value) tuples (ragged), built from vectorized string-table
    takes.
    """
    strings: list[str] = []
    groups: list[bytes] = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for fno, wt, val in _fields(data):
        if fno == 1:  # stringtable
            strings = [s.decode("utf-8") for f2, w2, s in _fields(val) if f2 == 1]
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 19:
            lat_offset = val
        elif fno == 20:
            lon_offset = val
    stab = np.array(strings, dtype=object) if strings else np.zeros(0, object)

    out = {
        "node_id": [], "node_lat": [], "node_lon": [], "node_tags": [],
        "way_id": [], "way_refs": [], "way_tags": [],
        "rel_id": [], "rel_members": [], "rel_tags": [],
    }

    def tags_from(keys: np.ndarray, vals: np.ndarray) -> list:
        if len(keys) == 0:
            return []
        return list(zip(stab[keys.astype(np.int64)], stab[vals.astype(np.int64)]))

    for group in groups:
        for fno, wt, val in _fields(group):
            if fno == 2:  # dense nodes
                ids_p, lats_p, lons_p, kv_p = [], [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        _packed_u64(w2, v2, ids_p)
                    elif f2 == 8:
                        _packed_u64(w2, v2, lats_p)
                    elif f2 == 9:
                        _packed_u64(w2, v2, lons_p)
                    elif f2 == 10:
                        _packed_u64(w2, v2, kv_p)
                ids = np.cumsum(np_unzigzag(_cat(ids_p)))
                lats = np.cumsum(np_unzigzag(_cat(lats_p)))
                lons = np.cumsum(np_unzigzag(_cat(lons_p)))
                kv = _cat(kv_p).astype(np.int64)  # int32, plain varint
                # keys_vals: int32, 0-terminated runs of (key, val) pairs
                # per node (PBFInput.java:105-114); absent ⇒ no tags at all
                tags_per_node: list
                if len(kv) == 0:
                    tags_per_node = [[] for _ in range(len(ids))]
                else:
                    tags_per_node = []
                    pos = 0
                    for _ in range(len(ids)):
                        start = pos
                        while kv[pos] != 0:
                            pos += 2
                        pair_idx = kv[start:pos]
                        if len(pair_idx):
                            ks = stab[pair_idx[0::2]]
                            vs = stab[pair_idx[1::2]]
                            tags_per_node.append(list(zip(ks, vs)))
                        else:
                            tags_per_node.append([])
                        pos += 1
                out["node_id"].append(ids)
                out["node_lat"].append(_fixed_from_raw(lats, granularity, lat_offset))
                out["node_lon"].append(_fixed_from_raw(lons, granularity, lon_offset))
                out["node_tags"].extend(tags_per_node)
            elif fno == 1:  # non-dense nodes (rare; PBFInput.java:65-80)
                nid, nlat, nlon = 0, 0, 0
                keys = vals = np.zeros(0, np.uint64)
                kp, vp = [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        nid = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 8:
                        nlat = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 9:
                        nlon = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                out["node_id"].append(np.array([nid], np.int64))
                out["node_lat"].append(
                    _fixed_from_raw(np.array([nlat], np.int64), granularity, lat_offset)
                )
                out["node_lon"].append(
                    _fixed_from_raw(np.array([nlon], np.int64), granularity, lon_offset)
                )
                out["node_tags"].append(tags_from(_cat(kp), _cat(vp)))
            elif fno == 3:  # way
                wid = 0
                kp, vp, rp = [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                    elif f2 == 8:
                        _packed_u64(w2, v2, rp)
                refs = np.cumsum(np_unzigzag(_cat(rp)))
                out["way_id"].append(wid)
                out["way_refs"].append(refs)
                out["way_tags"].append(tags_from(_cat(kp), _cat(vp)))
            elif fno == 4:  # relation
                rid = 0
                kp, vp, roles_p, mem_p, types_p = [], [], [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                    elif f2 == 8:
                        _packed_u64(w2, v2, roles_p)
                    elif f2 == 9:
                        _packed_u64(w2, v2, mem_p)
                    elif f2 == 10:
                        _packed_u64(w2, v2, types_p)
                memids = np.cumsum(np_unzigzag(_cat(mem_p)))
                roles = _cat(roles_p).astype(np.int64)
                types = _cat(types_p).astype(np.int64)
                tnames = np.array(["NODE", "WAY", "RELATION"], dtype=object)
                members = [
                    (str(tnames[t]), int(m), str(stab[r]))
                    for t, m, r in zip(types, memids, roles)
                ]
                out["rel_id"].append(rid)
                out["rel_members"].append(members)
                out["rel_tags"].append(tags_from(_cat(kp), _cat(vp)))
    return out


# ---------------------------------------------------------------------------
# PrimitiveBlock decode → Arrow RecordBatches (the fast distributed path)
# ---------------------------------------------------------------------------

import pyarrow as pa

_PA_TAGS = pa.list_(pa.struct([("key", pa.string()), ("value", pa.string())]))
_PA_REFS = pa.list_(pa.int64())
_PA_MEMBERS = pa.list_(
    pa.struct([("type", pa.string()), ("member_id", pa.int64()), ("role", pa.string())])
)
_PA_SCHEMA = pa.schema(
    [
        ("entity_type", pa.string()),
        ("id", pa.int64()),
        ("fixed_lat", pa.int32()),
        ("fixed_lon", pa.int32()),
        ("tags", _PA_TAGS),
        ("node_ids", _PA_REFS),
        ("members", _PA_MEMBERS),
    ]
)


def _batch_packed(slices: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY complete packed-varint payloads in one numpy pass.

    Per-entity ``np_decode_varints`` calls cost more in numpy dispatch
    than in decoding (~10 µs × 400k ways dominated the profile); since
    varints never straddle payload boundaries, decoding the
    concatenation equals concatenating the decodes. Returns
    (values uint64, value-count per slice).
    """
    if not slices:
        return np.zeros(0, np.uint64), np.zeros(0, np.int64)
    buf = np.frombuffer(b"".join(slices), dtype=np.uint8)
    lens = np.fromiter((len(s) for s in slices), np.int64, count=len(slices))
    if len(buf) == 0:
        return np.zeros(0, np.uint64), np.zeros(len(slices), np.int64)
    vals = np_decode_varints(buf)
    ends = np.cumsum(lens)
    cum_vals = np.cumsum((buf & 0x80) == 0)
    tot_at_end = np.where(ends > 0, cum_vals[np.maximum(ends - 1, 0)], 0)
    counts = np.diff(np.concatenate(([0], tot_at_end)))
    return vals, counts


def _segmented_delta_cumsum(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment cumsum of zigzag deltas (each segment's chain starts
    at 0): global cumsum minus each segment's exclusive base."""
    deltas = np_unzigzag(vals)
    g = np.cumsum(deltas)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    base = np.where(starts > 0, g[np.maximum(starts - 1, 0)], 0)
    return g - np.repeat(base, counts)


def _tags_list_array(offsets: np.ndarray, keys, vals) -> pa.ListArray:
    struct = pa.StructArray.from_arrays(
        [pa.array(keys, pa.string()), pa.array(vals, pa.string())],
        names=["key", "value"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


def _kv_tags_array(kv: np.ndarray, n_nodes: int, stab: np.ndarray) -> pa.ListArray:
    """Dense-node keys_vals → list<struct<key,value>> with NO per-node
    Python: zero positions are node terminators; runs have even length,
    so dropping zeros leaves a globally alternating key/value stream.

    Well-formed encoders (osmosis, the reference's StringTable, ours)
    reserve code 0 as the terminator and never assign it to a string —
    so every 0 is a delimiter. A rogue file could still use code 0 as a
    tag VALUE (the reference's reader only treats 0 at key positions as
    terminators); when the zero count disagrees with the node count we
    fall back to that exact scalar state machine."""
    if len(kv) == 0:
        return _tags_list_array(
            np.zeros(n_nodes + 1, np.int32), np.zeros(0, object), np.zeros(0, object)
        )
    zpos = np.flatnonzero(kv == 0)
    if len(zpos) != n_nodes:
        return _kv_tags_array_scalar(kv, n_nodes, stab)
    counts = np.diff(np.concatenate(([-1], zpos))) - 1
    nz = kv[kv != 0]
    keys = stab[nz[0::2]]
    vals = stab[nz[1::2]]
    offsets = np.concatenate(([0], np.cumsum(counts // 2))).astype(np.int32)
    return _tags_list_array(offsets, keys, vals)


def _kv_tags_array_scalar(kv: np.ndarray, n_nodes: int, stab: np.ndarray) -> pa.ListArray:
    """Slow-path keys_vals walk matching PBFInput.java:105-114 exactly:
    only a 0 at a KEY position terminates a node's tag run. A run that
    ends before its terminator is a corrupt block (ValueError)."""
    key_idx: list[int] = []
    val_idx: list[int] = []
    offsets = np.zeros(n_nodes + 1, np.int64)
    pos = 0
    for i in range(n_nodes):
        while pos + 1 < len(kv) and kv[pos] != 0:
            key_idx.append(int(kv[pos]))
            val_idx.append(int(kv[pos + 1]))
            pos += 2
        if pos >= len(kv) or kv[pos] != 0:
            raise ValueError("corrupt dense-node keys_vals: a tag run has no 0 terminator")
        pos += 1
        offsets[i + 1] = len(key_idx)
    keys = stab[np.array(key_idx, np.int64)] if key_idx else np.zeros(0, object)
    vals = stab[np.array(val_idx, np.int64)] if val_idx else np.zeros(0, object)
    return _tags_list_array(offsets.astype(np.int32), keys, vals)


def _entity_batch(
    kind: str,
    ids: np.ndarray,
    tags: pa.ListArray,
    fixed_lat=None,
    fixed_lon=None,
    node_ids: pa.ListArray | None = None,
    members: pa.ListArray | None = None,
) -> pa.RecordBatch:
    n = len(ids)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([kind] * n, pa.string()),
            pa.array(ids, pa.int64()),
            pa.array(fixed_lat, pa.int32()) if fixed_lat is not None else pa.nulls(n, pa.int32()),
            pa.array(fixed_lon, pa.int32()) if fixed_lon is not None else pa.nulls(n, pa.int32()),
            tags,
            node_ids if node_ids is not None else pa.nulls(n, _PA_REFS),
            members if members is not None else pa.nulls(n, _PA_MEMBERS),
        ],
        schema=_PA_SCHEMA,
    )


def decode_block_arrow(data: bytes):
    """PrimitiveBlock bytes → pa.RecordBatch per entity kind present.

    Dense nodes (the planet's bulk) decode with zero per-entity Python:
    packed varints via ``np_decode_varints``, tag assembly via
    ``_kv_tags_array``, Arrow arrays built directly (no pandas dicts).
    Ways/relations still walk their per-entity protobuf framing but
    batch all string-table takes and list-array construction per block.
    """
    strings: list[str] = []
    groups: list[bytes] = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for fno, wt, val in _fields(data):
        if fno == 1:
            strings = [s.decode("utf-8") for f2, w2, s in _fields(val) if f2 == 1]
        elif fno == 2:
            groups.append(val)
        elif fno == 17:
            granularity = val
        elif fno == 19:
            lat_offset = val
        elif fno == 20:
            lon_offset = val
    stab = np.array(strings, dtype=object) if strings else np.zeros(0, object)

    batches = []
    for group in groups:
        # ways / relations accumulate RAW packed-field byte slices per
        # block; one numpy pass decodes each column across all entities
        w_ids, w_ref_slices, w_key_slices, w_val_slices = [], [], [], []
        r_ids, r_mem_slices, r_type_slices, r_role_slices = [], [], [], []
        r_key_slices, r_val_slices = [], []
        for fno, wt, val in _fields(group):
            if fno == 2:  # dense nodes — fully vectorized
                ids_p, lats_p, lons_p, kv_p = [], [], [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        _packed_u64(w2, v2, ids_p)
                    elif f2 == 8:
                        _packed_u64(w2, v2, lats_p)
                    elif f2 == 9:
                        _packed_u64(w2, v2, lons_p)
                    elif f2 == 10:
                        _packed_u64(w2, v2, kv_p)
                ids = np.cumsum(np_unzigzag(_cat(ids_p)))
                lats = np.cumsum(np_unzigzag(_cat(lats_p)))
                lons = np.cumsum(np_unzigzag(_cat(lons_p)))
                kv = _cat(kv_p).astype(np.int64)
                batches.append(
                    _entity_batch(
                        "node",
                        ids,
                        _kv_tags_array(kv, len(ids), stab),
                        _fixed_from_raw(lats, granularity, lat_offset),
                        _fixed_from_raw(lons, granularity, lon_offset),
                    )
                )
            elif fno == 1:  # non-dense node (rare)
                nid = nlat = nlon = 0
                kp, vp = [], []
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        nid = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 8:
                        nlat = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 9:
                        nlon = np_unzigzag(np.array([v2], np.uint64))[0]
                    elif f2 == 2:
                        _packed_u64(w2, v2, kp)
                    elif f2 == 3:
                        _packed_u64(w2, v2, vp)
                kc, vc = _cat(kp).astype(np.int64), _cat(vp).astype(np.int64)
                offs = np.array([0, len(kc)], np.int32)
                batches.append(
                    _entity_batch(
                        "node",
                        np.array([nid], np.int64),
                        _tags_list_array(offs, stab[kc], stab[vc]),
                        _fixed_from_raw(np.array([nlat], np.int64), granularity, lat_offset),
                        _fixed_from_raw(np.array([nlon], np.int64), granularity, lon_offset),
                    )
                )
            elif fno == 3:  # way — slice fields, defer all decoding
                wid = 0
                kb = vb = rb = b""
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        kb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 3:
                        vb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 8:
                        rb += v2 if w2 == 2 else _enc_varint(v2)
                w_ids.append(wid)
                w_ref_slices.append(rb)
                w_key_slices.append(kb)
                w_val_slices.append(vb)
            elif fno == 4:  # relation — slice fields, defer all decoding
                rid = 0
                kb = vb = rolesb = memb = typesb = b""
                for f2, w2, v2 in _fields(val):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        kb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 3:
                        vb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 8:
                        rolesb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 9:
                        memb += v2 if w2 == 2 else _enc_varint(v2)
                    elif f2 == 10:
                        typesb += v2 if w2 == 2 else _enc_varint(v2)
                r_ids.append(rid)
                r_mem_slices.append(memb)
                r_type_slices.append(typesb)
                r_role_slices.append(rolesb)
                r_key_slices.append(kb)
                r_val_slices.append(vb)
        if w_ids:
            ref_vals, ref_counts = _batch_packed(w_ref_slices)
            refs_all = _segmented_delta_cumsum(ref_vals, ref_counts)
            node_ids = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(ref_counts))), pa.int32()),
                pa.array(refs_all, pa.int64()),
            )
            kc, k_counts = _batch_packed(w_key_slices)
            vc, _ = _batch_packed(w_val_slices)
            tag_offs = np.concatenate(([0], np.cumsum(k_counts))).astype(np.int32)
            batches.append(
                _entity_batch(
                    "way",
                    np.array(w_ids, np.int64),
                    _tags_list_array(tag_offs, stab[kc.astype(np.int64)], stab[vc.astype(np.int64)]),
                    node_ids=node_ids,
                )
            )
        if r_ids:
            tnames = np.array(["NODE", "WAY", "RELATION"], dtype=object)
            mem_vals, mem_counts = _batch_packed(r_mem_slices)
            mems = _segmented_delta_cumsum(mem_vals, mem_counts)
            types, _ = _batch_packed(r_type_slices)
            roles, _ = _batch_packed(r_role_slices)
            member_struct = pa.StructArray.from_arrays(
                [
                    pa.array(tnames[types.astype(np.int64)], pa.string()),
                    pa.array(mems, pa.int64()),
                    pa.array(stab[roles.astype(np.int64)], pa.string()),
                ],
                names=["type", "member_id", "role"],
            )
            members = pa.ListArray.from_arrays(
                pa.array(np.concatenate(([0], np.cumsum(mem_counts))), pa.int32()),
                member_struct,
            )
            kc, k_counts = _batch_packed(r_key_slices)
            vc, _ = _batch_packed(r_val_slices)
            tag_offs = np.concatenate(([0], np.cumsum(k_counts))).astype(np.int32)
            batches.append(
                _entity_batch(
                    "relation",
                    np.array(r_ids, np.int64),
                    _tags_list_array(tag_offs, stab[kc.astype(np.int64)], stab[vc.astype(np.int64)]),
                    members=members,
                )
            )
    return batches


# ---------------------------------------------------------------------------
# PrimitiveBlock encode ← pandas frames
# ---------------------------------------------------------------------------


class _StringTable:
    """Per-block string table; index 0 holds "" and is RESERVED as the
    keys_vals terminator — no string (not even an empty tag value) may
    encode as code 0, so "" gets a fresh index ≥ 1 on first use, exactly
    like the reference's StringTable (StringTable.java:20-34, whose
    code map never contains the sentinel entry)."""

    def __init__(self) -> None:
        self.index: dict[str, int] = {}
        self.strings: list[str] = [""]

    def code(self, s: str) -> int:
        if s is None:
            s = ""
        got = self.index.get(s)
        if got is None:
            got = len(self.strings)
            self.index[s] = got
            self.strings.append(s)
        return got

    def encode(self) -> bytes:
        return b"".join(
            _enc_field_bytes(1, s.encode("utf-8")) for s in self.strings
        )


def _as_list(x) -> list:
    """Arrow hands array columns to pandas as numpy arrays (or None);
    normalize to a plain list."""
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return []
    return list(x)


def _encode_block(kind: str, frame: pd.DataFrame) -> bytes:
    """One type-pure PrimitiveBlock (≤8000 rows) → block bytes."""
    st = _StringTable()
    group = b""
    if kind == "node":
        ids = frame["id"].to_numpy(np.int64)
        lats = frame["fixed_lat"].to_numpy(np.int64)
        lons = frame["fixed_lon"].to_numpy(np.int64)
        kv: list[int] = []
        for tags in frame["tags"]:
            for t in _as_list(tags):
                kv.append(st.code(t["key"]))
                kv.append(st.code(t["value"]))
            kv.append(0)
        dense = (
            _enc_packed(1, np_zigzag(np.diff(ids, prepend=0)))
            + _enc_packed(8, np_zigzag(np.diff(lats, prepend=0)))
            + _enc_packed(9, np_zigzag(np.diff(lons, prepend=0)))
            + _enc_packed(10, np.array(kv, dtype=np.uint64))
        )
        group = _enc_field_bytes(2, dense)
    elif kind == "way":
        msgs = []
        for row in frame.itertuples(index=False):
            tags = _as_list(row.tags)
            keys = [st.code(t["key"]) for t in tags]
            vals = [st.code(t["value"]) for t in tags]
            refs = np.asarray(_as_list(row.node_ids), dtype=np.int64)
            msg = (
                _enc_field_varint(1, int(row.id))
                + _enc_packed(2, np.array(keys, np.uint64))
                + _enc_packed(3, np.array(vals, np.uint64))
                + _enc_packed(8, np_zigzag(np.diff(refs, prepend=0)))
            )
            msgs.append(_enc_field_bytes(3, msg))
        group = b"".join(msgs)
    elif kind == "relation":
        tcode = {"NODE": 0, "WAY": 1, "RELATION": 2}
        msgs = []
        for row in frame.itertuples(index=False):
            tags = _as_list(row.tags)
            keys = [st.code(t["key"]) for t in tags]
            vals = [st.code(t["value"]) for t in tags]
            members = _as_list(row.members)
            roles = [st.code(m["role"]) for m in members]
            memids = np.asarray([m["member_id"] for m in members], dtype=np.int64)
            types = [tcode[m["type"]] for m in members]
            msg = (
                _enc_field_varint(1, int(row.id))
                + _enc_packed(2, np.array(keys, np.uint64))
                + _enc_packed(3, np.array(vals, np.uint64))
                + _enc_packed(8, np.array(roles, np.uint64))
                + _enc_packed(9, np_zigzag(np.diff(memids, prepend=0)))
                + _enc_packed(10, np.array(types, np.uint64))
            )
            msgs.append(_enc_field_bytes(4, msg))
        group = b"".join(msgs)
    else:  # pragma: no cover
        raise ValueError(kind)
    return _enc_field_bytes(1, st.encode()) + _enc_field_bytes(2, group)


def _encode_dense_block_arrow(chunk: "pa.RecordBatch") -> bytes:
    """Node PrimitiveBlock from an Arrow batch with ZERO per-node
    Python: tag key/value strings flatten to two object arrays, a
    sorted-unique pass assigns 1-based string-table codes (index 0
    stays the reserved terminator), and the 0-terminated keys_vals
    stream is assembled by vectorized scatter."""
    ids = chunk.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
    lats = chunk.column("fixed_lat").to_numpy(zero_copy_only=False).astype(np.int64)
    lons = chunk.column("fixed_lon").to_numpy(zero_copy_only=False).astype(np.int64)
    tags = chunk.column("tags")
    if isinstance(tags, pa.ChunkedArray):  # pragma: no cover
        tags = tags.combine_chunks()
    import pyarrow.compute as pc

    counts = pc.fill_null(pc.list_value_length(tags), 0).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    flat = tags.flatten()
    keys = flat.field("key").to_numpy(zero_copy_only=False)
    vals = flat.field("value").to_numpy(zero_copy_only=False)
    vals = np.array(["" if v is None else v for v in vals], dtype=object) if any(
        v is None for v in vals
    ) else vals

    n_pairs = int(counts.sum())
    if n_pairs:
        all_strs = np.concatenate([keys, vals])
        uniq, inv = np.unique(all_strs, return_inverse=True)
        codes = (inv + 1).astype(np.uint64)  # 1-based: 0 is the terminator
        kcodes, vcodes = codes[:n_pairs], codes[n_pairs:]
        strings = [""] + [str(u) for u in uniq]
    else:
        kcodes = vcodes = np.zeros(0, np.uint64)
        strings = [""]

    # keys_vals stream: per node (k, v)*count then a 0 terminator
    pair_offs = np.concatenate(([0], np.cumsum(counts)))
    node_starts = np.concatenate(([0], np.cumsum(2 * counts + 1)))[:-1]
    kv = np.zeros(int(2 * n_pairs + len(ids)), np.uint64)
    if n_pairs:
        j = np.arange(n_pairs)
        node_of_pair = np.searchsorted(pair_offs, j, side="right") - 1
        pos = node_starts[node_of_pair] + 2 * (j - pair_offs[node_of_pair])
        kv[pos] = kcodes
        kv[pos + 1] = vcodes

    st = b"".join(_enc_field_bytes(1, s.encode("utf-8")) for s in strings)
    dense = (
        _enc_packed(1, np_zigzag(np.diff(ids, prepend=0)))
        + _enc_packed(8, np_zigzag(np.diff(lats, prepend=0)))
        + _enc_packed(9, np_zigzag(np.diff(lons, prepend=0)))
        + _enc_packed(10, kv)
    )
    group = _enc_field_bytes(2, dense)
    return _enc_field_bytes(1, st) + _enc_field_bytes(2, group)


def _encode_way_block_arrow(chunk: "pa.RecordBatch") -> bytes:
    """Way PrimitiveBlock from an Arrow batch: refs/tags encode in
    block-wide numpy passes (per-way-reset delta via segmented diff,
    one varint scatter, byte spans via cumsum); the only per-way Python
    left is slicing the precomputed buffers into protobuf messages."""
    import pyarrow.compute as pc

    ids = chunk.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
    refs_col = chunk.column("node_ids")
    if isinstance(refs_col, pa.ChunkedArray):  # pragma: no cover
        refs_col = refs_col.combine_chunks()
    ref_counts = (
        pc.fill_null(pc.list_value_length(refs_col), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    refs = refs_col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    ref_starts = np.concatenate(([0], np.cumsum(ref_counts)))[:-1]
    # per-way delta chains: diff globally, restore absolutes at starts
    deltas = np.diff(refs, prepend=0)
    nonempty = ref_counts > 0
    deltas[ref_starts[nonempty]] = refs[ref_starts[nonempty]]
    ref_bytes, ref_lens = np_encode_varints_with_lens(np_zigzag(deltas))
    ref_byte_cum = np.concatenate(([0], np.cumsum(ref_lens)))
    ref_ends = np.cumsum(ref_counts)
    ref_b_lo = ref_byte_cum[ref_starts]
    ref_b_hi = ref_byte_cum[ref_ends]
    ref_buf = ref_bytes.tobytes()

    tags = chunk.column("tags")
    if isinstance(tags, pa.ChunkedArray):  # pragma: no cover
        tags = tags.combine_chunks()
    tag_counts = (
        pc.fill_null(pc.list_value_length(tags), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    flat = tags.flatten()
    keys = flat.field("key").to_numpy(zero_copy_only=False)
    vals = flat.field("value").to_numpy(zero_copy_only=False)
    n_pairs = int(tag_counts.sum())
    if n_pairs:
        if any(v is None for v in vals):
            vals = np.array(["" if v is None else v for v in vals], dtype=object)
        all_strs = np.concatenate([keys, vals])
        uniq, inv = np.unique(all_strs, return_inverse=True)
        codes = (inv + 1).astype(np.uint64)
        key_bytes, key_lens = np_encode_varints_with_lens(codes[:n_pairs])
        val_bytes, val_lens = np_encode_varints_with_lens(codes[n_pairs:])
        strings = [""] + [str(u) for u in uniq]
    else:
        key_bytes = val_bytes = np.zeros(0, np.uint8)
        key_lens = val_lens = np.zeros(0, np.int64)
        strings = [""]
    tag_starts = np.concatenate(([0], np.cumsum(tag_counts)))[:-1]
    tag_ends = np.cumsum(tag_counts)
    k_cum = np.concatenate(([0], np.cumsum(key_lens)))
    v_cum = np.concatenate(([0], np.cumsum(val_lens)))
    k_lo, k_hi = k_cum[tag_starts], k_cum[tag_ends]
    v_lo, v_hi = v_cum[tag_starts], v_cum[tag_ends]
    k_buf, v_buf = key_bytes.tobytes(), val_bytes.tobytes()

    msgs = []
    for i in range(len(ids)):
        msg = [_enc_field_varint(1, int(ids[i]))]
        if tag_counts[i]:
            kb = k_buf[k_lo[i] : k_hi[i]]
            vb = v_buf[v_lo[i] : v_hi[i]]
            msg.append(_enc_varint((2 << 3) | 2) + _enc_varint(len(kb)) + kb)
            msg.append(_enc_varint((3 << 3) | 2) + _enc_varint(len(vb)) + vb)
        if ref_counts[i]:
            rb = ref_buf[ref_b_lo[i] : ref_b_hi[i]]
            msg.append(_enc_varint((8 << 3) | 2) + _enc_varint(len(rb)) + rb)
        msgs.append(_enc_field_bytes(3, b"".join(msg)))
    st = b"".join(_enc_field_bytes(1, s.encode("utf-8")) for s in strings)
    return _enc_field_bytes(1, st) + _enc_field_bytes(2, b"".join(msgs))


def _seg_varint_spans(vals: np.ndarray, counts: np.ndarray):
    """Encode a flattened uint64 column to varints and return
    (buf, lo, hi): per-entity byte spans via cumsum over the entity
    segment lengths — the shared slicing pattern of the Arrow block
    encoders."""
    enc, lens = np_encode_varints_with_lens(vals)
    byte_cum = np.concatenate(([0], np.cumsum(lens)))
    starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
    ends = np.cumsum(counts)
    return enc.tobytes(), byte_cum[starts], byte_cum[ends]


def _encode_rel_block_arrow(chunk: "pa.RecordBatch") -> bytes:
    """Relation PrimitiveBlock from an Arrow batch — the same
    block-wide numpy passes as the way encoder (one sorted-unique
    string table over keys+values+roles, per-relation-reset member-id
    delta via segmented diff, one varint pass per column); per-relation
    Python only slices the precomputed buffers into protobuf messages.
    Replaces the last itertuples hot loop in the PBF sink."""
    import pyarrow.compute as pc

    ids = chunk.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
    members = chunk.column("members")
    if isinstance(members, pa.ChunkedArray):  # pragma: no cover
        members = members.combine_chunks()
    m_counts = (
        pc.fill_null(pc.list_value_length(members), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    mflat = members.flatten()
    mtypes = mflat.field("type").to_numpy(zero_copy_only=False)
    mids = mflat.field("member_id").to_numpy(zero_copy_only=False).astype(np.int64)
    roles = mflat.field("role").to_numpy(zero_copy_only=False)
    if any(r is None for r in roles):
        roles = np.array(["" if r is None else r for r in roles], dtype=object)

    tags = chunk.column("tags")
    if isinstance(tags, pa.ChunkedArray):  # pragma: no cover
        tags = tags.combine_chunks()
    tag_counts = (
        pc.fill_null(pc.list_value_length(tags), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    tflat = tags.flatten()
    keys = tflat.field("key").to_numpy(zero_copy_only=False)
    vals = tflat.field("value").to_numpy(zero_copy_only=False)
    if any(v is None for v in vals):
        vals = np.array(["" if v is None else v for v in vals], dtype=object)

    n_pairs = int(tag_counts.sum())
    n_mem = int(m_counts.sum())
    all_strs = np.concatenate(
        [np.asarray(a, dtype=object) for a in (keys, vals, roles)]
    ) if (n_pairs or n_mem) else np.zeros(0, dtype=object)
    if len(all_strs):
        uniq, inv = np.unique(all_strs, return_inverse=True)
        codes = (inv + 1).astype(np.uint64)
        kcodes = codes[:n_pairs]
        vcodes = codes[n_pairs : 2 * n_pairs]
        rcodes = codes[2 * n_pairs :]
        strings = [""] + [str(u) for u in uniq]
    else:
        kcodes = vcodes = rcodes = np.zeros(0, np.uint64)
        strings = [""]

    # per-relation member-id delta chains (reset per relation, like refs)
    m_starts = np.concatenate(([0], np.cumsum(m_counts)))[:-1]
    deltas = np.diff(mids, prepend=0)
    nonempty = m_counts > 0
    deltas[m_starts[nonempty]] = mids[m_starts[nonempty]]
    bad = ~np.isin(mtypes, ["NODE", "WAY", "RELATION"])
    if bad.any():
        raise ValueError(f"unknown relation member type {mtypes[bad][0]!r}")
    tcodes = np.select(
        [mtypes == "NODE", mtypes == "WAY"], [0, 1], default=2
    ).astype(np.uint64)

    k_buf, k_lo, k_hi = _seg_varint_spans(kcodes, tag_counts)
    v_buf, v_lo, v_hi = _seg_varint_spans(vcodes, tag_counts)
    r_buf, r_lo, r_hi = _seg_varint_spans(rcodes, m_counts)
    d_buf, d_lo, d_hi = _seg_varint_spans(np_zigzag(deltas), m_counts)
    t_buf, t_lo, t_hi = _seg_varint_spans(tcodes, m_counts)

    msgs = []
    for i in range(len(ids)):
        msg = [_enc_field_varint(1, int(ids[i]))]
        if tag_counts[i]:
            kb = k_buf[k_lo[i] : k_hi[i]]
            vb = v_buf[v_lo[i] : v_hi[i]]
            msg.append(_enc_varint((2 << 3) | 2) + _enc_varint(len(kb)) + kb)
            msg.append(_enc_varint((3 << 3) | 2) + _enc_varint(len(vb)) + vb)
        if m_counts[i]:
            rb = r_buf[r_lo[i] : r_hi[i]]
            db = d_buf[d_lo[i] : d_hi[i]]
            tb = t_buf[t_lo[i] : t_hi[i]]
            msg.append(_enc_varint((8 << 3) | 2) + _enc_varint(len(rb)) + rb)
            msg.append(_enc_varint((9 << 3) | 2) + _enc_varint(len(db)) + db)
            msg.append(_enc_varint((10 << 3) | 2) + _enc_varint(len(tb)) + tb)
        msgs.append(_enc_field_bytes(4, b"".join(msg)))
    st = b"".join(_enc_field_bytes(1, s.encode("utf-8")) for s in strings)
    return _enc_field_bytes(1, st) + _enc_field_bytes(2, b"".join(msgs))


DEFLATE_LEVEL = 3  # zlib level: ~6x faster than the default 6 at ~1% worse
# ratio on varint block bytes (measured r06); any level yields a valid PBF —
# readers inflate regardless, so this is a pure encode-speed/size knob.


def _blob_bytes(kind_str: str, block: bytes) -> bytes:
    """block → framed [len][BlobHeader][Blob] bytes (zlib, raw if
    deflate doesn't shrink — PBFOutput.writeOneBlob semantics)."""
    deflated = zlib.compress(block, DEFLATE_LEVEL)
    if len(block) > 0 and len(deflated) < len(block):
        blob = _enc_field_varint(2, len(block)) + _enc_field_bytes(3, deflated)
    else:
        blob = _enc_field_bytes(1, block)
    header = _enc_field_bytes(1, kind_str.encode()) + _enc_field_varint(
        3, len(blob)
    )
    return struct.pack(">I", len(header)) + header + blob


def encode_header_block(writing_program: str = "osm_lib_spark") -> bytes:
    block = _enc_field_bytes(4, b"OsmSchema-V0.6") + _enc_field_bytes(
        4, b"DenseNodes"
    ) + _enc_field_bytes(16, writing_program.encode())
    return _blob_bytes("OSMHeader", block)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

ENTITY_SCHEMA = (
    "entity_type string, id long, fixed_lat int, fixed_lon int, "
    "tags array<struct<key:string,value:string>>, node_ids array<long>, "
    "members array<struct<type:string,member_id:long,role:string>>"
)

BLOCK_SIZE = 8000  # PBFOutput.java:128 — ≤8k entities per block


def blob_index(spark, rows: list, ddl: str, blobs_per_task: int):
    """A blob/block index (rows with a ``seq`` column) as a ``local_frame``
    on ≤ max(defaultParallelism, rows / blobs_per_task) tasks — measured
    0.8s of task round trips at 91 tiny tasks on local[32] vs 0.3s at 32."""
    from osm_lib_spark.session import local_frame

    dp = spark.sparkContext.defaultParallelism
    n_part = max(1, min(len(rows), max(dp, len(rows) // blobs_per_task)))
    return local_frame(spark, rows, ddl).repartition(n_part, "seq")


def read_pbf(spark, path: str, blobs_per_task: int = 16):
    """Distributed PBF read → unified entity DataFrame.

    The driver indexes blob offsets (header-only scan); executors seek
    + inflate + decode their own blobs via ``mapInArrow`` — entity
    columns are built as Arrow arrays directly (``decode_block_arrow``),
    so dense nodes never touch per-row Python or pandas object dicts.
    At planet scale each blob is ~8k entities, so task granularity is
    tuned with ``blobs_per_task`` and the index table's partitioning.
    """
    rows = scan_blobs(path)
    header_blobs = [r for r in rows if r[3] == "OSMHeader"]
    with open(path, "rb") as f:
        for _, off, size, _, _ in header_blobs:
            f.seek(off)
            check_header_block(_inflate_blob(f.read(size)))
    idx = blob_index(
        spark,
        [r for r in rows if r[3] == "OSMData"],
        "path string, offset long, size long, kind string, seq long",
        blobs_per_task,
    )

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r in batch.to_pylist():  # a handful of index rows per task
                with open(r["path"], "rb") as f:
                    f.seek(int(r["offset"]))
                    data = f.read(int(r["size"]))
                yield from decode_block_arrow(_inflate_blob(data))

    return idx.mapInArrow(decode, schema=ENTITY_SCHEMA)


# by type_rank: the entity types and the pbf_* selectors' and encoders' columns
TYPE_NAMES = ("node", "way", "relation")
TYPE_COLUMNS = (
    ("id", "fixed_lat", "fixed_lon", "tags"),
    ("id", "node_ids", "tags"),
    ("id", "members", "tags"),
)


def _of_type(entities, rank: int):
    return entities.where(entities["entity_type"] == TYPE_NAMES[rank]).select(*TYPE_COLUMNS[rank])


def pbf_nodes(entities):
    return _of_type(entities, 0)


def pbf_ways(entities):
    return _of_type(entities, 1)


def pbf_relations(entities):
    return _of_type(entities, 2)


@contextmanager
def _part_files(path: str, header: bytes):
    """A fresh ``.blobparts_`` directory next to ``path`` for one job's
    part files; on a clean exit ``path`` gets ``header`` + the parts in
    name order (multipart PUT + compose; O(1) driver memory)."""
    import shutil
    import tempfile

    tmpdir = tempfile.mkdtemp(prefix=".blobparts_", dir=os.path.dirname(os.path.abspath(path)))
    try:
        yield tmpdir
        with open(path, "wb") as outf:
            outf.write(header)
            for name in sorted(os.listdir(tmpdir)):
                with open(os.path.join(tmpdir, name), "rb") as pf:
                    shutil.copyfileobj(pf, outf)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)


def write_blocks(path: str, tables, encode, block_size: int, header: bytes = b"") -> int:
    """The block sink of ``write_pbf`` and ``write_vex``: write ``tables``
    = (nodes, ways, relations), any of them None, type-major in id order
    and return the number of blocks. ``encode(type_rank, batch)`` yields
    the framed blocks of one id-sorted batch of ``TYPE_COLUMNS[type_rank]``.

    One aggregate over the union gives each type's row count and id
    range; rows are bucketed by id range into ~``block_size``-row
    buckets, and each type gets clamp(ceil(rows / block_size), 1,
    defaultParallelism) tasks, as a Python task has a fixed cost. ONE
    ``mapInArrow`` per task writes each bucket as a part file named by
    (type_rank, bucket), so the file does not depend on which task a
    bucket hashed to. With AQE that is 4 jobs.
    """
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import ArrayType

    typed = [df.select(F.lit(rank).alias("type_rank"), *TYPE_COLUMNS[rank])
             for rank, df in enumerate(tables) if df is not None]
    if not typed:
        raise ValueError("nodes, ways and relations are all None — nothing to write")
    rows = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), typed)
    # lists travel non-null (both encoders write a null list as an empty
    # one): the JVM's Arrow writer spends ~5 CPU-µs a row on a null array,
    # 0.5 CPU-s per filler column over the 100k sf-s nodes (4 vCPU host)
    rows = rows.select(*(
        F.coalesce(f.name, F.array().cast(f.dataType)).alias(f.name)
        if isinstance(f.dataType, ArrayType) else f.name
        for f in rows.schema.fields
    ))
    stats = rows.groupBy("type_rank").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("lo"), F.max("id").alias("hi")
    ).collect()
    dp = rows.sparkSession.sparkContext.defaultParallelism
    n_tasks, bucket = 0, F.lit(None)
    for r in stats:
        n_buckets = -(-r.n // block_size)
        step = -(-(r.hi - r.lo + 1) // n_buckets)
        n_tasks += min(n_buckets, dp)
        bucket = F.when(
            F.col("type_rank") == r.type_rank, F.expr(f"(id - ({r.lo})) div {step}")
        ).otherwise(bucket)

    def write_part(key: tuple, pending: list) -> int:
        batch = pa.Table.from_batches(pending).select(TYPE_COLUMNS[key[0]]).combine_chunks()
        blobs = list(encode(key[0], batch.to_batches()[0]))
        with open(os.path.join(tmpdir, "%d-%012d" % key), "wb") as f:
            f.writelines(blobs)
        return len(blobs)

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # rows arrive sorted by (type_rank, bucket, id): cut each batch at
        # key changes and write a bucket once its last row has passed
        n, key, pending = 0, None, []
        for batch in batches:
            ranks = batch.column("type_rank").to_numpy(zero_copy_only=False)
            buckets = batch.column("bucket").to_numpy(zero_copy_only=False)
            cuts = np.flatnonzero((np.diff(ranks) != 0) | (np.diff(buckets) != 0)) + 1
            for lo, hi in zip([0, *cuts], [*cuts, batch.num_rows]):
                if lo == hi:
                    continue
                if (int(ranks[lo]), int(buckets[lo])) != key and pending:
                    n += write_part(key, pending)
                    pending = []
                key = (int(ranks[lo]), int(buckets[lo]))
                pending.append(batch.slice(lo, hi - lo))
        if pending:
            n += write_part(key, pending)
        yield pa.RecordBatch.from_pydict({"n": [n]})

    with _part_files(path, header) as tmpdir:
        if not n_tasks:  # every table is empty: the header alone
            return 0
        counts = (
            rows.withColumn("bucket", bucket)
            .repartition(n_tasks, "type_rank", "bucket")
            .sortWithinPartitions("type_rank", "bucket", "id")
            .mapInArrow(sink, "n long")
            .collect()
        )
    return sum(r.n for r in counts)


def write_pbf(path: str, nodes, ways, relations, block_size: int = BLOCK_SIZE):
    """Distributed PBF sink (``write_blocks``): each bucket encodes into
    ≤``block_size``-entity blocks in block-wide numpy passes. PBF
    blocks share NO state (per-block string table + delta reset)."""
    encoders = (_encode_dense_block_arrow, _encode_way_block_arrow, _encode_rel_block_arrow)

    def encode(rank: int, batch: pa.RecordBatch) -> Iterator[bytes]:
        for lo in range(0, batch.num_rows, block_size):
            yield _blob_bytes("OSMData", encoders[rank](batch.slice(lo, block_size)))

    return write_blocks(
        path, (nodes, ways, relations), encode, block_size, header=encode_header_block()
    )


def compose_blob_frame(blobs, path: str, header: bytes = b"") -> int:
    """Write an ordered blob frame to ``path`` multipart-compose style:
    ONE parallel job in which every partition writes its own part file,
    then the driver concatenates parts in partition order.

    The frame must already be ordered partition-by-partition (the text
    sink in ``jobs/convert.py`` range-partitions its lines with an
    orderBy).
    """

    def dump(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        n = 0
        with open(os.path.join(tmpdir, f"part-{TaskContext.get().partitionId():08d}"), "wb") as f:
            for batch in batches:
                f.writelines(batch.column("blob").to_pylist())
                n += batch.num_rows
        yield pa.RecordBatch.from_pydict({"n": [n]})

    with _part_files(path, header) as tmpdir:
        counts = blobs.mapInArrow(dump, "n long").collect()
    return sum(r.n for r in counts)
