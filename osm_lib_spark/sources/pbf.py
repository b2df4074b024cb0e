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
  by id range into ~``block_size``-row buckets. Under the broadcast
  threshold the driver encodes the buckets in order, from the
  ``session.resident`` copies of cached tables (no job) or from one
  bounded collect; over it tasks are sized by block count
  (a Python task costs a fixed ~0.02 CPU-s), and ONE ``mapInArrow`` per
  task encodes its buckets into part files named by (type, bucket);
  PBF blocks share no state (delta coding and string tables reset per
  block). Blocks encode in block-wide numpy passes
  over the Arrow columns: string-table codes via one sorted-unique,
  keys_vals by vectorized scatter, refs as per-entity delta chains
  whose varints are sliced into per-entity byte spans. The driver
  concatenates the parts in name order — multipart PUT + compose on an
  object store, O(1) driver memory on the cluster path.

Each wire-format rule is written once here: ``sources/vex.py`` calls
the scalar varint codec (``_enc_varint`` / ``_read_varint``) and the
Arrow column kernels rather than keeping its own. Measured on sf-s (115,600 entities, one Python process, 4 vCPU host):
the block encoders take 0.40 CPU-s, ``decode_block_arrow`` 0.26 CPU-s.
"""

from __future__ import annotations

import os
import struct
import zlib
from contextlib import contextmanager
from functools import reduce
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# ---------------------------------------------------------------------------
# wire primitives: the one scalar varint codec (framing, navigation counts,
# VEX's scalar writer) and its numpy-vectorized form for packed columns
# ---------------------------------------------------------------------------

_VARINT_1B = [bytes([i]) for i in range(0x80)]  # the common one-byte case


def _enc_varint(n: int) -> bytes:
    """Unsigned LEB128 varint of ``n`` taken mod 2**64 (a negative int64
    encodes as its two's complement, 10 bytes)."""
    n &= (1 << 64) - 1
    if n < 0x80:
        return _VARINT_1B[n]
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """The varint at ``pos`` → (value, position after it). A varint that
    runs past the buffer raises ``ValueError``."""
    try:
        b = buf[pos]
        if b < 0x80:
            return b, pos + 1
        result, shift = b & 0x7F, 7
        while True:
            pos += 1
            b = buf[pos]
            result |= (b & 0x7F) << shift
            if b < 0x80:
                return result, pos + 1
            shift += 7
    except IndexError:
        raise ValueError(f"truncated varint at byte {pos} of a {len(buf)}-byte buffer") from None


def np_decode_varints(buf: np.ndarray) -> np.ndarray:
    """Decode a packed varint byte array → uint64 values, vectorized.

    Varint boundaries are the bytes without the continuation bit; each
    byte contributes its 7-bit payload shifted by its offset within its
    varint. One pass of numpy ops, no Python loop over values. A last
    varint without its terminating byte raises ``ValueError``.
    """
    if len(buf) == 0:
        return np.zeros(0, dtype=np.uint64)
    if buf[-1] & 0x80:
        raise ValueError("packed varints end inside a varint")
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
    offs = _offsets(lens)[:-1]
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


def _packed_columns(msg: bytes, *fnos: int) -> list[np.ndarray]:
    """The varint fields ``fnos`` of one message, packed or repeated, each
    as one uint64 array (empty when absent)."""
    parts: dict[int, list] = {f: [] for f in fnos}
    for fno, wt, val in _fields(msg):
        if fno in parts:
            _packed_u64(wt, val, parts[fno])
    return [_cat(parts[f]) for f in fnos]


# ---------------------------------------------------------------------------
# encode helpers
# ---------------------------------------------------------------------------


def _enc_bytes(val: bytes) -> bytes:
    """Length-delimited bytes: a varint byte count, then the bytes."""
    return _enc_varint(len(val)) + val


def _enc_field_varint(fno: int, val: int) -> bytes:
    return _enc_varint(fno << 3) + _enc_varint(val)


def _enc_field_bytes(fno: int, val: bytes) -> bytes:
    return _enc_varint((fno << 3) | 2) + _enc_bytes(val)


def _enc_packed(fno: int, vals: np.ndarray) -> bytes:
    """Packed repeated varint field (empty → omitted)."""
    if len(vals) == 0:
        return b""
    payload = np_encode_varints(vals).tobytes()
    return _enc_field_bytes(fno, payload)


# ---------------------------------------------------------------------------
# Arrow column kernels, shared by the PBF and VEX encoders and decoders
# ---------------------------------------------------------------------------

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
# member type wire codes 0, 1, 2: PBF MemberType and VEX typeOrdinal (OSMEntity.java:13)
MEMBER_TYPES = np.array(["NODE", "WAY", "RELATION"], dtype=object)
_MEMBER_ORD = {t: i for i, t in enumerate(MEMBER_TYPES)}
_PA_MEMBER_TYPES = pa.array(MEMBER_TYPES.tolist(), pa.string())


def _offsets(counts) -> np.ndarray:
    """Per-entity value counts → the n+1 offsets of their runs in a flat
    column (the exclusive prefix sums, then the total)."""
    out = np.zeros(len(counts) + 1, np.int64)
    np.cumsum(np.asarray(counts, np.int64), out=out[1:])
    return out


def _list_array(counts, values: pa.Array) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(_offsets(counts), pa.int32()), values)


def _list_col(batch: pa.RecordBatch, name: str) -> tuple[np.ndarray, pa.Array]:
    """A list column → (values per row, a null list counting 0; the flat
    values)."""
    col = batch.column(name)
    counts = pc.fill_null(pc.list_value_length(col), 0).to_numpy(zero_copy_only=False)
    return counts.astype(np.int64), col.flatten()


def _int64s(arr: pa.Array) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False).astype(np.int64)


def _strings(arr: pa.Array) -> np.ndarray:
    """A string column as an object array, null read as ""."""
    return pc.fill_null(arr, "").to_numpy(zero_copy_only=False)


def _lookup(table: np.ndarray, codes) -> np.ndarray:
    """``table[codes]``; a code past the end of the table raises
    ``ValueError``."""
    codes = np.asarray(codes).astype(np.int64)  # a uint64 past 2**63 wraps negative
    if len(codes) and (codes.min() < 0 or codes.max() >= len(table)):
        bad = codes[(codes < 0) | (codes >= len(table))][0]
        raise ValueError(f"code {bad} is past the end of a {len(table)}-entry table")
    return table[codes]


def _string_table(*cols: np.ndarray) -> tuple[list[np.ndarray], bytes]:
    """One block's string table over the string columns ``cols``: codes
    are 1-based ranks of the sorted unique strings (index 0 is "", the
    reserved keys_vals terminator). Returns (each column's uint64 codes,
    the encoded stringtable field)."""
    strs = np.concatenate(cols)
    uniq, inv = np.unique(strs, return_inverse=True)
    table = b"".join(_enc_field_bytes(1, s.encode("utf-8")) for s in ["", *uniq])
    codes = (inv + 1).astype(np.uint64)
    return np.split(codes, _offsets([len(c) for c in cols])[1:-1]), _enc_field_bytes(1, table)


def _zigzag_deltas(vals, counts=None) -> np.ndarray:
    """Zigzag delta chain of an int64 column, from 0. With ``counts``,
    each entity's run is its own chain — the encode-side inverse of
    ``_segmented_delta_cumsum``."""
    vals = np.asarray(vals, np.int64)
    deltas = np.diff(vals, prepend=0)
    if counts is not None:
        first = _offsets(counts)[:-1][np.asarray(counts) > 0]
        deltas[first] = vals[first]
    return np_zigzag(deltas)


def _seg_varint_spans(vals: np.ndarray, counts=None) -> list[bytes]:
    """A flat uint64 column → each entity's varint bytes, ``counts``
    values an entity (one each when None): one vectorized encode, then
    byte spans cut at the cumulative lengths."""
    enc, lens = np_encode_varints_with_lens(vals)
    cuts = _offsets(lens)
    if counts is not None:
        cuts = cuts[_offsets(counts)]
    buf, cuts = enc.tobytes(), cuts.tolist()
    return [buf[lo:hi] for lo, hi in zip(cuts, cuts[1:])]


def _tags_list_array(counts, keys, vals) -> pa.ListArray:
    struct = pa.StructArray.from_arrays(
        [pa.array(keys, pa.string()), pa.array(vals, pa.string())],
        names=["key", "value"],
    )
    return _list_array(counts, struct)


def _members_array(counts, types, member_ids, roles) -> pa.ListArray:
    """The ``list<struct<type, member_id, role>>`` column from flat member
    type codes, ids and role strings."""
    struct = pa.StructArray.from_arrays(
        [
            pa.array(_lookup(MEMBER_TYPES, types), pa.string()),
            pa.array(member_ids, pa.int64()),
            pa.array(roles, pa.string()),
        ],
        names=["type", "member_id", "role"],
    )
    return _list_array(counts, struct)


def _messages(fno: int, ids: np.ndarray, fields: list) -> bytes:
    """One way (``fno`` 3) or relation (4) message per entity: its id,
    then every (field number, per-entity packed bytes) pair of ``fields``
    whose bytes are non-empty."""
    fnos = [f for f, _ in fields]
    msgs = []
    for eid, *spans in zip(ids.tolist(), *(s for _, s in fields)):
        msg = [_enc_field_varint(1, eid)]
        msg += [_enc_field_bytes(f, b) for f, b in zip(fnos, spans) if b]
        msgs.append(_enc_field_bytes(fno, b"".join(msg)))
    return b"".join(msgs)


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
# PrimitiveBlock decode
# ---------------------------------------------------------------------------


def _fixed_from_raw(raw: np.ndarray, granularity: int, offset: int) -> np.ndarray:
    """raw coordinate units → int32 fixed-point, bit-matching the
    reference's double math: trunc(1e-9*(offset + granularity*raw) * 1e7)
    (osmosis parseLat + Node.setLatLon truncation)."""
    nano = offset + granularity * raw.astype(np.int64)  # exact in int64
    deg = nano.astype(np.float64) * 1e-9
    return (deg * 1e7).astype(np.int64).astype(np.int32)


def _block_fields(data: bytes):
    """PrimitiveBlock bytes → (string table as an object array, primitive
    group messages, granularity, lat_offset, lon_offset)."""
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
    return np.array(strings, dtype=object), groups, granularity, lat_offset, lon_offset


def _dense_columns(msg: bytes):
    """DenseNodes message → (ids, raw lats, raw lons, keys_vals), the
    three delta chains summed."""
    ids, lats, lons, kv = _packed_columns(msg, 1, 8, 9, 10)
    return (
        np.cumsum(np_unzigzag(ids)),
        np.cumsum(np_unzigzag(lats)),
        np.cumsum(np_unzigzag(lons)),
        kv.astype(np.int64),  # int32, plain varint
    )


def decode_primitive_block(data: bytes) -> dict:
    """Scalar reference decoder: PrimitiveBlock bytes → columnar entity
    arrays, one way/relation message at a time.

    Returns {nodes: (ids, fixed_lat, fixed_lon, tags), ways: (ids,
    refs_list, tags), relations: (ids, members_list, tags)} with numpy
    arrays for all numeric columns; tags are python lists of
    (key, value) tuples (ragged). Tests compare ``decode_block_arrow``
    against it.
    """
    stab, groups, granularity, lat_offset, lon_offset = _block_fields(data)
    out = {
        "node_id": [], "node_lat": [], "node_lon": [], "node_tags": [],
        "way_id": [], "way_refs": [], "way_tags": [],
        "rel_id": [], "rel_members": [], "rel_tags": [],
    }

    def tags_from(keys: np.ndarray, vals: np.ndarray) -> list:
        return list(zip(_lookup(stab, keys), _lookup(stab, vals)))

    for group in groups:
        for fno, wt, val in _fields(group):
            if fno == 2:  # dense nodes
                ids, lats, lons, kv = _dense_columns(val)
                # keys_vals: int32, 0-terminated runs of (key, val) pairs
                # per node (PBFInput.java:105-114); absent ⇒ no tags at all
                if len(kv) == 0:
                    tags_per_node = [[] for _ in range(len(ids))]
                else:
                    tags_per_node = [
                        [(t["key"], t["value"]) for t in ts]
                        for ts in _kv_tags_array_scalar(kv, len(ids), stab).to_pylist()
                    ]
                out["node_id"].append(ids)
                out["node_lat"].append(_fixed_from_raw(lats, granularity, lat_offset))
                out["node_lon"].append(_fixed_from_raw(lons, granularity, lon_offset))
                out["node_tags"].extend(tags_per_node)
            elif fno == 1:  # non-dense nodes (rare; PBFInput.java:65-80)
                nid, nlat, nlon, keys, vals = _packed_columns(val, 1, 8, 9, 2, 3)
                out["node_id"].append(np_unzigzag(nid))
                out["node_lat"].append(_fixed_from_raw(np_unzigzag(nlat), granularity, lat_offset))
                out["node_lon"].append(_fixed_from_raw(np_unzigzag(nlon), granularity, lon_offset))
                out["node_tags"].append(tags_from(keys, vals))
            elif fno == 3:  # way
                wid, keys, vals, refs = _packed_columns(val, 1, 2, 3, 8)
                out["way_id"].append(int(wid.astype(np.int64)[0]))
                out["way_refs"].append(np.cumsum(np_unzigzag(refs)))
                out["way_tags"].append(tags_from(keys, vals))
            elif fno == 4:  # relation
                rid, keys, vals, roles, memids, types = _packed_columns(val, 1, 2, 3, 8, 9, 10)
                members = zip(
                    _lookup(MEMBER_TYPES, types), np.cumsum(np_unzigzag(memids)), _lookup(stab, roles)
                )
                out["rel_id"].append(int(rid.astype(np.int64)[0]))
                out["rel_members"].append([(str(t), int(m), str(r)) for t, m, r in members])
                out["rel_tags"].append(tags_from(keys, vals))
    return out


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
    counts = np.diff(tot_at_end, prepend=0)
    return vals, counts


def _segmented_delta_cumsum(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment cumsum of zigzag deltas (each segment's chain starts
    at 0): global cumsum minus the sum before each segment."""
    g = _offsets(np_unzigzag(vals))
    return g[1:] - np.repeat(g[_offsets(counts)[:-1]], counts)


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
        return _tags_list_array(np.zeros(n_nodes, np.int64), [], [])
    zpos = np.flatnonzero(kv == 0)
    if len(zpos) != n_nodes:
        return _kv_tags_array_scalar(kv, n_nodes, stab)
    counts = np.diff(zpos, prepend=-1) - 1
    nz = kv[kv != 0]
    return _tags_list_array(counts // 2, _lookup(stab, nz[0::2]), _lookup(stab, nz[1::2]))


def _kv_tags_array_scalar(kv: np.ndarray, n_nodes: int, stab: np.ndarray) -> pa.ListArray:
    """Slow-path keys_vals walk matching PBFInput.java:105-114 exactly:
    only a 0 at a KEY position terminates a node's tag run. A run that
    ends before its terminator is a corrupt block (ValueError)."""
    key_idx: list[int] = []
    val_idx: list[int] = []
    counts = np.zeros(n_nodes, np.int64)
    pos = 0
    for i in range(n_nodes):
        while pos + 1 < len(kv) and kv[pos] != 0:
            key_idx.append(int(kv[pos]))
            val_idx.append(int(kv[pos + 1]))
            counts[i] += 1
            pos += 2
        if pos >= len(kv) or kv[pos] != 0:
            raise ValueError("corrupt dense-node keys_vals: a tag run has no 0 terminator")
        pos += 1
    return _tags_list_array(counts, _lookup(stab, key_idx), _lookup(stab, val_idx))


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


def _batch_fields(msgs: list[bytes], fnos: tuple) -> tuple[np.ndarray, list]:
    """A block's way or relation messages → (int64 ids, one (values,
    counts) pair per field of ``fnos``): each message's packed payloads
    are gathered raw, then each field decodes for the whole block in one
    ``_batch_packed`` pass."""
    ids, cols = [], {f: [] for f in fnos}
    for msg in msgs:
        eid, parts = 0, {}
        for fno, wt, val in _fields(msg):
            if fno == 1:
                eid = val
            elif fno in cols:
                parts[fno] = parts.get(fno, b"") + (val if wt == 2 else _enc_varint(val))
        ids.append(eid)
        for fno, col in cols.items():
            col.append(parts.get(fno, b""))
    return np.array(ids, np.uint64).astype(np.int64), [_batch_packed(c) for c in cols.values()]


_WAY_FIELDS = (2, 3, 8)  # keys, vals, refs
_REL_FIELDS = (2, 3, 8, 9, 10)  # keys, vals, roles, memids, types


def decode_block_arrow(data: bytes):
    """PrimitiveBlock bytes → pa.RecordBatch per entity kind present.

    Dense nodes (the planet's bulk) decode with zero per-entity Python:
    packed varints via ``np_decode_varints``, tag assembly via
    ``_kv_tags_array``, Arrow arrays built directly (no pandas dicts).
    Ways/relations walk their per-entity protobuf framing for the raw
    field payloads, then decode each column for the whole block in one
    pass and build the list arrays from flats + counts.
    """
    stab, groups, granularity, lat_offset, lon_offset = _block_fields(data)
    batches = []
    for group in groups:
        ways, rels = [], []
        for fno, wt, val in _fields(group):
            if fno == 2:  # dense nodes — fully vectorized
                ids, lats, lons, kv = _dense_columns(val)
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
                nid, nlat, nlon, keys, vals = _packed_columns(val, 1, 8, 9, 2, 3)
                batches.append(
                    _entity_batch(
                        "node",
                        np_unzigzag(nid),
                        _tags_list_array([len(keys)], _lookup(stab, keys), _lookup(stab, vals)),
                        _fixed_from_raw(np_unzigzag(nlat), granularity, lat_offset),
                        _fixed_from_raw(np_unzigzag(nlon), granularity, lon_offset),
                    )
                )
            elif fno == 3:  # way — decoded with the block's other ways
                ways.append(val)
            elif fno == 4:  # relation — decoded with the block's other relations
                rels.append(val)
        if ways:
            ids, ((kc, k_counts), (vc, _), (refs, r_counts)) = _batch_fields(ways, _WAY_FIELDS)
            refs = pa.array(_segmented_delta_cumsum(refs, r_counts), pa.int64())
            batches.append(
                _entity_batch(
                    "way",
                    ids,
                    _tags_list_array(k_counts, _lookup(stab, kc), _lookup(stab, vc)),
                    node_ids=_list_array(r_counts, refs),
                )
            )
        if rels:
            fields = _batch_fields(rels, _REL_FIELDS)
            ids, ((kc, k_counts), (vc, _), (roles, _), (mems, m_counts), (types, _)) = fields
            batches.append(
                _entity_batch(
                    "relation",
                    ids,
                    _tags_list_array(k_counts, _lookup(stab, kc), _lookup(stab, vc)),
                    members=_members_array(
                        m_counts, types, _segmented_delta_cumsum(mems, m_counts), _lookup(stab, roles)
                    ),
                )
            )
    return batches


# ---------------------------------------------------------------------------
# PrimitiveBlock encode ← Arrow record batches
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
    """A list cell of ``RecordBatch.to_pylist()`` rows, null read as []."""
    return [] if x is None else x


def _encode_block(kind: str, batch: pa.RecordBatch) -> bytes:
    """Scalar reference encoder: one type-pure PrimitiveBlock (≤8000
    rows) from ``batch.to_pylist()`` rows, strings coded in first-use
    order by ``_StringTable``. Tests compare the Arrow encoders' decoded
    rows against it."""
    st = _StringTable()
    rows = batch.to_pylist()
    kv: list[int] = []
    msgs = []
    for row in rows:
        tags = _as_list(row["tags"])
        keys = [st.code(t["key"]) for t in tags]
        vals = [st.code(t["value"]) for t in tags]
        if kind == "node":
            kv += [c for pair in zip(keys, vals) for c in pair] + [0]
            continue
        msg = (
            _enc_field_varint(1, row["id"])
            + _enc_packed(2, np.array(keys, np.uint64))
            + _enc_packed(3, np.array(vals, np.uint64))
        )
        if kind == "way":
            msgs.append(_enc_field_bytes(3, msg + _enc_packed(8, _zigzag_deltas(_as_list(row["node_ids"])))))
        elif kind == "relation":
            members = _as_list(row["members"])
            msg += (
                _enc_packed(8, np.array([st.code(m["role"]) for m in members], np.uint64))
                + _enc_packed(9, _zigzag_deltas([m["member_id"] for m in members]))
                + _enc_packed(10, np.array([_MEMBER_ORD[m["type"]] for m in members], np.uint64))
            )
            msgs.append(_enc_field_bytes(4, msg))
        else:  # pragma: no cover
            raise ValueError(kind)
    if kind == "node":
        dense = (
            _enc_packed(1, _zigzag_deltas([r["id"] for r in rows]))
            + _enc_packed(8, _zigzag_deltas([r["fixed_lat"] for r in rows]))
            + _enc_packed(9, _zigzag_deltas([r["fixed_lon"] for r in rows]))
            + _enc_packed(10, np.array(kv, np.uint64))
        )
        msgs = [_enc_field_bytes(2, dense)]
    return _enc_field_bytes(1, st.encode()) + _enc_field_bytes(2, b"".join(msgs))


def _tag_columns(batch: pa.RecordBatch) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The tags column → (tags per row, flat keys, flat values), a null
    string read as ""."""
    counts, tags = _list_col(batch, "tags")
    return counts, _strings(tags.field("key")), _strings(tags.field("value"))


def _tag_codes(batch: pa.RecordBatch, *more: np.ndarray):
    """The tags column → (tags per row, [key codes, value codes, codes of
    each of ``more``], the encoded stringtable field): one string table
    over keys, values and ``more``."""
    counts, keys, vals = _tag_columns(batch)
    codes, table = _string_table(keys, vals, *more)
    return counts, codes, table


def _encode_dense_block_arrow(chunk: pa.RecordBatch) -> bytes:
    """Node PrimitiveBlock from an Arrow batch with ZERO per-node
    Python: one string table over the tag columns, and the 0-terminated
    keys_vals stream assembled by vectorized scatter."""
    counts, (kcodes, vcodes), table = _tag_codes(chunk)
    # pair j of node i sits at 2j + i: i terminators precede it
    kv = np.zeros(2 * len(kcodes) + chunk.num_rows, np.uint64)
    pos = 2 * np.arange(len(kcodes)) + np.repeat(np.arange(chunk.num_rows), counts)
    kv[pos], kv[pos + 1] = kcodes, vcodes
    dense = (
        _enc_packed(1, _zigzag_deltas(_int64s(chunk.column("id"))))
        + _enc_packed(8, _zigzag_deltas(_int64s(chunk.column("fixed_lat"))))
        + _enc_packed(9, _zigzag_deltas(_int64s(chunk.column("fixed_lon"))))
        + _enc_packed(10, kv)
    )
    return table + _enc_field_bytes(2, _enc_field_bytes(2, dense))


def _encode_way_block_arrow(chunk: pa.RecordBatch) -> bytes:
    """Way PrimitiveBlock from an Arrow batch: tag codes and per-way ref
    delta chains encode in block-wide numpy passes; the per-way Python
    left is framing the precomputed byte spans (``_messages``)."""
    tag_counts, (kcodes, vcodes), table = _tag_codes(chunk)
    ref_counts, refs = _list_col(chunk, "node_ids")
    group = _messages(3, _int64s(chunk.column("id")), [
        (2, _seg_varint_spans(kcodes, tag_counts)),
        (3, _seg_varint_spans(vcodes, tag_counts)),
        (8, _seg_varint_spans(_zigzag_deltas(_int64s(refs), ref_counts), ref_counts)),
    ])
    return table + _enc_field_bytes(2, group)


def _encode_rel_block_arrow(chunk: pa.RecordBatch) -> bytes:
    """Relation PrimitiveBlock from an Arrow batch — the way encoder's
    passes, with member roles in the string table, per-relation member-id
    delta chains and member type codes. An unknown member type raises
    ``ValueError``."""
    m_counts, members = _list_col(chunk, "members")
    tag_counts, (kcodes, vcodes, rcodes), table = _tag_codes(chunk, _strings(members.field("role")))
    mtypes = members.field("type")
    tcodes = pc.index_in(mtypes, value_set=_PA_MEMBER_TYPES)
    if tcodes.null_count:
        bad = mtypes.filter(pc.is_null(tcodes))[0].as_py()
        raise ValueError(f"unknown relation member type {bad!r}")
    mids = _int64s(members.field("member_id"))
    group = _messages(4, _int64s(chunk.column("id")), [
        (2, _seg_varint_spans(kcodes, tag_counts)),
        (3, _seg_varint_spans(vcodes, tag_counts)),
        (8, _seg_varint_spans(rcodes, m_counts)),
        (9, _seg_varint_spans(_zigzag_deltas(mids, m_counts), m_counts)),
        (10, _seg_varint_spans(_int64s(tcodes), m_counts)),
    ])
    return table + _enc_field_bytes(2, group)


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
    0.8s of task round trips at 91 tiny tasks on local[32] vs 0.3s at 32.
    A ``LocalRelation`` already scans as min(rows, defaultParallelism)
    slices of consecutive blobs, so up to ``blobs_per_task`` ×
    defaultParallelism blobs it is returned as it is: a
    ``repartition`` there adds a shuffle job and nothing else (the sf-s
    round trips' reads 3 → 2 jobs with a grouped digest)."""
    from osm_lib_spark.session import local_frame

    frame = local_frame(spark, rows, ddl)
    n_part = len(rows) // blobs_per_task
    if n_part <= spark.sparkContext.defaultParallelism:
        return frame
    return frame.repartition(n_part, "seq")


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


def _bucket_step(n: int, lo: int, hi: int, block_size: int) -> int:
    """The id width of one type's buckets: its [lo, hi] id range cut into
    ceil(n / block_size) equal ranges; a row's bucket is (id - lo) // step."""
    return -(-(hi - lo + 1) // -(-n // block_size))


def _driver_buckets(typed: list[tuple[int, pa.Table]], block_size: int) -> Iterator[tuple[int, pa.Table]]:
    """(type_rank, rows) of each non-empty bucket in file order,
    id-sorted: the buckets of ``write_blocks``' cluster path, cut on the
    driver from each type's (type_rank, rows) table of ``typed``."""
    for rank, table in typed:
        if not table.num_rows:
            continue
        table = table.sort_by("id")
        ids = table.column("id").to_numpy()
        lo, hi = int(ids[0]), int(ids[-1])
        step = _bucket_step(len(ids), lo, hi, block_size)
        cuts = np.searchsorted(ids, list(range(lo + step, hi + 1, step)))
        for start, end in zip([0, *cuts], [*cuts, len(ids)]):
            if start < end:
                yield rank, table.slice(start, end - start)


def write_blocks(path: str, tables, encode, block_size: int, header: bytes = b"") -> int:
    """The block sink of ``write_pbf`` and ``write_vex``: write ``tables``
    = (nodes, ways, relations), any of them None, type-major in id order
    and return the number of blocks. ``encode(type_rank, batch)`` yields
    the framed blocks of one id-sorted batch of ``TYPE_COLUMNS[type_rank]``.

    Rows are bucketed by id range into ~``block_size``-row buckets
    (``_bucket_step`` of each type's row count and id range), and each
    bucket is encoded in (type, bucket) order. Where that runs follows
    the engine's size rule (``session.collect_bounded``). When every
    table is a loaded cache, their ``session.known_bytes`` decide with
    no job: under ``spark.sql.autoBroadcastJoinThreshold`` together, and
    so their resident copies' Arrow bytes, the driver sorts, buckets and
    encodes those copies (``_driver_buckets``) and the call runs no job;
    over it, the cluster path runs with no collect spent. Otherwise the
    union is collected bounded, by its rows at ``row_bytes`` and then by
    the collected table's Arrow bytes (an array counts as one element
    in ``row_bytes``), and under both that one collect is the only job
    before the driver encodes it. Otherwise one aggregate gives each type's row
    count and id range, each type gets clamp(ceil(rows / block_size), 1,
    defaultParallelism) tasks, as a Python task has a fixed cost (~0.02
    CPU-s on a 4 vCPU host), and ONE ``mapInArrow`` per task writes each
    bucket as a part file named by (type_rank, bucket), so the file does
    not depend on which task a bucket hashed to: 4 jobs with AQE, after
    the spent collect when uncached rows or bytes are over. Both paths cut
    the same buckets and hand them to the same ``encode``, so they write
    the same bytes.
    """
    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import ArrayType

    from osm_lib_spark.session import broadcast_threshold, collect_bounded, known_bytes, resident

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

    def write_part(key: tuple, pending: list) -> int:
        batch = pa.Table.from_batches(pending).select(TYPE_COLUMNS[key[0]]).combine_chunks()
        blobs = list(encode(key[0], batch.to_batches()[0]))
        with open(os.path.join(tmpdir, "%d-%012d" % key), "wb") as f:
            f.writelines(blobs)
        return len(blobs)

    threshold = broadcast_threshold(rows.sparkSession)
    present = [(rank, df) for rank, df in enumerate(tables) if df is not None]
    known = [known_bytes(df) for _, df in present]
    by_type = None
    if None in known:
        table = collect_bounded(rows)
        if table is not None and table.nbytes <= threshold:
            ranks = table.column("type_rank")
            by_type = [(rank, table.filter(pc.equal(ranks, rank))) for rank, _ in present]
    elif sum(known) <= threshold:
        # every table a loaded cache: their known sizes decide without a job
        copies = [resident(df) for _, df in present]
        if None not in copies and sum(c.nbytes for c in copies) <= threshold:
            by_type = [(rank, copy) for (rank, _), copy in zip(present, copies)]
    if by_type is not None:
        with _part_files(path, header) as tmpdir:
            return sum(write_part((rank, i), bucket.to_batches())
                       for i, (rank, bucket) in enumerate(_driver_buckets(by_type, block_size)))

    stats = rows.groupBy("type_rank").agg(
        F.count(F.lit(1)).alias("n"), F.min("id").alias("lo"), F.max("id").alias("hi")
    ).collect()
    dp = rows.sparkSession.sparkContext.defaultParallelism
    n_tasks, bucket = 0, F.lit(None)
    for r in stats:
        n_buckets = -(-r.n // block_size)
        step = _bucket_step(r.n, r.lo, r.hi, block_size)
        n_tasks += min(n_buckets, dp)
        bucket = F.when(
            F.col("type_rank") == r.type_rank, F.expr(f"(id - ({r.lo})) div {step}")
        ).otherwise(bucket)

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
