"""Byte-level OSC (osmChange XML) source — completes S3's wire format.

The reference applies gzipped OSC XML diffs with a streaming SAX
handler (OSMChangeParser.java:33-119): <add>/<modify> put the entity,
<delete> removes it, coordinates go through the same fixed-point
truncation as PBF, and modified ways are re-indexed at end-of-document
(the deferred re-index our ``streaming/changes.affected_tiles``
reproduces).

Documented deviation (intended semantics, SURVEY §5.4 style): the
reference's handler never parses relation ``<member>`` elements — a
relation arriving via OSC silently loses its members
(OSMChangeParser.java:55-63 handles NODE/WAY/RELATION/TAG/ND only).
We parse members as the OSC schema defines them.

Spark shape: one diff FILE is the parallelism unit (files are
replication minutes — thousands exist at catch-up time), decoded with
``xml.etree.iterparse`` inside ``mapInArrow``. Rows carry a per-file
``seq`` so ``apply_changes`` keeps last-wins semantics within a batch.
"""

from __future__ import annotations

import gzip
import io
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc

from osm_lib_spark.sources.pbf import _PA_SCHEMA, ENTITY_SCHEMA

CHANGE_SCHEMA = "path string, seq long, action string, " + ENTITY_SCHEMA
_CHANGE_ARROW = pa.schema(
    [("path", pa.string()), ("seq", pa.int64()), ("action", pa.string()), *_PA_SCHEMA]
)

_ACTIONS = {"create": "add", "add": "add", "modify": "modify", "delete": "delete"}


def _to_fixed(deg_str: str) -> int:
    """(int)(deg * 1e7) truncation toward zero — Node.setLatLon parity."""
    return int(float(deg_str) * 1e7)


def parse_osc_bytes(path: str, data: bytes) -> pa.Table:
    """One osmChange document → its ``CHANGE_SCHEMA`` rows as an Arrow
    table (order-preserving)."""
    import xml.etree.ElementTree as ET

    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    rows = []
    action = "add"
    seq = 0
    # iterparse with start+end events: action blocks nest entities
    for event, el in ET.iterparse(io.BytesIO(data), events=("start", "end")):
        tag = el.tag.lower()
        if event == "start":
            if tag in _ACTIONS:
                action = _ACTIONS[tag]
            continue
        # end events: a completed entity has all its children parsed
        if tag not in ("node", "way", "relation"):
            continue
        eid = int(el.get("id", "-1"))
        tags = [
            {"key": t.get("k"), "value": t.get("v") or ""}
            for t in el.findall("tag")
        ]
        row = dict(
            path=path,
            seq=seq,
            action=action,
            entity_type=tag,
            id=eid,
            fixed_lat=None,
            fixed_lon=None,
            tags=tags,
            node_ids=None,
            members=None,
        )
        if tag == "node" and el.get("lat") is not None:
            row["fixed_lat"] = _to_fixed(el.get("lat"))
            row["fixed_lon"] = _to_fixed(el.get("lon"))
        elif tag == "way":
            row["node_ids"] = [int(nd.get("ref")) for nd in el.findall("nd")]
        elif tag == "relation":
            row["members"] = [
                {
                    "type": (m.get("type") or "").upper(),
                    "member_id": int(m.get("ref")),
                    "role": m.get("role") or "",
                }
                for m in el.findall("member")
            ]
        rows.append(row)
        seq += 1
        el.clear()
    return pa.Table.from_pylist(rows, schema=_CHANGE_ARROW)


def read_osc(spark, paths: list[str]):
    """Distributed OSC read: one task decodes one (or a few) diff
    files; output rows keep (path, seq) so application order is
    reconstructible downstream.

    ``seq`` is GLOBALLY ordered across files — seq = file_index·2³² +
    in-file position, with file_index following the order of ``paths``
    (the replication sequence order, i.e. chronological). Without the
    file offset, an id changed in two files would tie on its per-file
    seq and last-wins resolution in ``apply_changes`` became
    nondeterministic; the reference applies diffs strictly
    chronologically (Updater.java:73-153).
    """
    from osm_lib_spark.session import local_frame

    idx = local_frame(spark, [(p, i) for i, p in enumerate(paths)], "path string, i long")
    idx = idx.repartition(max(1, min(len(paths), 64)), "i")

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r in batch.to_pylist():
                with open(r["path"], "rb") as f:
                    out = parse_osc_bytes(r["path"], f.read())
                seq = pc.add(out.column("seq"), pa.scalar(r["i"] << 32, pa.int64()))
                yield from out.set_column(1, "seq", seq).to_batches()

    return idx.mapInArrow(decode, schema=CHANGE_SCHEMA)


def osc_node_changes(changes):
    """Change rows → the (action, id, payload..., seq) frame that
    ``streaming/changes.apply_changes`` consumes for the nodes table."""
    from pyspark.sql import functions as F  # noqa: N812

    return changes.where(F.col("entity_type") == "node").select(
        "action", "id", "fixed_lat", "fixed_lon", "tags", "seq"
    )


def osc_way_changes(changes):
    from pyspark.sql import functions as F  # noqa: N812

    return changes.where(F.col("entity_type") == "way").select(
        "action", "id", "node_ids", "tags", "seq"
    )


def osc_relation_changes(changes):
    from pyspark.sql import functions as F  # noqa: N812

    return changes.where(F.col("entity_type") == "relation").select(
        "action", "id", "members", "tags", "seq"
    )
