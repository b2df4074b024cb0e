"""Span codec tests: parse + round-trip (RoundTripTest.java:91-107 analog);
the PBF/VEX block sink on the sf-xs tables."""

import os

import pandas as pd
from pyspark.sql import functions as F

from osm_lib_spark.functions.tags import (
    add_or_replace_tag,
    get_tag,
    has_no_tags,
    has_tag,
    parse_tags,
    render_tags,
    tag_is_false,
    tag_is_true,
)
from osm_lib_spark.sources.span_codec import (
    parse_nodes,
    parse_relations,
    parse_ways,
    reassemble_docs,
    render_node_text,
    render_relation_text,
    render_way_text,
)
from tests.conftest import assert_df_equal, golden


def test_parse_counts_match_golden(docs_xs, fixture_xs):
    """Golden-count analog of OSMTest.java:14-17."""
    counts = golden(fixture_xs, "counts").set_index("entity_type")["n"]
    assert parse_nodes(docs_xs).count() == counts["node"]
    assert parse_ways(docs_xs).count() == counts["way"]
    assert parse_relations(docs_xs).count() == counts["relation"]


def test_parse_nodes_exact(docs_xs, fixture_xs):
    got = parse_nodes(docs_xs).select(
        "id", "fixed_lat", "fixed_lon", render_tags(F.col("tags")).alias("tags_str")
    )
    assert_df_equal(got, golden(fixture_xs, "nodes"), sort_cols=["id"])


def test_parse_ways_exact(docs_xs, fixture_xs):
    got = parse_ways(docs_xs).select(
        "id",
        F.array_join(
            F.transform(F.col("node_ids"), lambda r: r.cast("string")), ","
        ).alias("node_ids_str"),
        render_tags(F.col("tags")).alias("tags_str"),
    )
    exp = golden(fixture_xs, "ways")[["id", "node_ids_str", "tags_str"]]
    assert_df_equal(got, exp, sort_cols=["id"])


def test_parse_relations_exact(docs_xs, fixture_xs):
    got = parse_relations(docs_xs).select(
        "id",
        F.array_join(
            F.transform(
                F.col("members"),
                lambda m: F.concat_ws(
                    ":", m["type"], m["member_id"].cast("string"), m["role"]
                ),
            ),
            "|",
        ).alias("members_str"),
        render_tags(F.col("tags")).alias("tags_str"),
    )
    exp = golden(fixture_xs, "relations")[["id", "members_str", "tags_str"]]
    assert_df_equal(got, exp, sort_cols=["id"])


def test_roundtrip_span_sequence_equality(docs_xs):
    """docs → parse → re-render → reassemble must preserve every span
    (kind, text, media_ref, offset) in order — the engine-wide invariant."""
    canon = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.array_join(
            F.transform(
                F.col("spans"),
                lambda s: F.concat_ws(
                    "", s["kind"], s["text"], s["media_ref"], s["offset"].cast("string")
                ),
            ),
            "",
        ).alias("canonical"),
    )
    before = canon(docs_xs).toPandas().sort_values("doc_id").reset_index(drop=True)
    after = (
        canon(reassemble_docs(docs_xs)).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)


def test_render_inverse_of_parse(docs_xs):
    """render(parse(x)) == x for every entity span text."""
    from osm_lib_spark.sources.span_codec import explode_spans

    spans = explode_spans(docs_xs)
    for kind, parser, renderer in (
        ("node", parse_nodes, render_node_text),
        ("way", parse_ways, render_way_text),
        ("relation", parse_relations, render_relation_text),
    ):
        orig = (
            spans.where(F.col("kind") == kind)
            .select(F.col("text"))
            .toPandas()["text"]
            .sort_values()
            .reset_index(drop=True)
        )
        rendered = (
            renderer(parser(docs_xs))
            .toPandas()["text"]
            .sort_values()
            .reset_index(drop=True)
        )
        pd.testing.assert_series_equal(orig, rendered, check_names=False)


def test_tag_functions(spark):
    """Tag semantics unit tests (OSMEntityTest.java:16-50 analog)."""
    df = spark.createDataFrame(
        [("highway=primary;name=Main St;oneway=yes;k=;k=2;toll=no",)], ["s"]
    ).select(parse_tags(F.col("s")).alias("tags"))
    row = df.select(
        get_tag(F.col("tags"), "name").alias("name"),
        get_tag(F.col("tags"), "k").alias("first_k"),  # first-match semantics
        get_tag(F.col("tags"), "absent").alias("absent"),
        has_tag(F.col("tags"), "oneway").alias("has_oneway"),
        has_tag(F.col("tags"), "highway", "primary").alias("has_hp"),
        tag_is_true(F.col("tags"), "oneway").alias("oneway_true"),
        tag_is_false(F.col("tags"), "toll").alias("toll_false"),
        has_no_tags(F.col("tags")).alias("empty"),
        render_tags(add_or_replace_tag(F.col("tags"), "name", "New")).alias("upsert"),
        render_tags(add_or_replace_tag(F.col("tags"), "zz", "1")).alias("append"),
    ).first()
    assert row.name == "Main St"
    assert row.first_k == ""  # first match of duplicate key, empty value
    assert row.absent is None
    assert row.has_oneway and row.has_hp
    assert row.oneway_true and row.toll_false
    assert not row.empty
    assert row.upsert == "highway=primary;name=New;oneway=yes;k=;k=2;toll=no;"
    assert row.append == "highway=primary;name=Main St;oneway=yes;k=;k=2;toll=no;zz=1;"


def test_empty_tags(spark):
    df = spark.createDataFrame([("",), (";",)], ["s"]).select(
        parse_tags(F.col("s")).alias("tags")
    )
    got = df.select(
        has_no_tags(F.col("tags")).alias("e"), render_tags(F.col("tags")).alias("r")
    ).collect()
    assert all(r.e for r in got)
    assert all(r.r == "" for r in got)


def test_pbf_relation_encoder_rejects_unknown_member_type():
    """An unknown member type must fail loudly, not encode as RELATION."""
    import pyarrow as pa
    import pytest

    from osm_lib_spark.sources.pbf import _encode_rel_block_arrow

    def block(mtype):
        members = [{"type": mtype, "member_id": 7, "role": "outer"}]
        return pa.RecordBatch.from_pylist(
            [{"id": 1, "members": members, "tags": [{"key": "type", "value": "route"}]}]
        )

    assert _encode_rel_block_arrow(block("WAY"))
    with pytest.raises(ValueError, match="'AREA'"):
        _encode_rel_block_arrow(block("AREA"))


# ---------------------------------------------------------------------------
# the PBF/VEX block sink (pbf.write_blocks), on the sf-xs tables
# ---------------------------------------------------------------------------

# Small enough that the sf-xs buckets outnumber the sink's partitions, so
# buckets share partitions and some partitions get no rows (asserted in
# test_sink_block_size_exercises_collisions_and_empty_partitions).
SINK_BLOCK_SIZE = 40


def _xs_tables(docs_xs):
    return parse_nodes(docs_xs), parse_ways(docs_xs), parse_relations(docs_xs)


def _canon_rows(entities) -> list:
    """Order-free, type-tagged entity content as plain tuples."""
    rows = []
    for r in entities.collect():
        rows.append((
            r.entity_type,
            r.id,
            r.fixed_lat,
            r.fixed_lon,
            tuple((t.key, t.value) for t in r.tags or ()),
            tuple(r.node_ids or ()),
            tuple((m.type, m.member_id, m.role) for m in r.members or ()),
        ))
    return sorted(rows, key=lambda t: (t[0], t[1]))


def _source_rows(tables) -> list:
    from osm_lib_spark.sources.pbf import TYPE_COLUMNS, TYPE_NAMES

    typed = [
        t.select(F.lit(TYPE_NAMES[rank]).alias("entity_type"), *TYPE_COLUMNS[rank])
        for rank, t in enumerate(tables)
    ]
    rows = typed[0]
    for t in typed[1:]:
        rows = rows.unionByName(t, allowMissingColumns=True)
    return _canon_rows(rows)


def _assert_type_major_ascending(blocks: list) -> None:
    """``blocks``: (type_rank, ids) per block in file order."""
    firsts = [(rank, ids[0]) for rank, ids in blocks]
    assert firsts == sorted(firsts) and len(set(firsts)) == len(firsts)
    flat = [(rank, i) for rank, ids in blocks for i in ids]
    assert flat == sorted(flat) and len(set(flat)) == len(flat)


def test_sink_block_size_exercises_collisions_and_empty_partitions(spark, docs_xs):
    """The sink tests below run where buckets outnumber partitions, so
    some partitions hold several buckets and some hold none. Bucket keys
    follow write_blocks' id-range rule; partitions follow Spark's hash
    partitioning (pmod of the Murmur3 ``hash``)."""
    from osm_lib_spark.session import local_frame

    dp = spark.sparkContext.defaultParallelism
    keys, n_tasks = [], 0
    for rank, t in enumerate(_xs_tables(docs_xs)):
        ids = [r.id for r in t.select("id").collect()]
        n_buckets = -(-len(ids) // SINK_BLOCK_SIZE)
        step = -(-(max(ids) - min(ids) + 1) // n_buckets)
        n_tasks += min(n_buckets, dp)
        keys += sorted({(rank, (i - min(ids)) // step) for i in ids})
    hit = local_frame(spark, keys, "type_rank int, bucket long").select(
        F.pmod(F.hash("type_rank", "bucket"), F.lit(n_tasks)).alias("p")
    ).distinct().count()
    assert len(keys) > n_tasks > hit


def test_pbf_sink_roundtrip_small_blocks(spark, docs_xs, tmp_path):
    from osm_lib_spark.sources.pbf import (
        TYPE_NAMES,
        _inflate_blob,
        decode_block_arrow,
        read_pbf,
        scan_blobs,
        write_pbf,
    )

    tables = _xs_tables(docs_xs)
    path = str(tmp_path / "xs.pbf")
    n_blocks = write_pbf(path, *tables, block_size=SINK_BLOCK_SIZE)
    assert _canon_rows(read_pbf(spark, path)) == _source_rows(tables)

    blocks = []
    with open(path, "rb") as f:
        for _, off, size, kind, _ in scan_blobs(path):
            f.seek(off)
            if kind == "OSMData":
                (batch,) = decode_block_arrow(_inflate_blob(f.read(size)))
                ids = batch.column("id").to_pylist()
                assert 0 < len(ids) <= SINK_BLOCK_SIZE
                blocks.append((TYPE_NAMES.index(batch.column("entity_type")[0].as_py()), ids))
    assert len(blocks) == n_blocks
    _assert_type_major_ascending(blocks)


def test_vex_sink_roundtrip_small_buckets(spark, docs_xs, tmp_path, monkeypatch):
    import zlib

    from osm_lib_spark.sources import pbf
    from osm_lib_spark.sources.vex import decode_vex_block_arrow, read_vex, scan_vex_blocks, write_vex

    monkeypatch.setattr(pbf, "BLOCK_SIZE", SINK_BLOCK_SIZE)  # write_vex's bucket size
    tables = _xs_tables(docs_xs)
    path = str(tmp_path / "xs.vex")
    n_blocks = write_vex(path, *tables)
    assert _canon_rows(read_vex(spark, path)) == _source_rows(tables)

    blocks = []
    with open(path, "rb") as f:
        for _, off, size, kind, n, _ in scan_vex_blocks(path):
            f.seek(off)
            batch = decode_vex_block_arrow(kind, n, zlib.decompress(f.read(size)))
            blocks.append((pbf.TYPE_NAMES.index(kind), batch.column("id").to_pylist()))
    assert len(blocks) == n_blocks
    _assert_type_major_ascending(blocks)


def test_sink_failure_leaves_no_part_files(spark, docs_xs, tmp_path):
    import pytest

    from osm_lib_spark.sources.pbf import write_blocks

    def encode(rank, batch):
        raise RuntimeError("encoder failed")

    nodes, ways, _ = _xs_tables(docs_xs)
    path = str(tmp_path / "bad.pbf")
    with pytest.raises(Exception, match="encoder failed"):
        write_blocks(path, (nodes, ways, None), encode, SINK_BLOCK_SIZE)
    assert os.listdir(tmp_path) == []


def test_dense_keys_vals_without_terminator_raises():
    """A dense-node keys_vals run that ends before its 0 terminator is a
    corrupt block: a clean ValueError, never an IndexError."""
    import numpy as np
    import pytest

    from osm_lib_spark.sources.pbf import _kv_tags_array, _kv_tags_array_scalar

    stab = np.array(["", "k", "v"], dtype=object)
    for kv, n_nodes in (([1, 2], 1), ([1], 1), ([1, 2, 0, 1, 2], 2)):
        with pytest.raises(ValueError, match="terminator"):
            _kv_tags_array_scalar(np.array(kv, np.uint64), n_nodes, stab)
    with pytest.raises(ValueError, match="terminator"):
        _kv_tags_array(np.array([1, 2], np.uint64), 1, stab)
    ok = _kv_tags_array_scalar(np.array([1, 2, 0, 0], np.uint64), 2, stab)
    assert ok.to_pylist() == [[{"key": "k", "value": "v"}], []]


def test_pbf_framing_fails_loudly(tmp_path):
    """A header block cut inside its BlobHeader or its payload, a varint
    or length-delimited field that runs past its message, and bad zlib
    data each raise ValueError, never a bogus blob row, IndexError or
    zlib.error."""
    import struct

    import pytest

    from osm_lib_spark.sources.pbf import (
        _enc_field_bytes,
        _enc_field_varint,
        _fields,
        _inflate_blob,
        _read_varint,
        encode_header_block,
        scan_blobs,
    )

    framed = encode_header_block()
    (hlen,) = struct.unpack(">I", framed[:4])
    whole = tmp_path / "whole.pbf"
    whole.write_bytes(framed)
    ((_, offset, size, kind, _),) = scan_blobs(str(whole))
    assert (offset, size, kind) == (4 + hlen, len(framed) - 4 - hlen, "OSMHeader")
    assert 12 < 4 + hlen < len(framed) - 1
    for cut, what in ((2, "frame"), (6, "BlobHeader"), (12, "BlobHeader"), (len(framed) - 1, "EOF")):
        path = tmp_path / f"cut{cut}.pbf"
        path.write_bytes(framed[:cut])
        with pytest.raises(ValueError, match=what):
            scan_blobs(str(path))

    with pytest.raises(ValueError, match="varint"):
        _read_varint(b"\x80\x80", 0)
    short = _enc_field_bytes(1, b"OSMHeader")[:-2]
    with pytest.raises(ValueError, match="past its message"):
        list(_fields(short))
    with pytest.raises(ValueError, match="zlib"):
        _inflate_blob(_enc_field_varint(2, 10) + _enc_field_bytes(3, b"not zlib data"))
