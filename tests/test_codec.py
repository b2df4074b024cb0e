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
from tests.conftest import assert_df_equal, both_paths, entity_batch, golden, loaded, record_resident, spark_jobs, threshold


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


def test_pbf_string_table_code_past_end_raises():
    """A string-table code past the end of its block's table is a corrupt
    block: both decoders raise ValueError, never a numpy IndexError."""
    import numpy as np
    import pytest

    from osm_lib_spark.sources.pbf import (
        _enc_field_bytes,
        _enc_field_varint,
        _enc_packed,
        decode_block_arrow,
        decode_primitive_block,
        np_zigzag,
    )

    table = _enc_field_bytes(1, _enc_field_bytes(1, b""))  # one entry: ""
    seven = np_zigzag(np.array([7]))
    dense = (
        _enc_packed(1, seven)
        + _enc_packed(8, seven)
        + _enc_packed(9, seven)
        + _enc_packed(10, np.array([7, 7, 0], np.uint64))
    )
    way = (
        _enc_field_varint(1, 9)
        + _enc_packed(2, np.array([7], np.uint64))
        + _enc_packed(3, np.array([0], np.uint64))
    )
    for group in (_enc_field_bytes(2, dense), _enc_field_bytes(3, way)):
        for decode in (decode_block_arrow, decode_primitive_block):
            with pytest.raises(ValueError, match="past the end"):
                decode(table + _enc_field_bytes(2, group))


def test_packed_varint_without_terminator_raises():
    """A packed field whose last varint has no terminating byte is a
    corrupt block: ValueError from the varint decoder and from both
    block decoders, never a numpy IndexError."""
    import numpy as np
    import pytest

    from osm_lib_spark.sources.pbf import (
        _enc_field_bytes,
        decode_block_arrow,
        decode_primitive_block,
        np_decode_varints,
    )

    with pytest.raises(ValueError, match="varint"):
        np_decode_varints(np.frombuffer(b"\x02\x80", np.uint8))
    assert np_decode_varints(np.frombuffer(b"\x02\x80\x01", np.uint8)).tolist() == [2, 128]
    table = _enc_field_bytes(1, _enc_field_bytes(1, b""))
    dense = _enc_field_bytes(1, b"\x02\x80")  # DenseNodes ids
    block = table + _enc_field_bytes(2, _enc_field_bytes(2, dense))
    for decode in (decode_block_arrow, decode_primitive_block):
        with pytest.raises(ValueError, match="varint"):
            decode(block)


def test_pbf_way_block_without_refs_decodes():
    """A way block in which no way has a ref decodes, each way with an
    empty ref list."""
    from osm_lib_spark.sources.pbf import _encode_block, _encode_way_block_arrow, decode_block_arrow

    batch = entity_batch("way", [
        {"id": 1, "node_ids": [], "tags": []},
        {"id": 2, "node_ids": None, "tags": [{"key": "k", "value": "v"}]},
    ])
    for block in (_encode_way_block_arrow(batch), _encode_block("way", batch)):
        (got,) = decode_block_arrow(block)
        assert got.column("id").to_pylist() == [1, 2]
        assert got.column("node_ids").to_pylist() == [[], []]


def test_block_encoders_write_null_strings_as_empty():
    """A null tag key, tag value or member role encodes as "" in every
    PBF and VEX block encoder, as the scalar ``_StringTable`` does."""
    from osm_lib_spark.sources.pbf import (
        _encode_block,
        _encode_dense_block_arrow,
        _encode_rel_block_arrow,
        _encode_way_block_arrow,
        decode_block_arrow,
    )
    from osm_lib_spark.sources.vex import _inflate_block, decode_vex_block_arrow, encode_vex_rows

    tags = [{"key": None, "value": "v"}, {"key": "k", "value": None}]
    rows = {
        "node": {"id": 1, "fixed_lat": 0, "fixed_lon": 0, "tags": tags},
        "way": {"id": 2, "node_ids": [1], "tags": tags},
        "relation": {"id": 3, "members": [{"type": "NODE", "member_id": 1, "role": None}], "tags": tags},
    }
    encoders = {
        "node": _encode_dense_block_arrow,
        "way": _encode_way_block_arrow,
        "relation": _encode_rel_block_arrow,
    }
    for kind, row in rows.items():
        batch = entity_batch(kind, [row])
        ((_, blob),) = encode_vex_rows(kind, batch)
        decoded = [
            *decode_block_arrow(encoders[kind](batch)),
            *decode_block_arrow(_encode_block(kind, batch)),
            decode_vex_block_arrow(kind, 1, _inflate_block(blob[12:])),
        ]
        for got in decoded:
            assert got.column("tags").to_pylist() == [[{"key": "", "value": "v"}, {"key": "k", "value": ""}]]
            if kind == "relation":
                assert got.column("members").to_pylist() == [[{"type": "NODE", "member_id": 1, "role": ""}]]


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


def _sink_both_paths(spark, tmp_path, monkeypatch, ext: str, write, tables) -> tuple[str, int]:
    """``write(path, tables)`` at the session threshold (the driver
    encodes) and at -1 (the aggregate, shuffle and ``mapInArrow``
    path), over filters on ``tables`` that keep every row (the driver
    encodes one bounded collect) and over ``tables`` as loaded caches
    (it encodes their resident copies): the four files are byte-equal
    and count the same blocks. Returns (the first file, its block
    count)."""
    # the sink imports the session module when it runs
    reads = record_resident(monkeypatch, "osm_lib_spark.session")
    files = iter(str(tmp_path / f"{side}.{ext}") for side in ("driver", "cluster", "resident", "cached-cluster"))
    written = []
    for cached in (False, True):
        inputs = [loaded(t) for t in tables] if cached else [t.where(F.col("id").isNotNull()) for t in tables]
        reads.clear()

        def run():
            path = next(files)
            return path, write(path, inputs)

        written += both_paths(spark, run)
        # the -1 run reads no copy: the caches' known sizes are over it
        assert [r is not None for r in reads] == [True] * len(tables) * cached, cached
    for t in tables:
        t.unpersist()
    (path, n_blocks), *others = written
    for other, n_other in others:
        with open(path, "rb") as a, open(other, "rb") as b:
            assert a.read() == b.read() and n_blocks == n_other
    return path, n_blocks


def test_pbf_sink_roundtrip_small_blocks(spark, docs_xs, tmp_path, monkeypatch):
    from osm_lib_spark.sources.pbf import (
        TYPE_NAMES,
        _inflate_blob,
        decode_block_arrow,
        read_pbf,
        scan_blobs,
        write_pbf,
    )

    tables = _xs_tables(docs_xs)
    path, n_blocks = _sink_both_paths(
        spark, tmp_path, monkeypatch, "pbf", lambda p, t: write_pbf(p, *t, block_size=SINK_BLOCK_SIZE), tables
    )
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

    from osm_lib_spark.sources import pbf, vex
    from osm_lib_spark.sources.vex import decode_vex_block_arrow, read_vex, scan_vex_blocks, write_vex

    monkeypatch.setattr(vex, "BLOCK_SIZE", SINK_BLOCK_SIZE)  # write_vex's bucket size
    tables = _xs_tables(docs_xs)
    path, n_blocks = _sink_both_paths(spark, tmp_path, monkeypatch, "vex", lambda p, t: write_vex(p, *t), tables)
    assert _canon_rows(read_vex(spark, path)) == _source_rows(tables)

    blocks = []
    with open(path, "rb") as f:
        for _, off, size, kind, n, _ in scan_vex_blocks(path):
            f.seek(off)
            batch = decode_vex_block_arrow(kind, n, zlib.decompress(f.read(size)))
            blocks.append((pbf.TYPE_NAMES.index(kind), batch.column("id").to_pylist()))
    assert len(blocks) == n_blocks
    _assert_type_major_ascending(blocks)


def test_sink_bounds_collected_bytes(spark, tmp_path):
    """Ways whose rows fit the sink's collect bound (``row_bytes`` counts
    an array as one element: 20 rows of ~68 B) but whose Arrow bytes do
    not (20 × 500 refs, ~80 kB, against a 20 kB threshold) take the
    cluster path after the collect, and write the cluster path's bytes."""
    from osm_lib_spark.sources.pbf import write_pbf

    ways = spark.createDataFrame(
        [(i, list(range(1000 * i, 1000 * i + 500)), []) for i in range(20)],
        "id long, node_ids array<long>, tags array<struct<key: string, value: string>>",
    ).cache()
    write = {side: str(tmp_path / f"{side}.pbf") for side in ("fits", "bytes over", "cluster")}
    _, fits = spark_jobs(spark, lambda: write_pbf(write["fits"], None, ways, None))
    with threshold(spark, "20000"):
        _, over = spark_jobs(spark, lambda: write_pbf(write["bytes over"], None, ways, None))
    with threshold(spark, "-1"):
        write_pbf(write["cluster"], None, ways, None)
    ways.unpersist()
    assert fits == 1 < over
    with open(write["bytes over"], "rb") as a, open(write["cluster"], "rb") as b:
        assert a.read() == b.read()


def test_pbf_arrow_encoders_match_scalar_reference(docs_xs):
    """The Arrow block encoders and the scalar reference ``_encode_block``
    decode to equal rows on the sf-xs node, way and relation tables. The
    bytes differ: the two order their string tables differently."""
    from osm_lib_spark.sources.pbf import (
        TYPE_COLUMNS,
        TYPE_NAMES,
        _encode_block,
        _encode_dense_block_arrow,
        _encode_rel_block_arrow,
        _encode_way_block_arrow,
        decode_block_arrow,
    )

    encoders = (_encode_dense_block_arrow, _encode_way_block_arrow, _encode_rel_block_arrow)
    for rank, table in enumerate(_xs_tables(docs_xs)):
        batch = table.select(*TYPE_COLUMNS[rank]).orderBy("id").toArrow().combine_chunks().to_batches()[0]
        (arrow,) = decode_block_arrow(encoders[rank](batch))
        (scalar,) = decode_block_arrow(_encode_block(TYPE_NAMES[rank], batch))
        assert arrow.num_rows == batch.num_rows > 0
        assert arrow.to_pylist() == scalar.to_pylist()


def test_sink_failure_leaves_no_part_files(spark, docs_xs, tmp_path):
    import pytest

    from osm_lib_spark.sources.pbf import write_blocks

    def encode(rank, batch):
        raise RuntimeError("encoder failed")

    nodes, ways, _ = _xs_tables(docs_xs)

    def fails():
        with pytest.raises(Exception, match="encoder failed"):
            write_blocks(str(tmp_path / "bad.pbf"), (nodes, ways, None), encode, SINK_BLOCK_SIZE)
        return os.listdir(tmp_path)

    assert both_paths(spark, fails) == ([], [])


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


def test_vex_framing_fails_loudly(spark, tmp_path):
    """A VEX file cut inside a 12-byte block header or a block payload,
    a varint that runs past its block, a block payload that ends before
    or goes on past its header's entity count and bad zlib data each
    raise ValueError, never a silently shorter file, IndexError or
    zlib.error."""
    import pytest

    from osm_lib_spark.sources.pbf import _read_varint
    from osm_lib_spark.sources.vex import (
        _frame_block,
        _inflate_block,
        decode_vex_block_arrow,
        encode_vex_rows,
        read_vex,
        scan_vex_blocks,
    )

    framed = _frame_block("node", 3, bytes(range(64)))
    whole = tmp_path / "whole.vex"
    whole.write_bytes(framed + framed)
    rows = scan_vex_blocks(str(whole))
    assert [(off, size, kind, n, seq) for _, off, size, kind, n, seq in rows] == [
        (12, len(framed) - 12, "node", 3, 0),
        (len(framed) + 12, len(framed) - 12, "node", 3, 1),
    ]
    for cut, what in ((4, "header"), (11, "header"), (len(framed) + 6, "header"), (len(framed) - 1, "EOF")):
        path = tmp_path / f"cut{cut}.vex"
        path.write_bytes((framed + framed)[:cut])
        with pytest.raises(ValueError, match=what):
            scan_vex_blocks(str(path))
    with pytest.raises(ValueError, match="EOF"):
        read_vex(spark, str(tmp_path / f"cut{len(framed) - 1}.vex"))

    with pytest.raises(ValueError, match="varint"):
        _read_varint(b"\x80\x80", 0)
    with pytest.raises(ValueError, match="varint"):
        _read_varint(b"\x01", 1)
    assert _read_varint(b"\x80\x01", 0) == (128, 2)
    with pytest.raises(ValueError, match="zlib"):
        _inflate_block(b"not zlib data")
    with pytest.raises(ValueError, match="zlib"):
        _inflate_block(framed[12:-1])
    assert _inflate_block(framed[12:]) == bytes(range(64))

    # a header that overstates or understates its block's entity count,
    # or a payload one byte short (the last byte is a varint's, or a role
    # string's)
    blocks = {
        "node": [
            {"id": 1, "fixed_lat": 10, "fixed_lon": 20, "tags": [{"key": "k", "value": "v"}]},
            {"id": 5, "fixed_lat": 11, "fixed_lon": 300, "tags": []},
        ],
        "way": [
            {"id": 2, "node_ids": [1, 5], "tags": []},
            {"id": 3, "node_ids": [5, 300], "tags": [{"key": "highway", "value": "x"}]},
        ],
        "relation": [
            {"id": 4, "members": [{"type": "WAY", "member_id": 2, "role": "outer"}], "tags": []},
        ],
    }
    for kind, rows in blocks.items():
        ((_, blob),) = encode_vex_rows(kind, entity_batch(kind, rows))
        payload = _inflate_block(blob[12:])
        assert decode_vex_block_arrow(kind, len(rows), payload).num_rows == len(rows)
        for n, cut in ((len(rows) + 1, payload), (len(rows), payload[:-1])):
            with pytest.raises(ValueError):
                decode_vex_block_arrow(kind, n, cut)
        with pytest.raises(ValueError, match=f"bytes past its {len(rows) - 1} entities"):
            decode_vex_block_arrow(kind, len(rows) - 1, payload)
    ((_, node_blob),) = encode_vex_rows("node", entity_batch("node", blocks["node"]))
    overstated = tmp_path / "overstated.vex"
    overstated.write_bytes(_frame_block("node", 3, _inflate_block(node_blob[12:])))
    with pytest.raises(Exception, match="ends before its 3 entities"):
        read_vex(spark, str(overstated)).collect()
    understated = tmp_path / "understated.vex"
    understated.write_bytes(_frame_block("node", 1, _inflate_block(node_blob[12:])))
    with pytest.raises(Exception, match="bytes past its 1 entities"):
        read_vex(spark, str(understated)).collect()
