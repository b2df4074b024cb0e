"""Span codec tests: parse + round-trip (RoundTripTest.java:91-107 analog)."""

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
