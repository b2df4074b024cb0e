"""One bbox_extract_batch over the five named boxes must give each box
exactly its golden (entity_type, id) set."""

import json
import os

import pytest

from osm_lib_spark.operators.extract import bbox_extract_batch
from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
from tests.conftest import assert_df_equal, golden


@pytest.fixture(scope="module")
def meta_xs(fixture_xs):
    with open(os.path.join(fixture_xs, "meta.json")) as f:
        return json.load(f)


def test_batch_equals_per_bbox(spark, docs_xs, fixture_xs, meta_xs):
    names = ["dense", "wide", "world", "empty", "equator"]
    batch = bbox_extract_batch(
        parse_nodes(docs_xs),
        parse_ways(docs_xs),
        parse_relations(docs_xs),
        [tuple(meta_xs["bboxes"][n]) for n in names],
    ).cache()
    for i, name in enumerate(names):
        assert_df_equal(
            batch.where(batch.bbox_id == i),
            golden(fixture_xs, f"extract_{name}"),
            sort_cols=["entity_type", "id"],
        )
    batch.unpersist()
