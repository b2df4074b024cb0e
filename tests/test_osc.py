"""Byte-level OSC XML parsing (S3 wire format) + end-to-end diff
application through apply_changes."""

import gzip
import os

from pyspark.sql import functions as F

from osm_lib_spark.sources.osc import (
    osc_node_changes,
    osc_way_changes,
    parse_osc_bytes,
    read_osc,
)
from osm_lib_spark.streaming.changes import apply_changes

OSC = b"""<?xml version='1.0' encoding='UTF-8'?>
<osmChange version="0.6" generator="test">
  <modify>
    <node id="1" lat="44.7730578" lon="-68.8692696" version="2">
      <tag k="railway" v="level_crossing"/>
    </node>
    <way id="10" version="3">
      <nd ref="1"/><nd ref="2"/><nd ref="3"/>
      <tag k="highway" v="residential"/>
    </way>
  </modify>
  <delete>
    <node id="2" lat="0.0" lon="0.0"/>
  </delete>
  <create>
    <node id="5" lat="-33.5" lon="151.2"/>
    <relation id="99">
      <member type="way" ref="10" role="outer"/>
      <member type="node" ref="1" role=""/>
      <tag k="type" v="multipolygon"/>
    </relation>
  </create>
</osmChange>
"""


def test_parse_osc_bytes_semantics():
    table = parse_osc_bytes("x.osc", OSC)
    assert table.column("action").to_pylist() == ["modify", "modify", "delete", "add", "add"]
    assert table.column("seq").to_pylist() == [0, 1, 2, 3, 4]
    rows = table.to_pylist()
    node = rows[0]
    # fixed-point truncation parity with Java's (int)(parseDouble * 1e7):
    # 44.7730578 * 1e7 = 447730577.99999994 in float64 → truncates to
    # ...577 — one ulp BELOW the PBF-decoded value for the same
    # coordinate, a discrepancy inherent in the reference's own math
    # (Node.setLatLon double path vs PBF's exact integer path)
    assert node["fixed_lat"] == 447730577 and node["fixed_lon"] == -688692696
    assert node["tags"] == [{"key": "railway", "value": "level_crossing"}]
    way = rows[1]
    assert way["node_ids"] == [1, 2, 3]
    rel = rows[4]
    # intended semantics: members ARE parsed (the reference's SAX
    # handler drops them — OSMChangeParser.java:55-63)
    assert rel["members"] == [
        {"type": "WAY", "member_id": 10, "role": "outer"},
        {"type": "NODE", "member_id": 1, "role": ""},
    ]


def test_read_osc_gzip_and_apply(spark, tmp_path):
    p = os.path.join(tmp_path, "diff.osc.gz")
    with open(p, "wb") as f:
        f.write(gzip.compress(OSC))
    changes = read_osc(spark, [p])
    assert changes.count() == 5

    nodes = spark.createDataFrame(
        [(1, 0, 0, []), (2, 5, 5, []), (3, 6, 6, [])],
        "id long, fixed_lat int, fixed_lon int, tags array<struct<key:string,value:string>>",
    )
    merged = apply_changes(nodes, osc_node_changes(changes))
    got = {r.id: (r.fixed_lat, r.fixed_lon) for r in merged.collect()}
    # node 1 modified, node 2 deleted, node 3 untouched, node 5 added
    assert set(got) == {1, 3, 5}
    assert got[1] == (447730577, -688692696)
    assert got[5] == (-335000000, 1512000000)

    ways = spark.createDataFrame(
        [(10, [9, 9], []), (11, [1], [])],
        "id long, node_ids array<long>, tags array<struct<key:string,value:string>>",
    )
    wmerged = apply_changes(ways, osc_way_changes(changes))
    wgot = {r.id: list(r.node_ids) for r in wmerged.collect()}
    assert wgot == {10: [1, 2, 3], 11: [1]}


OSC_A = b"""<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="7" lat="1.0" lon="2.0"><tag k="v" v="first"/></node></modify>
</osmChange>
"""
OSC_B = b"""<?xml version='1.0'?>
<osmChange version="0.6">
  <modify><node id="7" lat="3.0" lon="4.0"><tag k="v" v="second"/></node></modify>
</osmChange>
"""


def test_multi_file_osc_last_file_wins(spark, tmp_path):
    """An id changed in TWO diff files must resolve to the later file's
    row — seq is globally ordered across files (file_index << 32), so
    per-file seq values can never tie and pick an arbitrary winner."""
    pa_, pb = str(tmp_path / "000001.osc.gz"), str(tmp_path / "000002.osc.gz")
    with open(pa_, "wb") as f:
        f.write(gzip.compress(OSC_A))
    with open(pb, "wb") as f:
        f.write(gzip.compress(OSC_B))
    changes = read_osc(spark, [pa_, pb])
    rows = changes.orderBy("seq").collect()
    assert [r.seq for r in rows] == [0, 1 << 32]
    target = spark.createDataFrame(
        [(7, 0, 0)], "id long, fixed_lat long, fixed_lon long"
    )
    nodes = osc_node_changes(changes).select(
        "action", "id",
        (F.col("fixed_lat").cast("long")).alias("fixed_lat"),
        (F.col("fixed_lon").cast("long")).alias("fixed_lon"),
        "seq",
    )
    merged = apply_changes(target, nodes, key="id").collect()
    assert len(merged) == 1
    assert merged[0].fixed_lat == 30000000  # file B (later) wins

    # reversed path order → file A wins: order is by paths, not content
    changes_rev = read_osc(spark, [pb, pa_])
    nodes_rev = osc_node_changes(changes_rev).select(
        "action", "id",
        (F.col("fixed_lat").cast("long")).alias("fixed_lat"),
        (F.col("fixed_lon").cast("long")).alias("fixed_lon"),
        "seq",
    )
    merged_rev = apply_changes(target, nodes_rev, key="id").collect()
    assert merged_rev[0].fixed_lat == 10000000


def test_apply_changes_equal_seq_tie_raises(spark):
    """Two changes for one id with EQUAL seq have no defined order —
    must raise at execution, never keep an arbitrary row."""
    import pytest
    from pyspark.errors import PySparkException

    target = spark.createDataFrame([(1, 100)], "id long, v long")
    ties = spark.createDataFrame(
        [("modify", 1, 200, 5), ("modify", 1, 300, 5)],
        "action string, id long, v long, seq long",
    )
    with pytest.raises(PySparkException, match="ambiguous|USER_RAISED"):
        apply_changes(target, ties, key="id").collect()
