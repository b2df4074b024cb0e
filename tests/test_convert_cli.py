"""Converter CLI (Converter.java:18-38 parity): extension-detected
format pumping pbf -> vex -> txt, plus the SpeedSetter.java CSV
tag-upsert flow."""

import os

import pytest

from jobs.convert import main as convert_main

BANGOR = "/root/reference/src/test/resources/bangor_maine.osm.pbf"

pytestmark = pytest.mark.skipif(
    not os.path.exists(BANGOR), reason="reference fixture not present"
)


def test_convert_pbf_to_vex_with_speeds_and_txt(spark, tmp_path, capsys):
    from pyspark.sql import functions as F

    from osm_lib_spark.functions.tags import get_tag
    from osm_lib_spark.sources.vex import read_vex

    csv = str(tmp_path / "speeds.csv")
    # two real bangor way ids get a speed tag
    from osm_lib_spark.sources.pbf import read_pbf

    way_ids = [
        r.id
        for r in read_pbf(spark, BANGOR)
        .where(F.col("entity_type") == "way")
        .select("id")
        .orderBy("id")
        .limit(2)
        .collect()
    ]
    with open(csv, "w") as f:
        f.write("osm_way_id,speed_kph\n")
        f.write(f"{way_ids[0]},37.5\n{way_ids[1]},88.0\n")

    out_vex = str(tmp_path / "bangor.vex")
    assert convert_main([BANGOR, out_vex, "--set-tags", csv]) == 0
    back = read_vex(spark, out_vex)
    assert back.count() == 38757  # 35747 + 2976 + 34, OSMTest.java counts
    tagged = (
        back.where(F.col("id").isin(*[int(w) for w in way_ids]))
        .where(F.col("entity_type") == "way")
        .select("id", get_tag(F.col("tags"), "maxspeed:motorcar").alias("v"))
        .orderBy("id")
        .collect()
    )
    assert [(r.id, r.v) for r in tagged] == [
        (way_ids[0], "37.5 kph"),
        (way_ids[1], "88.0 kph"),
    ]

    # txt sink: TextOutput.java sentinels + line grammar
    out_txt = str(tmp_path / "bangor.txt")
    assert convert_main([out_vex, out_txt]) == 0
    with open(out_txt) as f:
        text = f.read()
    lines = text.split("\n")
    assert lines[0] == "--- BEGINNING OF OSM TEXT OUTPUT ---"
    assert text.endswith("--- END OF OSM TEXT OUTPUT ---")
    body = lines[1:-1]
    assert len(body) == 38757
    assert body[0].startswith("N ") and body[-1].startswith("R ")
    # node line grammar: N <id> <lat %2.6f> <lon %3.6f> <tags>
    first = body[0].split(" ", 4)
    assert first[0] == "N" and "." in first[2] and len(first[2].split(".")[1]) == 6
    # GLOBAL line order must be fully (type rank, id)-sorted — the
    # TextOutput.java contract. This guards the range-partitioned
    # orderBy surviving mapInArrow + name-ordered part concatenation
    # (an optimizer/AQE regression dropping the sort would reorder
    # lines while leaving the per-line grammar intact).
    rank = {"N": 0, "W": 1, "R": 2}
    keys = [(rank[ln[0]], int(ln.split(" ", 2)[1])) for ln in body]
    assert keys == sorted(keys)


def test_convert_rejects_unknown_extension(tmp_path, capsys):
    with pytest.raises(SystemExit):
        convert_main([str(tmp_path / "x.csv"), str(tmp_path / "y.pbf")])
    with pytest.raises(SystemExit):
        convert_main([BANGOR, str(tmp_path / "y.unknown")])
