"""Format converter CLI — the reference's Converter.java:18-38 surface.

    python jobs/convert.py input.[pbf|vex] output.[pbf|vex|txt]

Pumps entities from the input file to the output file with no
intermediate store; formats are detected from file extensions
(OSMEntitySource.forStream:38-46 semantics). The ``.txt`` sink writes
the reference's human-readable TextOutput format byte-for-byte
(TextOutput.java:36-83: BEGIN/END sentinels, ``N id lat lon tags`` with
6-decimal coordinates, ``W``/``R`` lines with rendered tags) —
entities render distributed, the driver streams ordered lines.

``--set-tags speeds.csv`` additionally applies the SpeedSetter.java
flow on the way through: a (way_id, value) CSV upserts
``--tag-key`` (default maxspeed:motorcar) formatted with
``--tag-format`` (default '%.1f kph') onto matching ways — the CSV is
a broadcast dimension, the update is add_or_replace_tag per row.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fmt(path: str) -> str:
    for ext in ("pbf", "vex", "txt"):
        if path.endswith("." + ext):
            return ext
    print(f"error: unsupported file extension: {path}", file=sys.stderr)
    raise SystemExit(2)


def _read(spark, path: str):
    fmt = _fmt(path)
    if fmt == "pbf":
        from osm_lib_spark.sources.pbf import read_pbf

        return read_pbf(spark, path)
    if fmt == "vex":
        from osm_lib_spark.sources.vex import read_vex

        return read_vex(spark, path)
    print("error: txt is an output-only format", file=sys.stderr)
    raise SystemExit(2)


def _apply_speeds(spark, ents, csv_path: str, tag_key: str, tag_format: str):
    """SpeedSetter.java:17-37 as a broadcast-join tag upsert."""
    from pyspark.sql import functions as F

    from osm_lib_spark.functions.tags import add_or_replace_tag

    speeds = (
        spark.read.option("header", True)
        .csv(csv_path)
        .select(
            F.col(_speed_cols(csv_path)[0]).cast("long").alias("_way_id"),
            F.col(_speed_cols(csv_path)[1]).cast("double").alias("_speed"),
        )
    )
    joined = ents.join(
        F.broadcast(speeds),
        (F.col("entity_type") == "way") & (F.col("id") == F.col("_way_id")),
        "left",
    )
    new_tags = F.when(
        F.col("_speed").isNotNull(),
        add_or_replace_tag(
            F.col("tags"), tag_key, F.format_string(tag_format, F.col("_speed"))
        ),
    ).otherwise(F.col("tags"))
    return joined.withColumn("tags", new_tags).drop("_way_id", "_speed")


def _speed_cols(csv_path: str) -> tuple[str, str]:
    with open(csv_path) as f:
        header = f.readline().strip().split(",")
    return header[0], header[1]


def _write_txt(path: str, ents) -> None:
    """TextOutput.java format: distributed line render, composed write."""
    from pyspark.sql import functions as F

    from osm_lib_spark.functions.tags import render_tags

    lat = (F.col("fixed_lat") / 1e7).cast("double")
    lon = (F.col("fixed_lon") / 1e7).cast("double")
    tags = render_tags(F.col("tags"))
    line = (
        F.when(
            F.col("entity_type") == "node",
            F.concat(
                F.lit("N "),
                F.col("id").cast("string"),
                F.lit(" "),
                F.format_string("%2.6f", lat),
                F.lit(" "),
                F.format_string("%3.6f", lon),
                F.lit(" "),
                tags,
            ),
        )
        .when(
            F.col("entity_type") == "way",
            F.concat(F.lit("W "), F.col("id").cast("string"), F.lit(" "), tags),
        )
        .otherwise(
            F.concat(F.lit("R "), F.col("id").cast("string"), F.lit(" "), tags)
        )
    )
    rank = (
        F.when(F.col("entity_type") == "node", 0)
        .when(F.col("entity_type") == "way", 1)
        .otherwise(2)
    )
    # parallel part-file compose (pbf.compose_blob_frame): orderBy range-partitions the lines in
    # global (rank, id) order, every partition writes its own part,
    # the driver concatenates — the old toLocalIterator wrote the whole
    # file serially on the driver (one job per partition, serial IO)
    import pandas as pd

    from osm_lib_spark.sources.pbf import compose_blob_frame

    ordered = ents.select(rank.alias("r"), "id", line.alias("line")).orderBy("r", "id")

    def to_blobs(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(
                    {"blob": [("\n".join(pdf["line"]) + "\n").encode("utf-8")]}
                )

    blobs = ordered.mapInPandas(to_blobs, "blob binary")
    compose_blob_frame(blobs, path, header=b"--- BEGINNING OF OSM TEXT OUTPUT ---\n")
    with open(path, "ab") as f:
        f.write(b"--- END OF OSM TEXT OUTPUT ---")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--set-tags", help="way_id,value CSV to upsert onto ways")
    p.add_argument("--tag-key", default="maxspeed:motorcar")
    p.add_argument("--tag-format", default="%.1f kph")
    p.add_argument("--master", default="local[8]")
    args = p.parse_args(argv)
    out_fmt = _fmt(args.output)

    from osm_lib_spark.session import get_spark

    spark = get_spark("convert", master=args.master)
    t0 = time.time()
    ents = _read(spark, args.input)
    if args.set_tags:
        ents = _apply_speeds(spark, ents, args.set_tags, args.tag_key, args.tag_format)

    ents = ents.cache()
    if out_fmt == "txt":
        _write_txt(args.output, ents)
    else:
        from osm_lib_spark.sources.pbf import pbf_nodes, pbf_relations, pbf_ways

        if out_fmt == "pbf":
            from osm_lib_spark.sources.pbf import write_pbf as write_file
        else:
            from osm_lib_spark.sources.vex import write_vex as write_file
        write_file(args.output, pbf_nodes(ents), pbf_ways(ents), pbf_relations(ents))
    n = ents.count()
    ents.unpersist()
    print(
        json.dumps(
            {
                "input": args.input,
                "output": args.output,
                "entities": n,
                "elapsed_sec": round(time.time() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
