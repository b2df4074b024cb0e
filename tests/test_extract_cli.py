"""Extract CLI (the reference's `GET /bbox.pbf` surface): bbox
validation and the PBF/VEX output formats decode to the golden
extract."""

import json
import os

import pytest

from jobs.extract import main as extract_main, parse_bbox


def test_parse_bbox_validation():
    assert parse_bbox("1,2,3,4") == (1.0, 2.0, 3.0, 4.0)
    for bad in ("bogus", "1,2,3", "10,-5,9,5", "95,0,96,1", "0,179,1,181"):
        with pytest.raises(ValueError):
            parse_bbox(bad)


def test_cli_pbf_format_matches_golden(spark, fixture_xs, tmp_path, capsys):
    """--format pbf writes a real .pbf whose decoded (entity_type, id)
    set equals the golden parquet extract."""
    import duckdb

    from osm_lib_spark.sources.pbf import read_pbf

    with open(os.path.join(fixture_xs, "meta.json")) as f:
        meta = json.load(f)
    bbox = ",".join(str(round(x, 6)) for x in meta["bboxes"]["dense"])
    out = str(tmp_path / "cli_pbf")
    rc = extract_main(
        [
            "--docs", os.path.join(fixture_xs, "docs.parquet"),
            "--bbox", bbox,
            "--out", out,
            "--format", "pbf",
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    path = summary["counts"]["file"]
    ents = read_pbf(spark, path)
    got = {(r.entity_type, r.id) for r in ents.select("entity_type", "id").collect()}
    exp = {
        (r[0], r[1])
        for r in duckdb.sql(
            f"SELECT entity_type, id FROM read_parquet('{fixture_xs}/golden/extract_dense.parquet')"
        ).fetchall()
    }
    assert got == exp


def test_knn_cli_matches_brute(spark, tmp_path, capsys):
    """jobs/knn.py: k-ring and brute CLI runs agree row-for-row; bad
    points exit 2 with a clean error."""
    import duckdb

    from jobs.knn import main as knn_main, parse_points

    docs = "fixtures/sf-xs/docs.parquet"
    pts = "44.80,-68.78;10.0,10.0"
    out_ring = str(tmp_path / "ring")
    out_brute = str(tmp_path / "brute")
    assert knn_main(["--docs", docs, "--points", pts, "--out", out_ring, "--k", "5"]) == 0
    assert knn_main(["--docs", docs, "--points", pts, "--out", out_brute, "--k", "5", "--brute"]) == 0
    con = duckdb.connect()
    diff = con.sql(
        f"(SELECT * FROM read_parquet('{out_ring}/*.parquet') EXCEPT SELECT * FROM read_parquet('{out_brute}/*.parquet'))"
        f" UNION ALL "
        f"(SELECT * FROM read_parquet('{out_brute}/*.parquet') EXCEPT SELECT * FROM read_parquet('{out_ring}/*.parquet'))"
    ).df()
    assert len(diff) == 0
    assert con.sql(f"SELECT count(*) FROM read_parquet('{out_ring}/*.parquet')").fetchone()[0] == 10

    # CSV input form
    csv = tmp_path / "pts.csv"
    csv.write_text("lat,lon\n44.80,-68.78\n")
    assert len(parse_points(str(csv))) == 1

    # validation probes
    import pytest as _pytest

    for bad in ("91.0,0.0", "0.0", "0.0,181.0", ""):
        with _pytest.raises(ValueError):
            parse_points(bad)

    # a truncated CSV row must raise ValueError (clean exit-2 path),
    # not IndexError
    short = tmp_path / "short.csv"
    short.write_text("lat,lon\n44.80,-68.78\n 44.8\n")
    with _pytest.raises(ValueError, match="row 3"):
        parse_points(str(short))


def test_knn_cli_store_roundtrip(spark, tmp_path, capsys):
    """--store: first run builds the tiled store, second run LOADS it
    (no docs parse / tiling scan) and returns identical rows."""
    import json as _json

    import duckdb

    from jobs.knn import main as knn_main

    docs = "fixtures/sf-xs/docs.parquet"
    pts = "44.80,-68.78;10.0,10.0"
    store = str(tmp_path / "store")
    out1, out2 = str(tmp_path / "o1"), str(tmp_path / "o2")
    assert knn_main(["--docs", docs, "--points", pts, "--out", out1, "--k", "5", "--store", store]) == 0
    first = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["store"] == "built"
    assert knn_main(["--docs", docs, "--points", pts, "--out", out2, "--k", "5", "--store", store]) == 0
    second = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["store"] == "loaded"
    con = duckdb.connect()
    diff = con.sql(
        f"(SELECT * FROM read_parquet('{out1}/*.parquet') EXCEPT SELECT * FROM read_parquet('{out2}/*.parquet'))"
        f" UNION ALL "
        f"(SELECT * FROM read_parquet('{out2}/*.parquet') EXCEPT SELECT * FROM read_parquet('{out1}/*.parquet'))"
    ).df()
    assert len(diff) == 0


def test_media_cli_pipeline(spark, tmp_path, capsys):
    """jobs/media.py: all four stages land as parquet with consistent
    cardinalities, the features stage matches an independent decode,
    and bad arguments exit 2 cleanly."""
    import json as _json

    import numpy as np

    from jobs.media import main as media_main
    from osm_lib_spark.operators.multimodal import decode_payload, synth_payload

    docs = "fixtures/sf-xs/docs.parquet"
    out = str(tmp_path / "media")
    rc = media_main(["--docs", docs, "--out", out])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rows = summary["rows"]
    # the three 1:1 stages agree; the fan-out stage is strictly larger
    assert rows["catalog"] == rows["features"] == rows["resize"] > 0
    assert rows["frames"] > rows["catalog"]

    feats = spark.read.parquet(os.path.join(out, "features"))
    frow = feats.first()
    kind, decoded = decode_payload(synth_payload(frow.media_ref))
    if kind == "img":
        exp_f2 = int(decoded[:, :, 0].astype(np.int64).sum())
    elif kind == "vid":
        exp_f2 = int(np.stack(decoded)[:, :, :, 0].astype(np.int64).sum())
    else:
        exp_f2 = int(decoded[0].astype(np.int64).sum())
    assert frow.f2 == exp_f2

    # kind-restricted frames: only vid refs, real per-frame sampling
    out_vid = str(tmp_path / "media_vid")
    rc = media_main(
        ["--docs", docs, "--out", out_vid, "--stages", "frames", "--kind", "vid"]
    )
    assert rc == 0
    vid_frames = spark.read.parquet(os.path.join(out_vid, "frames"))
    refs = [r.media_ref for r in vid_frames.select("media_ref").distinct().collect()]
    assert refs and all("://vid/" in r for r in refs)

    assert media_main(["--docs", docs, "--out", out, "--stages", "bogus"]) == 2
    assert media_main(["--docs", docs, "--out", out, "--every-n", "0"]) == 2


def test_convert_cli_txt_and_vex_sinks(spark, docs_xs, tmp_path):
    """jobs/convert.py from a .pbf of the sf-xs entities: the .txt sink
    writes the TextOutput sentinels and one line per source entity in
    (type rank, id) order, and the .vex sink holds each type's source
    count."""
    from jobs.convert import main as convert_main
    from osm_lib_spark.sources.pbf import write_pbf
    from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways
    from osm_lib_spark.sources.vex import read_vex

    tables = {"node": parse_nodes(docs_xs), "way": parse_ways(docs_xs), "relation": parse_relations(docs_xs)}
    src = str(tmp_path / "xs.pbf")
    write_pbf(src, *tables.values())
    ids = {kind: [r.id for r in t.select("id").collect()] for kind, t in tables.items()}

    out_txt = str(tmp_path / "xs.txt")
    assert convert_main([src, out_txt]) == 0
    with open(out_txt) as f:
        lines = f.read().split("\n")
    assert lines[0] == "--- BEGINNING OF OSM TEXT OUTPUT ---"
    assert lines[-1] == "--- END OF OSM TEXT OUTPUT ---"
    rank = {"N": 0, "W": 1, "R": 2}
    keys = [(rank[ln[0]], int(ln.split(" ", 2)[1])) for ln in lines[1:-1]]
    assert keys == sorted((rank[kind[0].upper()], i) for kind, kind_ids in ids.items() for i in kind_ids)

    out_vex = str(tmp_path / "xs.vex")
    assert convert_main([src, out_vex]) == 0
    counts = read_vex(spark, out_vex).groupBy("entity_type").count().collect()
    assert {r.entity_type: r["count"] for r in counts} == {kind: len(v) for kind, v in ids.items()}


def test_ingest_cli_end_to_end(spark, tmp_path, capsys):
    """jobs/ingest.py: bootstrap the corpus index, ingest a batch with
    one corpus dup, one internal dup pair, and one novel doc — the
    novel canonical survives, --append makes a later identical ingest
    collide, and the validation probes exit cleanly."""
    from jobs.ingest import main as ingest_main

    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    ).write.parquet(corpus)
    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog"),  # corpus dup
            (102, "totally novel text that matches nothing at all"),
            (103, "totally novel text that matches nothing at all"),  # dup of 102
        ],
        "doc_id long, text string",
    ).write.parquet(batch)

    idx, out = str(tmp_path / "mh_idx"), str(tmp_path / "ingest1")
    rc = ingest_main(
        ["--batch", batch, "--index", idx, "--corpus", corpus,
         "--build-index", "--append", "--out", out]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["batch_docs"] == 3
    assert summary["corpus_matched"] == 1     # 101
    assert summary["internal_dropped"] == 1   # 103 (102 is canonical)
    assert summary["survivors"] == 1
    surv = spark.read.parquet(os.path.join(out, "survivors"))
    assert [r.doc_id for r in surv.collect()] == [102]

    # appended survivor: an identical later batch now matches the index
    batch2 = str(tmp_path / "batch2.parquet")
    spark.createDataFrame(
        [(201, "totally novel text that matches nothing at all")],
        "doc_id long, text string",
    ).write.parquet(batch2)
    out2 = str(tmp_path / "ingest2")
    assert ingest_main(["--batch", batch2, "--index", idx, "--out", out2]) == 0
    summary2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary2["corpus_matched"] == 1 and summary2["survivors"] == 0
    cross2 = spark.read.parquet(os.path.join(out2, "cross_pairs"))
    assert {(r.doc_a, r.doc_b) for r in cross2.collect()} == {(201, 102)}

    # probes: clean errors, exit 2
    assert ingest_main(["--batch", batch, "--index", str(tmp_path / "nope"),
                        "--out", out]) == 2
    assert ingest_main(["--batch", batch, "--index", idx, "--build-index",
                        "--out", out]) == 2
    assert ingest_main(["--batch", batch, "--index", idx, "--out", out,
                        "--threshold", "1.5"]) == 2
