"""kNN job — batched k-nearest-node queries over the docs table.

Usage:
    spark-submit --py-files . jobs/knn.py \
        --docs fixtures/sf-xs/docs.parquet \
        --points "44.80,-68.78;44.83,-68.74" \
        --k 10 --out /tmp/knn_out

Parses nodes from the interleaved docs table and answers every query
point EXACTLY via the batched k-ring expansion (BASELINE.json
north-star operator; equals brute force, oracle-gated as
`osm_knn_kring`). Results land as parquet (query_id, rank, node_id)
plus a one-line JSON summary on stdout. `--points` may also name a
CSV file with a `lat,lon` header — the serving-batch shape.

Engine strategy is automatic: small batches start near their
density-derived terminal ring radius, and every round ranks each
query's ring with one numpy kernel, per partition of the node store
(operators/knn.py docstrings).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_lib_spark.operators.knn import knn_brute_force, knn_kring  # noqa: E402
from osm_lib_spark.session import get_spark  # noqa: E402
from osm_lib_spark.sources.span_codec import parse_nodes  # noqa: E402


def parse_points(s: str) -> list[tuple[int, float, float]]:
    """'lat,lon;lat,lon;...' or a CSV path with a lat,lon header →
    [(query_id, lat, lon)]. Validation mirrors the extract job's bbox
    rules (VanillaExtract.java:110-127 range semantics)."""
    if os.path.exists(s):
        with open(s) as f:
            header = f.readline().strip().lower().split(",")
            try:
                li, lo = header.index("lat"), header.index("lon")
            except ValueError:
                raise ValueError(f"CSV {s!r} needs a lat,lon header, got {header}")
            pairs = []
            for rowno, line in enumerate(f, start=2):
                if line.strip():
                    cells = line.strip().split(",")
                    if len(cells) <= max(li, lo):
                        raise ValueError(
                            f"CSV {s!r} row {rowno}: expected at least "
                            f"{max(li, lo) + 1} columns, got {len(cells)}"
                        )
                    pairs.append((cells[li], cells[lo]))
    else:
        pairs = [tuple(p.split(",")) for p in s.split(";") if p.strip()]
    out = []
    for i, pair in enumerate(pairs):
        if len(pair) != 2:
            raise ValueError(f"point {i} must be lat,lon — got {pair!r}")
        lat, lon = float(pair[0]), float(pair[1])
        if not -90 <= lat <= 90:
            raise ValueError(f"latitude out of range in point {i}: {lat}")
        if not -180 <= lon <= 180:
            raise ValueError(f"longitude out of range in point {i}: {lon}")
        out.append((i, lat, lon))
    if not out:
        raise ValueError("no query points given")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="path to docs parquet")
    ap.add_argument(
        "--points",
        required=True,
        help="'lat,lon;lat,lon;...' or a CSV file with a lat,lon header",
    )
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--store",
        default=None,
        help="path to a persisted tiled node store (parquet). If it "
        "exists it is LOADED and the docs parse + tiling scan are "
        "skipped entirely (steady-state serving); if absent it is "
        "built once from --docs and saved there for the next run.",
    )
    ap.add_argument(
        "--brute",
        action="store_true",
        help="use the O(Q*N) brute-force scorer instead of k-ring "
        "(correctness baseline; same results)",
    )
    args = ap.parse_args(argv)
    try:
        pts = parse_points(args.points)
    except ValueError as ex:
        print(f"error: {ex}", file=sys.stderr)
        return 2

    spark = get_spark("knn_job", master=args.master)
    t0 = time.time()
    nodes = None
    store_state = None
    if args.store and os.path.exists(os.path.join(args.store, "_SUCCESS")):
        # steady-state serving: the persisted tile-keyed store replaces
        # the docs parse AND the tiling scan (Hilbert-partitioned at
        # cluster scale; see operators/indexes)
        tiled = spark.read.parquet(args.store)
        n_nodes = tiled.count()
        store_state = "loaded"
    else:
        nodes = parse_nodes(spark.read.parquet(args.docs)).cache()
        n_nodes = nodes.count()
        if args.store:
            from osm_lib_spark.operators.knn import tiled_node_store

            tiled_node_store(nodes).write.mode("overwrite").parquet(args.store)
            tiled = spark.read.parquet(args.store)
            store_state = "built"
        else:
            tiled = None
    if args.brute:
        if nodes is None:
            nodes = parse_nodes(spark.read.parquet(args.docs)).cache()
        res = knn_brute_force(nodes, pts, k=args.k)
    else:
        res = knn_kring(nodes, pts, k=args.k, tiled=tiled, est_n_nodes=n_nodes)
    res.write.mode("overwrite").parquet(args.out)
    n_rows = spark.read.parquet(args.out).count()
    if nodes is not None:
        nodes.unpersist()
    print(
        json.dumps(
            {
                "queries": len(pts),
                "k": args.k,
                "rows": n_rows,
                "n_nodes": n_nodes,
                "out": args.out,
                "strategy": "brute" if args.brute else "kring",
                "store": store_state,
                "elapsed_sec": round(time.time() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
