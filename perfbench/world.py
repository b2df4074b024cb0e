"""Fixed inputs of the benchmark and the seeded requests drawn over them.

The worlds never change: the OSM-shaped worlds come from the engine's own
generator (generator SEED 42) and the training-data corpus from a fixed
numpy seed below. ``--seed`` only chooses which requests are sent.

Worlds (outside every timed figure, setup_s included):

- ``sf-s``: the committed ``fixtures/sf-s`` docs (100k nodes); its
  generator's cluster centres are cached in ``perfbench/.cache``.
- ``corpus``: documents with planted near-duplicates, and clustered
  embeddings, in the schemas of ``operators.dedup`` / ``operators.similarity``,
  built once per checkout into ``perfbench/.cache``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

CORPUS_SEED = 20240611
# the sizes of the documents and embeddings tables of testdata sf0.01
CORPUS_DOCS = 500
CORPUS_VECS = 500
CORPUS_DIM = 64


def _publish(tmp: str, final: str) -> None:
    """Move a finished build into place, so a half-built one is never read."""
    if os.path.exists(final):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    os.replace(tmp, final)


def run_dir() -> str:
    """Scratch directory of this run (Spark scratch, event log, codec
    output); removed when the run ends."""
    return os.path.join(CACHE, f"run-{os.getpid()}")


def world_dir(scale: str) -> str:
    """Directory holding docs.parquet + meta.json of a committed world."""
    return os.path.join(ROOT, "fixtures", f"sf-{scale}")


def ensure_world(scale: str) -> dict:
    """Return a world's meta plus the generator's cluster centres (where
    seeded requests are placed), computed once per checkout."""
    from osm_lib_spark.sources.generator import generate_world

    os.makedirs(CACHE, exist_ok=True)
    centers_path = os.path.join(CACHE, f"centers-{scale}.json")
    if not os.path.exists(centers_path):
        centers = [[float(a), float(b)] for a, b in generate_world(scale).centers]
        tmp = f"{centers_path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(centers, f)
        os.replace(tmp, centers_path)
    with open(os.path.join(world_dir(scale), "meta.json")) as f:
        meta = json.load(f)
    with open(centers_path) as f:
        meta["centers"] = json.load(f)
    return meta


def ensure_corpus() -> str:
    """Write the fixed corpus (documents + embeddings parquet) once."""
    import pandas as pd

    final = os.path.join(CACHE, "corpus")
    if os.path.exists(os.path.join(final, "embeddings.parquet")):
        return final
    rng = np.random.default_rng(CORPUS_SEED)
    vocab = np.array([f"w{i:03d}" for i in range(600)])
    n_base = CORPUS_DOCS * 4 // 5
    texts = [" ".join(rng.choice(vocab, size=int(rng.integers(30, 90)))) for _ in range(n_base)]
    for _ in range(CORPUS_DOCS - n_base):
        # near-duplicate: a base doc with ~4% of its words replaced
        words = texts[int(rng.integers(0, n_base))].split()
        for j in np.nonzero(rng.random(len(words)) < 0.04)[0]:
            words[j] = str(rng.choice(vocab))
        texts.append(" ".join(words))
    order = rng.permutation(len(texts))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": [texts[i] for i in order],
            "lang": "en",
            "source": [f"src{i % 20}" for i in range(len(texts))],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)

    centers = rng.normal(0.0, 1.0, size=(40, CORPUS_DIM))
    label = rng.integers(0, len(centers), size=CORPUS_VECS)
    vecs = centers[label] + rng.normal(0.0, 0.35, size=(CORPUS_VECS, CORPUS_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(CORPUS_VECS, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    docs.to_parquet(os.path.join(tmp, "documents.parquet"), index=False)
    emb.to_parquet(os.path.join(tmp, "embeddings.parquet"), index=False)
    _publish(tmp, final)
    return final


def exact_cosine_topk(corpus_dir: str, queries, k: int) -> set[tuple[int, int]]:
    """{(query_id, neighbor_id)} of the exact cosine top-``k`` of each
    seeded query vector, self excluded, ties broken by id, in the vec_ids
    the benchmark gives the embeddings (query ``q`` gets id ``q``, every
    other vector ``vec_id + len(queries)``)."""
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(corpus_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
    vec_id = emb.column("vec_id").to_numpy()
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = vec_id + len(queries)
    for q, v in enumerate(queries):
        ids[vec_id == v] = q
    out = set()
    for q in range(len(queries)):
        row = int(np.nonzero(ids == q)[0][0])
        cos = vecs @ vecs[row]
        order = [i for i in np.lexsort((ids, -cos)) if i != row][:k]
        out.update((q, int(ids[i])) for i in order)
    return out


# ---------------------------------------------------------------------------
# seeded requests
# ---------------------------------------------------------------------------

Box = tuple[float, float, float, float]


def _box(lat: float, lon: float, half: float) -> Box:
    return (
        max(lat - half, -84.0),
        max(lon - half, -179.0),
        min(lat + half, 84.0),
        min(lon + half, 179.0),
    )


def _near_center(
    rng: np.random.Generator, centers: list, spread: float, first: int = 0
) -> tuple[float, float]:
    lat, lon = centers[int(rng.integers(first, len(centers)))]
    return lat + float(rng.normal(0, spread)), lon + float(rng.normal(0, spread))


def extract_batch(meta: dict, seed: int) -> list[Box]:
    """12 boxes: dense skew box, wide box, world box, then 9 boxes of
    fixed half-widths 0.05°..0.45° centred near seeded clusters (not the
    dense cluster 0, which holds 30% of the nodes and would make the
    batch's volume depend on the seed)."""
    rng = np.random.default_rng([seed, 1])
    b = meta["bboxes"]
    boxes = [tuple(b["dense"]), tuple(b["wide"]), tuple(b["world"])]
    for i in range(9):
        boxes.append(_box(*_near_center(rng, meta["centers"], 0.05, first=1), 0.05 * (i + 1)))
    return boxes


def _ring(shape: int, lat: float, lon: float, s: float) -> np.ndarray:
    if shape == 0:  # box
        pts = [(lat - s, lon - s), (lat - s, lon + s), (lat + s, lon + s), (lat + s, lon - s)]
    elif shape == 1:  # diamond
        pts = [(lat - s, lon), (lat, lon + s), (lat + s, lon), (lat, lon - s)]
    else:  # hexagon
        t = np.arange(6) * np.pi / 3.0
        pts = list(zip(lat + s * np.sin(t), lon + s * np.cos(t)))
    return np.asarray(pts, dtype=np.float64)


def probe_requests(meta: dict, seed: int, n: int) -> dict:
    """``n`` requests of each interactive kind (small bbox, 5-point kNN,
    10-polygon PIP), each placed near seeded cluster centres."""
    rng = np.random.default_rng([seed, 2])
    centers = meta["centers"]
    boxes = [_box(*_near_center(rng, centers, 0.05), 0.04) for _ in range(n)]
    knn = [[(q, *_near_center(rng, centers, 0.1)) for q in range(1, 6)] for _ in range(n)]
    polys = []
    for _ in range(n):
        group = {}
        for pid in range(1, 11):
            lat, lon = _near_center(rng, centers, 0.08)
            group[pid] = [_ring(pid % 3, lat, lon, float(rng.uniform(0.01, 0.04)))]
        polys.append(group)
    return {"bbox": boxes, "knn": knn, "pip": polys}


def corpus_subsets(seed: int, n_sf_docs: int, n_queries: int) -> dict:
    """The media docs (1 in 40 sf-s docs, by row index) are fixed, so the
    media ops have fixed output digests; ``seed`` draws the IVF-PQ query
    vectors (by vec_id)."""
    return {
        "media_docs": np.sort(
            np.random.default_rng([CORPUS_SEED, 3]).choice(n_sf_docs, size=n_sf_docs // 40, replace=False)
        ),
        "queries": np.random.default_rng([seed, 3]).choice(CORPUS_VECS, size=n_queries, replace=False),
    }
