"""Driver-side graph fixpoints over int64 edge arrays (numpy only).

The relation closure (``extract.relation_closure_table``) and dedup's
connected components (``dedup.components_from_pairs``) are fixpoint
loops. When their edge set fits under
``spark.sql.autoBroadcastJoinThreshold`` (``session.collect_bounded``)
it is collected once and the fixpoint runs here, on the driver, the
way osm-lib builds its relation indexes in memory (OSM.java:156-158);
the Spark loops stay as the path for larger inputs.

``lookup`` is the equi-join over a sorted int64 index that
``upward_closure`` and the driver-side bbox extract
(``extract._driver_batch``) run.

Both kernels first map ids to dense indices with ``np.unique`` (sorted,
so index order is id order), which lets a pair be one int64 key
``i * n + j`` for any id range below ~3·10⁹ distinct vertices.
"""

from __future__ import annotations

import numpy as np


def _dense(*cols: np.ndarray) -> tuple[np.ndarray, list[np.ndarray]]:
    """(sorted distinct ids, each column as indices into them)."""
    ids, inv = np.unique(np.concatenate(cols).astype(np.int64), return_inverse=True)
    bounds = np.cumsum([0] + [len(c) for c in cols])
    return ids, [inv[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]


def lookup(keys: np.ndarray, index_keys: np.ndarray, index_vals: np.ndarray):
    """The equi-join of ``keys`` with the index (``index_keys`` sorted,
    ``index_vals``): (the position in ``keys``, the value) of every
    match, in ``keys`` order."""
    lo = np.searchsorted(index_keys, keys, "left")
    cnt = np.searchsorted(index_keys, keys, "right") - lo
    # the index rows of each key, flattened
    starts = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
    return np.repeat(np.arange(len(keys)), cnt), index_vals[starts + np.arange(cnt.sum())]


def upward_closure(child: np.ndarray, parent: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Transitive closure of the edges child → parent, as (child,
    ancestor) arrays: every pair joined by a path of one or more edges,
    each pair once, sorted. A vertex on a cycle, or one that is its own
    parent, is its own ancestor.

    Semi-naive: each round extends only the pairs found in the last
    round by one edge, and keeps the ones not seen before; it stops when
    a round finds none (at most n² pairs, so it always terminates).
    """
    ids, (c, p) = _dense(child, parent)
    n = len(ids)
    edges = np.unique(c * n + p)  # sorted by child, then parent
    e_child, e_parent = np.divmod(edges, n)
    closure = frontier = edges
    while frontier.size:
        f_child, f_anc = np.divmod(frontier, n)
        # the edges out of each frontier ancestor
        rows, hop = lookup(f_anc, e_child, e_parent)
        step = np.unique(f_child[rows] * n + hop)
        frontier = np.setdiff1d(step, closure, assume_unique=True)
        closure = np.union1d(closure, frontier)
    return ids[closure // n], ids[closure % n]


def min_label_components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Connected components of the undirected edges (a, b), as (vertex,
    label) arrays over the vertices that appear in an edge, sorted by
    vertex. The label of a vertex is the min id in its component.

    Min-label hooking plus pointer jumping: each round hooks the larger
    root of every edge whose endpoints have different roots under the
    smaller one, then jumps pointers until every vertex points at its
    root. A parent index never exceeds its child's, so each root is the
    min of its tree, and the loop ends when no edge spans two trees.
    """
    ids, (u, v) = _dense(a, b)
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        if np.array_equal(pu, pv):
            return ids, ids[parent]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
