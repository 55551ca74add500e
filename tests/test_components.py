"""Connected-components kernel (large/small-star) vs union-find.

The kernel must agree with a driver-side union-find oracle on every
graph, converge in O(log^2 n) rounds on a path graph, where label
propagation would need diameter-many rounds (Kiveris et al., SoCC'14),
and refuse rather than return partial labels when capped.
"""

from __future__ import annotations

import random

import pytest

from lakekeeper_spark.functions.components import (
    ComponentsNotConverged,
    connected_components,
)


def union_find(n_vertices: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_vertices))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id per component
    roots: dict[int, int] = {}
    for v in range(n_vertices):
        r = find(v)
        roots[r] = min(roots.get(r, v), v)
    return {v: roots[find(v)] for v in range(n_vertices)}


def _frames(spark, n: int, edges: list[tuple[int, int]]):
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        e = e.limit(0)
    return e, vertices


def _labels_dict(df) -> dict[int, int]:
    return {int(r["doc_id"]): int(r["label"]) for r in df.collect()}


def test_path_graph_converges_in_log_rounds(spark):
    # path 0-1-2-...-40: diameter 40, label propagation would need 40
    # rounds; large/small-star collapses the chain in O(log^2 n) rounds
    n = 41
    edges = [(i, i + 1) for i in range(n - 1)]
    e, v = _frames(spark, n, edges)
    labels, rounds = connected_components(e, v, max_iters=12)
    assert rounds <= 8, f"took {rounds} rounds on a 41-path"
    assert _labels_dict(labels) == union_find(n, edges)
    # capped below the rounds it needs, it must REFUSE (not return
    # partial labels)
    with pytest.raises(ComponentsNotConverged):
        connected_components(e, v, max_iters=1)


@pytest.mark.parametrize("seed", [7, 99])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    n = 60
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
    ]  # sparse: isolated vertices + multi-node components + self-loops
    expected = union_find(n, edges)
    e, v = _frames(spark, n, edges)
    labels, _ = connected_components(e, v, max_iters=30)
    assert _labels_dict(labels) == expected, f"diverged from union-find (seed {seed})"


def test_isolated_vertices_label_themselves(spark):
    e, v = _frames(spark, 5, [])
    labels, _ = connected_components(e, v)
    assert _labels_dict(labels) == {i: i for i in range(5)}
