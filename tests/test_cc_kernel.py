"""The connected-components kernel behind ``dedup.dup_clusters``: the
numpy union-find ``dedup.component_roots`` and the two-level scheme
built on it (per-partition forests, then one pass over their union),
checked without Spark against the plain Python union-find of
``tests/test_corpus_filters.py`` on graphs generated here."""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from cybersecurity_miw_spark.operators import dedup
from tests.test_corpus_filters import _uf_components


def roots(edges) -> dict[int, int]:
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    nodes, rts = dedup.component_roots(a, b)
    assert nodes.dtype == rts.dtype == np.int64
    assert list(nodes) == sorted(set(nodes.tolist()))
    return dict(zip(nodes.tolist(), rts.tolist()))


def _path(n: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    ids = rng.sample(range(10 * n), n)
    edges = [(ids[i], ids[i + 1]) for i in range(n - 1)]
    rng.shuffle(edges)
    return edges


def _star(center: int, leaves) -> list[tuple[int, int]]:
    return [(leaf, center) for leaf in leaves]


def _cliques(sizes, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    ids = rng.sample(range(1_000_000), sum(sizes))
    edges, start = [], 0
    for k in sizes:
        members = ids[start:start + k]
        start += k
        edges += [
            (members[i], members[j])
            for i in range(k) for j in range(i + 1, k)
        ]
    rng.shuffle(edges)
    return edges


def _random_graph(n: int, m: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    ]


GRAPHS = {
    "path_1000_shuffled": _path(1000, 1),
    "path_1500_shuffled": _path(1500, 2),
    "star_min_center": _star(3, range(10, 400, 7)),
    "star_max_center": _star(10_000, range(10, 400, 7)),
    "disjoint_cliques": _cliques([1 + i % 9 for i in range(40)], 3),
    "duplicate_and_reversed": (
        [(1, 2), (2, 1), (1, 2), (5, 4), (4, 5), (3, 2)] * 3
    ),
    "self_loops": [(7, 7), (8, 8), (8, 9), (11, 11), (11, 11), (9, 8)],
    "random_sparse": _random_graph(300, 200, 4),
    "random_dense": _random_graph(60, 400, 5),
    "negative_and_large_ids": [
        (-5, 2**62), (2**62, 0), (-(2**62), 3), (3, 4),
    ],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_component_roots_matches_union_find(name):
    edges = GRAPHS[name]
    assert roots(edges) == _uf_components(edges)


def test_component_roots_empty_input():
    nodes, rts = dedup.component_roots(
        np.empty(0, np.int64), np.empty(0, np.int64)
    )
    assert len(nodes) == len(rts) == 0


def _batches(edges, size: int) -> list[pa.RecordBatch]:
    return [
        pa.RecordBatch.from_arrays(
            [
                pa.array([e[0] for e in edges[i:i + size]], pa.int64()),
                pa.array([e[1] for e in edges[i:i + size]], pa.int64()),
            ],
            names=["a", "b"],
        )
        for i in range(0, len(edges), size)
    ]


def _rows(batches) -> list[tuple[int, int]]:
    return [
        row
        for batch in batches
        for row in zip(
            batch.column(0).to_pylist(), batch.column(1).to_pylist()
        )
    ]


@pytest.mark.parametrize("name", sorted(GRAPHS))
@pytest.mark.parametrize("parts", [1, 3, 7])
def test_two_level_passes_match_union_find(name, parts):
    """Each partition (several Arrow batches, or none) reduces to a
    forest of at most nodes-1 rows per component; the one reduce pass
    over the union of the forests labels every node exactly."""
    edges = GRAPHS[name]
    forests = []
    for p in range(parts):
        part = edges[p::parts]
        forest = _rows(dedup._cc_pass(iter(_batches(part, 5)), forest=True))
        local = _uf_components(part)
        sizes = Counter(local.values())
        lone = {x for x, r in local.items() if sizes[r] == 1}
        assert len(forest) == len(local) - len(sizes) + len(lone)
        assert all(
            node != root or node in lone for node, root in forest
        )
        forests += forest
    got = dict(_rows(
        dedup._cc_pass(iter(_batches(forests, 11)), forest=False)
    ))
    assert got == _uf_components(edges)
