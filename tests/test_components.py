"""core.components (union-find closure) against a BFS reference, and
dedup.cluster_pairs against core.components."""

from __future__ import annotations

import random
from collections import defaultdict, deque

from documentai_spark.core.components import components

LONG_MIN, LONG_MAX = -2 ** 63, 2 ** 63 - 1


def _bfs_reps(pairs):
    """Reference: label each node with its component's minimum by
    breadth-first search over the undirected adjacency."""
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    reps = {}
    for start in adj:
        if start in reps:
            continue
        seen, todo = {start}, deque([start])
        while todo:
            for nxt in adj[todo.popleft()] - seen:
                seen.add(nxt)
                todo.append(nxt)
        rep = min(seen)
        reps.update(dict.fromkeys(seen, rep))
    return reps


def _random_pairs(rng, n_nodes, n_edges):
    """Ids mix small, negative and near-±2^63 values; the edge list
    carries duplicates, reversed copies and self-loops."""
    ids = rng.sample(range(-50, 50), min(n_nodes, 60))
    ids += [LONG_MIN, LONG_MIN + 1, LONG_MAX, LONG_MAX - 1,
            -2 ** 40, 2 ** 53 + 1]
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]
    pairs += [(b, a) for a, b in rng.sample(pairs, len(pairs) // 4)]
    pairs += rng.sample(pairs, len(pairs) // 4)
    pairs += [(x, x) for x in rng.sample(ids, 3)]
    rng.shuffle(pairs)
    return pairs


def test_components_matches_bfs_on_random_graphs():
    for seed in range(40):
        rng = random.Random(seed)
        pairs = _random_pairs(rng, rng.randint(2, 60), rng.randint(1, 80))
        assert components(iter(pairs)) == _bfs_reps(pairs), seed


def test_components_edge_cases():
    assert components([]) == {}
    assert components([(7, 7)]) == {7: 7}
    # a chain fed from its far end: the minimum reaches every node
    chain = [(i, i - 1) for i in range(500, 0, -1)]
    assert set(components(chain).values()) == {0}
    assert components([(LONG_MAX, LONG_MIN), (0, LONG_MAX)]) == {
        LONG_MAX: LONG_MIN, LONG_MIN: LONG_MIN, 0: LONG_MIN}


def test_cluster_pairs_matches_core(spark):
    from documentai_spark.operators.dedup import cluster_pairs

    rng = random.Random(7)
    pairs = _random_pairs(rng, 30, 25)
    nodes = sorted({x for p in pairs for x in p} | {123, -456})
    got = {r.doc_id: r.cluster_rep for r in cluster_pairs(
        spark.createDataFrame(pairs, "doc_a long, doc_b long"),
        spark.createDataFrame([(x,) for x in nodes], "doc_id long"),
    ).collect()}
    assert got == {x: components(pairs).get(x, x) for x in nodes}
