"""Connected components of an edge stream (pure Python union-find).

``components(pairs)`` labels every node that appears in a pair with the
minimum id of its component, under plain integer order — which is
signed long order for the long ids the near-dedup closure carries, the
order ``F.least`` / ``F.min`` used when the closure was a round-based
label propagation. That minimum is the representative a dedup pass
keeps.

Union by smaller root keeps that invariant by construction: a root is
the minimum of its own set, and a union makes the smaller of the two
roots the root of the merged set. Finds halve the path as they walk
(each visited node is re-pointed at its grandparent), which bounds the
amortized cost per edge at O(log n) even though linking ignores rank.

The pairs are consumed as a stream: the state is one dict entry per
node that has an edge (about 100 bytes each), never the edge list.
Duplicate pairs, pairs given in both orientations and self-loops need
no pre-processing — each is a no-op union once its endpoints share a
root.
"""

from __future__ import annotations

from collections.abc import Iterable


def _root(parent: dict[int, int], x: int) -> int:
    p = parent[x]
    while p != x:
        g = parent[p]
        parent[x] = g          # path halving
        x = g
        p = parent[x]
    return x


def components(pairs: Iterable[tuple[int, int]]) -> dict[int, int]:
    """``{node: rep}`` for every node of ``pairs``, ``rep`` the
    smallest id of the node's connected component."""
    parent: dict[int, int] = {}
    for a, b in pairs:
        ra = _root(parent, a) if a in parent else parent.setdefault(a, a)
        rb = _root(parent, b) if b in parent else parent.setdefault(b, b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    return {x: _root(parent, x) for x in list(parent)}
