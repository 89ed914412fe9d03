"""Ordered sweep-line status structure.

The reference uses a splay tree with a closure comparator
(/root/reference/lib/src/splay/, used at subdivide_segments.rs:23).
The splay tree's self-adjustment is a performance detail, not semantics:
what the algorithm needs is an ordered set with insert / remove / prev /
next under the `compare_segments` comparator, where equality holds only
for the identical object.

We use a plain Python list kept in comparator order: binary-search
insertion, identity-based membership/removal, index-based neighbors.
Once inserted, an event's relative position is stable, like a tree node
that doesn't rebalance.

Honest caveat on mid-sweep comparator mutability: divide_segment can
repoint a STORED event's `other`, leaving the list locally unsorted, so
a subsequent insert's bisect placement is comparator-path-dependent.
The reference has the same hazard class — its splay-tree search also
consults mutated keys along a structure-dependent path — so "match the
reference" is defined by the 45-fixture suite (exact, both operand
orders), which both implementations satisfy, not by equivalence on
arbitrary adversarial inputs.
"""

from __future__ import annotations

from .events import Event, compare_segments


class SweepLine:
    __slots__ = ("_items",)

    def __init__(self):
        self._items = []

    def insert(self, event: Event) -> int:
        items = self._items
        lo, hi = 0, len(items)
        while lo < hi:
            mid = (lo + hi) // 2
            if compare_segments(event, items[mid]) < 0:
                hi = mid
            else:
                lo = mid + 1
        items.insert(lo, event)
        return lo

    def index_of(self, event: Event) -> int:
        """Index of `event` by IDENTITY (or -1): a plain scan, the same as
        the C twin's `sl_index_of`. No comparator call, so the result
        stays correct after divide_segment repoints a stored event's
        `other` (see module docstring)."""
        for i, e in enumerate(self._items):
            if e is event:
                return i
        return -1

    def remove_at(self, i: int) -> None:
        del self._items[i]

    def prev_of_index(self, i: int):
        return self._items[i - 1] if i > 0 else None

    def next_of_index(self, i: int):
        return self._items[i + 1] if i < len(self._items) - 1 else None

    def __len__(self):
        return len(self._items)
