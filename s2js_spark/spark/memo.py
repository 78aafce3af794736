"""The engine's one plan memo: session-bound DataFrames by key.

Catalyst analysis of the encode / refinement chains is seconds of fixed
driver cost, and interactive workloads re-issue the same query shape.
DataFrames are immutable and lazy, so handing back the same object is
safe: each action re-executes it. A hit needs the same live session,
the same live ``owner`` (weakref identity, so a recycled ``id()`` never
serves another object's entry) and, when ``plan`` is given, an input
plan with the same semantics. ``build`` runs outside the lock: builds
nest (a query build tags tiles through this memo too) and take seconds.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict

MAX_ENTRIES = 128

_table: OrderedDict = OrderedDict()  # key -> (session ref, owner ref, plan, value)
_lock = threading.Lock()


def _alive(entry) -> bool:
    return entry[0]() is not None and (entry[1] is None or entry[1]() is not None)


def cached(spark, key, build, *, plan=None, owner=None):
    """``build()``, or what an earlier call with the same session, key,
    owner and plan semantics built. Uncached when the plan has no
    semantic hash (e.g. exotic streaming plans)."""
    try:
        sem = None if plan is None else plan.semanticHash()
    except Exception:
        return build()
    k = (id(spark), id(owner), sem, key)
    with _lock:
        hit = _table.get(k)
        if hit is not None:
            _table.move_to_end(k)
    if (
        hit is not None
        and hit[0]() is spark
        and (owner is None or hit[1]() is owner)
        and (plan is None or plan.sameSemantics(hit[2]))
    ):
        return hit[3]
    value = build()
    entry = (weakref.ref(spark), None if owner is None else weakref.ref(owner), plan, value)
    with _lock:
        for dead in [kk for kk, e in _table.items() if not _alive(e)]:
            del _table[dead]
        _table[k] = entry
        _table.move_to_end(k)
        while len(_table) > MAX_ENTRIES:
            _table.popitem(last=False)
    return value


def clear(spark=None) -> None:
    """Drop ``spark``'s entries (all when None), e.g. after rewriting an
    indexed corpus in place: plan semantics cannot see file contents."""
    with _lock:
        for k in [k for k, e in _table.items() if spark is None or e[0]() is spark]:
            del _table[k]
