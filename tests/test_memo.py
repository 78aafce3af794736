"""The engine's one plan memo (s2js_spark.spark.memo).

A hit is the same object handed back again, so every check here is by
object identity or by whether ``build`` ran; none is by timing.
"""

from __future__ import annotations

import gc
import random
import sys
import threading

import pytest

from s2js_spark.spark import memo
from s2js_spark.spark.session import get_session

SF = "/root/testdata/sf0.001"


class Owner:
    """A weakref-able stand-in for a tile set."""


@pytest.fixture(scope="module")
def spark():
    s = get_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    memo.clear()
    yield s
    memo.clear()


def _counting(make):
    """``make`` wrapped to count its calls."""
    calls = []

    def build():
        calls.append(1)
        return make()

    return build, calls


def test_repeat_call_returns_same_object(spark):
    build, calls = _counting(lambda: spark.range(3))
    a = memo.cached(spark, "repeat", build)
    b = memo.cached(spark, "repeat", build)
    assert a is b and len(calls) == 1
    assert a.count() == 3


def test_plan_semantics_decide_a_hit(spark):
    build, calls = _counting(object)
    a = memo.cached(spark, "plan", build, plan=spark.range(10))
    # a distinct DataFrame object with the same semantics hits
    b = memo.cached(spark, "plan", build, plan=spark.range(10))
    assert a is b and len(calls) == 1
    c = memo.cached(spark, "plan", build, plan=spark.range(11))
    assert c is not a and len(calls) == 2


def test_dead_owner_is_pruned_and_never_served(spark):
    owner = Owner()
    old_id = id(owner)
    stale = memo.cached(spark, "owned", object, owner=owner)
    del owner
    gc.collect()
    # CPython usually hands the freed address to the next object of
    # the same size: look for an owner with the recycled id.
    fresh = [Owner() for _ in range(1000)]
    twin = next((o for o in fresh if id(o) == old_id), fresh[0])
    assert memo.cached(spark, "owned", object, owner=twin) is not stale
    memo.cached(spark, "other", object)  # an insert prunes dead entries
    with memo._lock:
        entries = list(memo._table.values())
    assert all(memo._alive(e) for e in entries)
    assert all(e[3] is not stale for e in entries)


def test_bound_holds_and_keeps_most_recently_used(spark):
    memo.clear()
    n = memo.MAX_ENTRIES
    values = {i: memo.cached(spark, ("lru", i), object) for i in range(n)}
    assert memo.cached(spark, ("lru", 0), object) is values[0]  # now most recent
    for i in range(n, n + 10):
        values[i] = memo.cached(spark, ("lru", i), object)
    assert len(memo._table) == n
    # key 0 was used last among the first n, so keys 1..10 went instead
    assert memo.cached(spark, ("lru", 0), object) is values[0]
    for i in range(11, n + 10):
        assert memo.cached(spark, ("lru", i), object) is values[i]
    assert memo.cached(spark, ("lru", 1), object) is not values[1]
    assert len(memo._table) == n


def test_clear_drops_only_that_session(spark):
    memo.clear()
    other = spark.newSession()
    mine = memo.cached(spark, "clear", object)
    theirs = memo.cached(other, "clear", object)
    assert theirs is not mine
    memo.clear(other)
    assert memo.cached(spark, "clear", object) is mine
    assert memo.cached(other, "clear", object) is not theirs


def test_threads_hold_the_bound(spark):
    """8 threads x 200 calls over more keys than the bound, with nested
    builds and owners that die, race lookups, prunes and evictions."""
    memo.clear()
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(200):
                i = rng.randrange(2 * memo.MAX_ENTRIES)
                if i % 3 == 0:
                    memo.cached(spark, ("thread-owned", i), object, owner=Owner())
                else:
                    memo.cached(
                        spark,
                        ("thread", i),
                        lambda: (memo.cached(spark, ("nested", i % 7), object), object()),
                    )
        except Exception as exc:  # pragma: no cover - the failure being tested
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often, to expose races
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(memo._table) <= memo.MAX_ENTRIES


def test_new_session_after_stop_gets_its_own_plan(spark):
    """Last in this module: it stops the module's session."""
    from __spark_entry__ import queries

    before = queries()["pip_tag"](spark, SF)
    want = sorted(before.collect())
    spark.stop()
    new = get_session("local[2]", shuffle_partitions=2)
    try:
        after = queries()["pip_tag"](new, SF)
        assert after is not before and after.sparkSession is new
        assert queries()["pip_tag"](new, SF) is after
        assert sorted(after.collect()) == want and want
    finally:
        new.stop()
