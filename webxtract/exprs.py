"""Expression-plan utilities.

``bind_once`` is the load-bearing trick of this engine's rule layer:
Catalyst inlines a named subexpression at every reference site, and
interpreted (non-codegen) contexts — higher-order-function lambdas —
re-evaluate each inlined copy per row. Binding the
value as a single-element ``transform`` lambda variable guarantees (a)
exactly one copy of the subtree in the plan and (b) exactly one
evaluation per row, with every reference a cheap lambda-var access.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F


def gateway_cached(maxsize: int = 4):
    """lru_cache keyed ALSO on the active py4j gateway.

    Classic-mode Column objects hold JVM expression refs through the
    gateway; plain lru_cache would keep serving them after a gateway
    teardown/relaunch (classic<->connect switch, crash recovery) and
    every later call would fail until process restart. Adding the live
    gateway's identity to the key makes a relaunch a natural cache
    miss; stale entries age out of the small LRU."""

    def deco(fn):
        cached = functools.lru_cache(maxsize=maxsize)(
            lambda _gw, *args, **kw: fn(*args, **kw)
        )

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            from pyspark import SparkContext

            gw = getattr(SparkContext, "_gateway", None)
            # key on the gateway OBJECT (hashable by identity), not
            # id(gw): the lru_cache key keeps it alive, so a torn-down
            # gateway's address can never be recycled into a cache hit
            # on stale JVM refs (bounded retention: maxsize entries)
            return cached(_IdKey(gw) if gw is not None else None, *args, **kw)

        wrapper.cache_clear = cached.cache_clear
        return wrapper

    return deco


class _IdKey:
    """Identity-hashable wrapper holding a strong reference, so equal
    keys imply the SAME live object (never a recycled address)."""

    __slots__ = ("obj",)

    def __init__(self, obj):  # noqa: ANN001
        self.obj = obj

    def __hash__(self):
        return id(self.obj)

    def __eq__(self, other):  # noqa: ANN001
        return isinstance(other, _IdKey) and other.obj is self.obj


def bind_once(value: Column, build) -> Column:  # noqa: ANN001
    """Evaluate ``value`` once per row and pass it to ``build`` as a bound
    lambda variable. ``value`` may be any type (struct/array/scalar) and
    may be NULL — the lambda still runs (build must tolerate NULL)."""
    return F.try_element_at(F.transform(F.array(value), build), F.lit(1))


def pick_first(arr: Column, build) -> Column:  # noqa: ANN001
    """First-match binding: ``arr`` is a (possibly empty) filtered array;
    returns build(first element) or NULL when empty."""
    return F.try_element_at(F.transform(arr, build), F.lit(1))


def first_wins_argmax(
    pairs: list[tuple[str, Column]], default: str
) -> Column:
    """Label of the first pair whose count equals the maximum (ties
    break toward earlier ``pairs`` entries); ``default`` when every
    count is <= 0.

    Built as ONE aggregate fold over an array of (label, count)
    structs, so each count expression appears exactly once in the
    tree. The naive accumulator form — ``best = when(c >= best, c)
    .otherwise(best)`` chained per candidate — embeds the previous
    accumulator (and through it every earlier count subtree) TWICE per
    step: 2^n copies after n candidates. Expression codegen's
    common-subexpression elimination hides that when it kicks in, but
    any fall to interpreted eval (janino failure, code-cache pressure
    late in a long-lived JVM) re-evaluates every copy per row —
    measured as a ~60x CPU cliff on the 8-topic tagger before this
    fold (145 vs ~2 core-s per sf0.1 bench pass)."""
    arr = F.array(
        *[
            F.struct(F.lit(n).alias("t"), c.cast("long").alias("c"))
            for n, c in pairs
        ]
    )
    win = F.aggregate(
        arr,
        F.struct(F.lit(default).alias("t"), F.lit(0).cast("long").alias("c")),
        lambda acc, x: F.when((x["c"] > 0) & (x["c"] > acc["c"]), x).otherwise(
            acc
        ),
    )
    return win["t"]
