"""Expression-plan utilities for the Catalyst text operators
(textops, dedup, curation, warc).

``bind_once`` works around a cost of higher-order-function lambdas:
Catalyst inlines a named subexpression at every reference site, and
interpreted (non-codegen) contexts — those lambdas — re-evaluate each
inlined copy per row. Binding the value as a single-element
``transform`` lambda variable guarantees (a) exactly one copy of the
subtree in the plan and (b) exactly one evaluation per row, with every
reference a cheap lambda-var access. The document rules (detection,
fake scoring, validators) are Python functions in one Arrow kernel and
use none of this.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind_once(value: Column, build) -> Column:  # noqa: ANN001
    """Evaluate ``value`` once per row and pass it to ``build`` as a bound
    lambda variable. ``value`` may be any type (struct/array/scalar) and
    may be NULL — the lambda still runs (build must tolerate NULL)."""
    return F.try_element_at(F.transform(F.array(value), build), F.lit(1))


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
