"""Expression-plan utility for the text operators that stay Catalyst
expressions (in textops, curation and warc).

``bind_once`` works around a cost of higher-order-function lambdas:
Catalyst inlines a named subexpression at every reference site, and
interpreted (non-codegen) contexts — those lambdas — re-evaluate each
inlined copy per row. Binding the value as a single-element
``transform`` lambda variable guarantees (a) exactly one copy of the
subtree in the plan and (b) exactly one evaluation per row, with every
reference a cheap lambda-var access. The document rules (detection,
fake scoring, validators) run in one Arrow kernel, and the scorers and
chunkers that were interpreted cliffs (the ``*_frame`` operators and
the chunk-dedup family) run in ``mapInArrow`` kernels; none of them
use this.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind_once(value: Column, build) -> Column:  # noqa: ANN001
    """Evaluate ``value`` once per row and pass it to ``build`` as a bound
    lambda variable. ``value`` may be any type (struct/array/scalar) and
    may be NULL — the lambda still runs (build must tolerate NULL)."""
    return F.try_element_at(F.transform(F.array(value), build), F.lit(1))

