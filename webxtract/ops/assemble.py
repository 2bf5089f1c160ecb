"""Page assembly as a pure Catalyst column expression (operator E5
from SURVEY.md §2.2).

The expression-side twin of what the extraction kernel does in Python —
used in driver-contract queries and in tests that cross-check the
kernel's output.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def page_concat_expr(page_texts: Column | str) -> Column:
    """E5 page concat: ``"\\n\\n".join(t for t in pages if t)`` — the
    byte-identical per-url text invariant (reference ocr.py:152)."""
    page_texts = F.col(page_texts) if isinstance(page_texts, str) else page_texts
    return F.concat_ws(
        "\n\n", F.filter(page_texts, lambda t: t.isNotNull() & (t != F.lit("")))
    )
