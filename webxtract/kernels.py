"""The Spark-parity rules the Python kernels share, one implementation
each. The DuckDB oracles (``webxtract.oracles``) check every kernel
against these rules, so a kernel never restates them inline.

- ``md5_60``: the Python twin of ``textops.stable_hash60_expr``.
- ``ws_split``: Spark's ``split(trim(text), '\\s+')``.
- ``spark_round``: Spark's ``round(x, dp)`` on a double.
- ``doc_scores``: one ``mapInArrow`` pass that scores each document
  and carries its kept columns through as Arrow, exactly.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Callable

_WS = re.compile(r"\s+", re.ASCII)  # Java regex \s: ASCII whitespace


def md5_60(s: str) -> int:
    """The low 15 hex digits of md5 over the UTF-8 bytes of ``s``:
    Spark's ``conv(substr(md5(s), 1, 15), 16, 10)``. The value is a
    non-negative 60-bit int, so ``%`` equals Spark's ``pmod``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def ws_split(text: str | None) -> list[str]:
    """Spark's ``split(trim(text), '\\s+')`` with NULL read as "":
    ``trim`` strips 0x20 only, ``\\s`` is Java's ASCII whitespace class,
    and leading or trailing empties stay (Java's limit -1), so empty or
    blank text splits to the single empty token."""
    return _WS.split((text or "").strip(" "))


def spark_round(x: float, dp: int) -> float:
    """Spark's ``round(x, dp)`` on a double: HALF_UP on the shortest
    decimal repr of the double, as Spark's BigDecimal path rounds it.
    ``float(x)`` first, so a NumPy scalar rounds like a Python float."""
    return float(
        Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP)
    )


def doc_scores(
    df: "DataFrame",  # noqa: F821
    keep_cols: tuple[str, ...] | list[str],
    text_col: str,
    fields: list["StructField"],  # noqa: F821
    make_score: Callable[[], Callable[[str | None], tuple]],
) -> "DataFrame":  # noqa: F821
    """(keep_cols..., fields...) from ONE ``mapInArrow`` pass over
    ``(keep_cols..., text_col)``: zero shuffles, zero joins.

    ``make_score()`` runs once per task (per-task state, such as a
    lookup table, lives in its closure) and returns ``score``, which
    maps one text (None for NULL) to one tuple of values in ``fields``
    order. The output columns are built with the Arrow types of
    ``fields``; the ``keep_cols`` Arrow arrays pass through untouched.
    A NULL or 64-bit id therefore comes back exactly, where pandas
    turns a bigint column holding a NULL into float64."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    keep_cols = list(keep_cols)
    k = len(keep_cols)
    names = keep_cols + [f.name for f in fields]
    types = [to_arrow_type(f.dataType) for f in fields]

    def _kernel(batches):  # noqa: ANN001, ANN202
        import pyarrow as pa

        score = make_score()
        for b in batches:
            rows = [score(t) for t in b.column(k).to_pylist()]
            cols = list(zip(*rows)) or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                b.columns[:k] + [pa.array(c, t) for c, t in zip(cols, types)],
                names,
            )

    schema = StructType([df.schema[c] for c in keep_cols] + list(fields))
    return df.select(*keep_cols, text_col).mapInArrow(_kernel, schema)
