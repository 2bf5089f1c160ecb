"""The Python row boundary and the Spark-parity rules the Python kernels
share, one implementation each. The DuckDB oracles
(``webxtract.oracles``) check every kernel against these rules, so a
kernel never restates them inline.

Row boundary — the only place a Spark column becomes Python values:

- ``row_udf``: a scalar ``arrow_udf`` applying ``fn`` to each row of
  a batch (the rule kernel, the validator battery, type detection,
  fake scoring, ``luhn_valid_expr``).
- ``doc_rows``: one ``mapInArrow`` pass that maps each document to
  0..n rows and carries its kept columns through as Arrow, exactly
  (extraction, the PDF page explode, the media kernels,
  ``normalize_text``, the per-document scorers, the chunk-dedup
  kernels and the WARC record parser).
- ``pylist``: the reader both use, as do ``curation.bucket_counts``
  and the WET/WAT and ZipNum writers in ``warc``. UTF-8 rule: a
  string column holding invalid UTF-8 (``warc_to_pages``'
  binary->string cast makes such text) reads as Spark's
  ``make_valid_utf8`` of it — each maximal invalid subsequence becomes
  one U+FFFD. Columns a kernel does not produce pass through byte for
  byte.

Spark-parity rules:

- ``md5_60``: the Python twin of ``textops.stable_hash60_expr``.
- ``ws_split``: Spark's ``split(trim(text), '\\s+')``.
- ``spark_round``: Spark's ``round(x, dp)`` on a double.
"""

from __future__ import annotations

import hashlib
import math
import re
from decimal import ROUND_HALF_UP, Context, Decimal
from typing import Callable, Iterable

import pyarrow as pa

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
    ``float(x)`` first, so a NumPy scalar rounds like a Python float.
    NaN and ±inf come back unchanged, as in Spark; the quantize runs
    with enough digits for any double at ``dp``."""
    x = float(x)
    if not math.isfinite(x):
        return x
    d = Decimal(repr(x))
    ctx = Context(prec=max(1, d.adjusted() + dp + 2))
    return float(d.quantize(Decimal(1).scaleb(-dp), ROUND_HALF_UP, ctx))


def pylist(col: pa.Array) -> list:
    """``col`` as Python values. A string batch holding invalid UTF-8
    fails the fast ``to_pylist`` and only that batch is decoded from
    its bytes with ``errors="replace"``, which equals Spark's
    ``make_valid_utf8``."""
    try:
        return col.to_pylist()
    except UnicodeDecodeError:
        raw = col.cast(pa.large_binary()).to_pylist()
        return [None if b is None else b.decode("utf-8", "replace") for b in raw]


def row_udf(return_type):  # noqa: ANN001, ANN201
    """Decorator: turn ``fn(*values) -> row`` into a scalar Arrow UDF
    named like ``fn`` that reads each batch with ``pylist``, applies
    ``fn`` to every row (tuples fill structs positionally) and returns
    one Arrow array of ``return_type``."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_type

    arrow_type = to_arrow_type(return_type)

    def wrap(fn):  # noqa: ANN001, ANN202
        def kernel(*cols: pa.Array) -> pa.Array:
            return pa.array([fn(*row) for row in zip(*map(pylist, cols))], arrow_type)

        kernel.__name__ = fn.__name__
        return F.arrow_udf(kernel, return_type)

    return wrap


def doc_rows(
    df: "DataFrame",  # noqa: F821
    keep_cols: Iterable[str],
    input_cols: Iterable["str | Column"],  # noqa: F821
    fields: list["StructField"],  # noqa: F821
    make_rows: Callable[[], Callable[..., Iterable[tuple]]],
) -> "DataFrame":  # noqa: F821
    """(keep_cols..., fields...) from ONE ``mapInArrow`` pass over
    ``(keep_cols..., input_cols...)``: zero shuffles, zero joins. An
    input is a column name or a ``Column``; the kernel is named like
    ``make_rows``.

    ``make_rows()`` runs once per task (per-task state, such as a
    lookup table, lives in its closure) and returns ``rows_of``, which
    maps one document's input values (None for NULL) to its 0..n output
    rows, each a tuple in ``fields`` order. The output columns are
    built with the Arrow types of ``fields``; each row's kept columns
    are ``take``n from the input Arrow arrays, so a NULL, 64-bit or
    string id comes back exactly, never through a pandas int64 or
    float64 column."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType

    keep_cols = list(keep_cols)
    k = len(keep_cols)
    names = keep_cols + [f.name for f in fields]
    types = [to_arrow_type(f.dataType) for f in fields]

    def _kernel(batches):  # noqa: ANN001, ANN202
        rows_of = make_rows()
        for b in batches:
            src, rows = [], []
            for i, args in enumerate(zip(*map(pylist, b.columns[k:]))):
                for r in rows_of(*args):
                    src.append(i)
                    rows.append(r)
            idx = pa.array(src, pa.int64())
            cols = list(zip(*rows)) or [()] * len(types)
            yield pa.RecordBatch.from_arrays(
                [c.take(idx) for c in b.columns[:k]]
                + [pa.array(c, t) for c, t in zip(cols, types)],
                names,
            )

    _kernel.__name__ = make_rows.__name__
    # inputs are read by position; positional names keep an unnamed
    # expression (or one named like a kept column) selectable
    inputs = [F.col(c) if isinstance(c, str) else c for c in input_cols]
    src_df = df.select(*keep_cols, *[c.alias(f"_in{i}") for i, c in enumerate(inputs)])
    schema = StructType([src_df.schema[c] for c in keep_cols] + list(fields))
    return src_df.mapInArrow(_kernel, schema)
