"""Fake/specimen document detection (operators F1-F6 + F-agg,
SURVEY.md §2.4) as one plain Python function over one document,
``fake_result``.

Replicates app/services/fake_document_detector.py:123-410:
6 weighted checks summed; confidence = round(min(total/2, 1.0), 2);
is_fake = confidence >= 0.4 or total >= 0.8. Inside ``run_pipeline`` it
runs in the reduce-side rule kernel (``pipeline._rule_kernel``);
``fake_result_expr`` / ``with_fake_detection`` run the same function as
a standalone scalar Arrow UDF. Rule tables (fake-name pairs, single
names, address patterns, number patterns, specimen keywords) are read
from ``webxtract.rules`` in their order.

Strings follow Spark's semantics, as the expression form this replaced
did: space-only trim, Java regexes (``validators._jre``), Spark's
string-to-int cast of the birth year, and HALF_UP ``round``.

Deliberate reference-quirk decisions (SURVEY.md §7.4.5):
- the MRZ all-filler check (:381) is dead code in the reference (its
  condition is always falsy); replicated-as-spec by omission.
- reasons[] strings reproduce the reference's formats for the checks
  our tests assert on; .title()-casing of names equals the reference's
  on the ascii names in the rule tables.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webxtract import rules
from webxtract.kernels import row_udf, spark_round
from webxtract.ops.validators import _DIGITS, _SEP, Doc, _jre, _trim
from webxtract.schemas import FAKE_RESULT_TYPE, FIELD_NAMES

_NUMBER_PATTERNS = [_jre(f"(?i){p}") for p in rules.FAKE_DOC_NUMBER_PATTERNS]

CHECKS_PERFORMED = [
    "specimen_keywords", "fake_names", "fake_document_numbers",
    "suspicious_dates", "mrz_anomalies", "fake_addresses",
]

# Spark's ``try_cast(s AS INT)``: an optional sign and ASCII digits (no
# fractional part), inside ASCII whitespace / control chars, in range.
_CAST_TRIM = "".join(map(chr, range(33))) + "\x7f"
_CAST_INT = re.compile(r"[+-]?[0-9]+")


def _cast_int(s: str) -> int | None:
    """The reference's ``int()`` in try/except, as Spark casts it."""
    s = s.strip(_CAST_TRIM)
    v = int(s) if _CAST_INT.fullmatch(s) else None
    return v if v is not None and -(2**31) <= v < 2**31 else None


def _birth_year(dob: str) -> int | None:
    """Year part of a date string (:340-346): "-" -> first part; "/" ->
    last part if 4 chars else first part."""
    if "-" in dob:
        return _cast_int(dob.split("-")[0])
    if "/" in dob:
        parts = dob.split("/")
        return _cast_int(parts[-1] if len(parts[-1]) == 4 else parts[0])
    return None


def _sequential_ratio(num: str) -> float:
    """Share of steps of +1 (or of -1, whichever is larger) between
    consecutive digits (:291-312); a character that is not an ASCII
    digit (a final line terminator that Java's ``$`` lets through) is
    never part of a step."""
    v = [ord(c) - 48 if "0" <= c <= "9" else None for c in num]
    steps = list(zip(v, v[1:]))
    up = sum(a is not None and b is not None and b == a + 1 for a, b in steps)
    down = sum(a is not None and b is not None and b == a - 1 for a, b in steps)
    return max(up, down) / (len(v) - 1)


def fake_result(d: Doc, raw_text: str | None = None) -> tuple:
    """FakeDocumentResult of one document (+ optional raw extracted text,
    mirroring detect()'s raw_text param): (is_fake, confidence, reasons,
    checks_performed)."""
    parts = [raw_text, *(getattr(d, n) for n in FIELD_NAMES)]
    text = " ".join(filter(None, parts)).lower()
    first, last, full, addr = (_trim(getattr(d, n) or "").lower()
                               for n in ("first_name", "last_name", "full_name", "address"))
    num = _trim(d.document_number or "").upper()
    cnum = _SEP.sub("", num)
    checks: list[tuple[float, list[str]]] = []

    def check(cond: bool, score: float, reason: str) -> None:
        checks.append((score, [reason]) if cond else (0.0, []))

    # ---- F1 specimen keywords (:210-220): every match counts
    matched = [k for k in rules.SPECIMEN_KEYWORDS if k in text]
    check(bool(matched), min(len(matched) * 0.5, 1.0),
          f"Specimen keyword found: {', '.join(matched)}")

    # ---- F2 fake names (:223-264): the first pair matching exactly or
    # by containment wins
    pair = next(((f, l) for f, l in rules.FAKE_NAME_PAIRS
                 if (first == f and last == l) or (f in first and l in last)), None)
    if pair is None:
        checks.append((0.0, []))
    elif pair == (first, last):
        checks.append((1.0, [f"Known fake name: {pair[0].title()} {pair[1].title()}"]))
    else:
        checks.append((0.7, [f"Suspicious name pattern: contains '{pair[0]}' and '{pair[1]}'"]))
    single = next((s for s in rules.FAKE_SINGLE_NAMES if s in first or s in last or s in full),
                  None)
    check(single is not None, 0.8, f"Fake name indicator: '{single}'")
    # repeated-character names (>=4 chars, <=2 distinct)
    for which, name in (("first", first), ("last", last)):
        clean = name.replace(" ", "")
        check(len(clean) >= 4 and len(set(clean)) <= 2, 0.5,
              f"Suspicious {which} name: '{name}' (repeated characters)")

    # ---- F3 fake document numbers (:267-314)
    check(cnum != "" and cnum in rules.KNOWN_SPECIMEN_DOC_NUMBERS, 1.0,
          f"Known specimen document number: {num}")
    check(cnum != "" and any(p.search(cnum) for p in _NUMBER_PATTERNS), 0.8,
          f"Suspicious document number pattern: {num}")
    ratio = _sequential_ratio(cnum) if _DIGITS.search(cnum) and len(cnum) >= 5 else 0.0
    if ratio == 1.0:
        checks.append((0.9, [f"Sequential document number: {num}"]))
    elif ratio >= 0.7:
        checks.append((0.7, [f"Nearly sequential document number: {num}"]))
    else:
        check(ratio >= 0.5, 0.5, f"Partially sequential document number: {num}")

    # ---- F4 suspicious dates (:317-361); a known date skips the
    # birth-year checks (`continue`)
    for field in ("date_of_birth", "issue_date", "expiry_date"):
        value = _trim(getattr(d, field) or "")
        known = value in rules.SUSPICIOUS_DATES
        check(value != "" and known, 0.6, f"Suspicious {field}: {value}")
        if field == "date_of_birth":
            year = _birth_year(value) if value != "" and not known else None
            a = year in rules.SUSPICIOUS_BIRTH_YEARS
            b = year is not None and year < 1920
            checks.append(((0.4 if a else 0.0) + (0.5 if b else 0.0),
                           [f"Suspicious birth year: {year}"] * a
                           + [f"Unrealistic birth year: {year}"] * b))

    # ---- F5 MRZ anomalies (:364-391); (:381) the all-filler check is
    # dead code in the reference — omitted.
    mrz = (d.mrz or "").upper()
    check("SPECIMEN" in mrz or "SAMPLE" in mrz, 1.0, "MRZ contains SPECIMEN/SAMPLE text")
    check("DOEDOE" in mrz or "JOHNJOHN" in mrz, 0.7, "MRZ contains repeated name patterns")

    # ---- F6 fake addresses (:394-410): first matching pattern only
    pattern = next((a for a in rules.FAKE_ADDRESS_PATTERNS if a in addr), None)
    check(pattern is not None, 0.8, f"Fake address pattern: '{pattern}'")

    # ---- F-agg (:184-198); summed in check order like Spark's aggregate
    # (sum() compensates float error on Python 3.12+)
    total = 0.0
    for score, _ in checks:
        total += score
    confidence = spark_round(min(total / 2.0, 1.0), 2)
    reasons = [r for _, rs in checks for r in rs]
    return confidence >= 0.4 or total >= 0.8, confidence, reasons, CHECKS_PERFORMED


@row_udf(FAKE_RESULT_TYPE)
def _fake_detection(raw_text: str | None, *fields: str | None) -> tuple:
    return fake_result(Doc(fields), raw_text)


def fake_result_expr(raw_text: Column | None = None) -> Column:
    """The FakeDocumentResult struct of the field columns (+ optional
    raw extracted text column)."""
    raw = raw_text if raw_text is not None else F.lit(None).cast("string")
    return _fake_detection(raw, *[F.col(n) for n in FIELD_NAMES])


def with_fake_detection(df: DataFrame, raw_text_col: str | None = None) -> DataFrame:
    raw = F.col(raw_text_col) if raw_text_col else None
    return df.withColumn("fake_detection", fake_result_expr(raw))
