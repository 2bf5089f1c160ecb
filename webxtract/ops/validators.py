"""The validation battery (operators V1-V46 + V-agg, SURVEY.md §2.5) as
one vectorized Arrow kernel.

The reference runs 5 base validators + 1 type-specific validator per
document on a thread pool (validation_service.py:306-327). Here the
battery (``validate``) runs in a scalar Arrow UDF: Spark hands it a
batch of the columns the rules read — the 13 field strings, the three
dates parsed by ``with_parsed_dates`` (date semantics stay in Catalyst),
and ``run_date`` — and it returns the
``array<ValidatorResult>`` column in one Arrow batch. Inside
``run_pipeline`` that UDF is the rule kernel (``pipeline._rule_kernel``),
which also runs type detection, fake scoring and integrity, the V-agg
summary (``validation_summary``, scored with Python's own ``round`` as
the reference scores it) and the E7 required-field check
(``missing_fields``); elsewhere ``validation_results_expr`` runs the
battery alone. No rule logic is analyzed, optimized or code-generated by
Catalyst. This module also holds what every rule kernel shares: ``Doc``
and the Spark-semantics helpers; the UDF wrapper, ``row_udf``, lives in
``webxtract.kernels`` with the other readers of Spark columns.

Each validator is a plain Python function over one document, written
close to the reference class it replicates: the 5 base validators, the
DL and passport families (one function each, parametrized by the
per-province / per-country config tables below), and the six bespoke
validators. Statuses (passed/failed/warning/skipped), skip conditions,
thresholds, check order AND message strings replicate the reference
byte-for-byte: tests/test_validator_messages.py and
tests/test_validator_messages_family.py pin every (status, message,
details) triple against goldens generated by running the reference's
own validator classes (scripts/gen_validator_goldens.py).
ValidatorResult.details is a MAP<STRING,STRING> replicating the
reference's per-check detail dicts under a fixed value
canonicalization shared with the golden generator:
  bool       -> "true"/"false"
  int        -> decimal string
  round(x,1) -> Spark format_number(x, 1) (HALF_EVEN, thousands grouping)
  list[str]  -> "; "-joined           (checks_performed, issues, ...)
  list[dict] -> compact JSON          (document_format matched_patterns)
Entries keep insertion order, so written map bytes are stable. The
Verifik external lookup runs in its disabled default (config.py:7
VERIFIK_API_ENABLED=false), surfaced as details.verifik_api_enabled=
false on the ON/BC DL results — it changes no status.

The kernel reproduces Spark's string semantics, not Python's defaults:
``trim`` strips spaces only, regexes follow Java (ASCII ``\\d``/``\\s``,
``$`` also matching before a final line terminator), and dates are
passed as epoch days so out-of-range years (0, negative, >9999) that
``try_to_date`` can produce format exactly as ``date_format`` does.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType

from webxtract.kernels import row_udf, ws_split
from webxtract.rules import (
    COUNTRY_CODES,
    DATE_FORMATS_SPARK,
    DL_CONFIGS,
    DL_MSG_DEFAULTS,
    DL_MSGS,
    DOCUMENT_FORMAT_PATTERNS,
    PASSPORT_CONFIGS,
    PP_FMT_PREFIX,
    US_LETTER_MATCH_STATES,
    US_STATE_FORMATS,
    US_STATE_INDICATORS,
)
from webxtract.schemas import FIELD_NAMES, REQUIRED_FIELDS, VALIDATOR_RESULT_TYPE

RESULTS_TYPE = ArrayType(VALIDATOR_RESULT_TYPE)

# ------------------------------------------------------ Spark semantics

# Java's `$` (no MULTILINE) also matches before one final line terminator.
_JAVA_EOL = "(?=(?:\r\n|[\n\r\u0085\u2028\u2029])?\\Z)"


def _jre(pattern: str) -> re.Pattern:
    """Compile a Java regex for ``rlike``/``regexp_like`` find semantics
    (use ``.search``): ASCII character classes, Java ``$``."""
    return re.compile(pattern.replace("$", _JAVA_EOL), re.ASCII)


_SEP = _jre(r"[\s\-]")
_SEP_SLASH = _jre(r"[\s\-/]")
_NON_AZ = _jre("[^A-Z]")
_NON_DIGIT = _jre("[^0-9]")
_ALPHA = _jre("[A-Z]")
_ONE_ALPHA = _jre("^[A-Z]$")
_TWO_ALPHA = _jre("^[A-Z]{2}$")
_DIGITS = _jre(r"^\d+$")
_FRANCE_NEAR = _jre("^[A-Z0-9]{9}$")


def _trim(s: str) -> str:
    return s.strip(" ")


def _blank(s: str | None) -> bool:
    return s is None or _trim(s) == ""


def _clean(s: str | None) -> str:
    """``regexp_replace(upper(trim(coalesce(s, ''))), '[\\s\\-]', '')``."""
    return _SEP.sub("", _trim(s or "").upper())


def _fmt1(x: float) -> str:
    """``format_number(x, 1)``."""
    return f"{x:,.1f}"


def _ymd(days: int) -> tuple[int, int, int]:
    """Proleptic-Gregorian (year, month, day) of an epoch day, for any
    year Spark can hold (days-from-civil inverse)."""
    z = days + 719468
    era = z // 146097
    doe = z - era * 146097
    yoe = (doe - doe // 1460 + doe // 36524 - doe // 146096) // 365
    doy = doe - (365 * yoe + yoe // 4 - yoe // 100)
    mp = (5 * doy + 2) // 153
    d = doy - (153 * mp + 2) // 5 + 1
    m = mp + 3 if mp < 10 else mp - 9
    return yoe + era * 400 + (m <= 2), m, d


def _fmt_date(days: int) -> str:
    """``date_format(d, 'yyyy-MM-dd')``: sign only outside 0..9999."""
    y, m, d = _ymd(days)
    ys = f"{y:04d}" if 0 <= y <= 9999 else (f"+{y}" if y > 0 else f"-{-y:04d}")
    return f"{ys}-{m:02d}-{d:02d}"


def _md(days: int, sep: str) -> str:
    _y, m, d = _ymd(days)
    return f"{m:02d}{sep}{d:02d}"


def _age(ref: int, dob: int) -> int:
    """Exact reference age algorithm (age_validator.py:36-38): year diff
    minus the (month, day) tuple comparison — NOT months_between."""
    ry, rm, rd = _ymd(ref)
    by, bm, bd = _ymd(dob)
    return ry - by - ((rm, rd) < (bm, bd))


_EPOCH_1985 = 5479  # 1985-01-01 as an epoch day


class Doc:
    """One document as the rules see it: raw field strings (``None``
    when NULL), parsed dates and the run date as epoch days (detection
    and fake scoring read the fields only)."""

    __slots__ = (*FIELD_NAMES, "dob", "issue", "exp", "run")

    def __init__(self, fields, dob=None, issue=None, exp=None, run=None):  # noqa: ANN001
        for name, v in zip(FIELD_NAMES, fields):
            setattr(self, name, v)
        self.dob, self.issue, self.exp, self.run = dob, issue, exp, run


def _result(name: str, issues: list, warnings: list, fail: str, warn: str,
            ok: str, details: dict, copy_iw: bool = True) -> tuple:
    """ValidatorResult with the reference's FAILED > WARNING > PASSED
    precedence (e.g. ontario_dl.py:231-258). ``copy_iw`` is the
    type-specific shape: the fail message is ``f"{fail}: {'; '.join(
    issues)}"`` and details gain the joined issues/warnings copies (the
    warnings key even when empty, ontario_dl.py:234-245). Base
    validators pass ``copy_iw=False`` with branch-complete messages."""
    if issues:
        status = "failed"
        msg = f"{fail}: {'; '.join(issues)}" if copy_iw else fail
        if copy_iw:
            details["issues"] = "; ".join(issues)
            details["warnings"] = "; ".join(warnings)
    elif warnings:
        status, msg = "warning", warn
        if copy_iw:
            details["warnings"] = "; ".join(warnings)
    else:
        status, msg = "passed", ok
    return name, status, msg, details


def _skipped(name: str, missing: list[str]) -> tuple:
    """Skip branch of the base validators (base.py:41-53)."""
    return (name, "skipped", "Required fields missing: " + ", ".join(missing),
            {"missing_fields": "; ".join(missing)})


def _put(d: dict, key: str | None, value: str | None) -> None:
    """Details entry present only when key and value are set."""
    if key is not None and value is not None:
        d[key] = value


# ------------------------------------------------------------ date parse


def parse_date_expr(col: Column) -> Column:
    """Ordered try-in-order date parse (base.py:56-98). The format order,
    incl. dd/MM/yyyy before MM/dd/yyyy, is load-bearing. The reference's
    final title-case retry is approximated with an initcap(lower())
    variant (covers space-separated month-name forms)."""
    raw = F.trim(col)
    attempts = [F.try_to_date(raw, fmt) for fmt in DATE_FORMATS_SPARK]
    attempts += [
        F.try_to_date(F.initcap(F.lower(raw)), fmt)
        for fmt in DATE_FORMATS_SPARK
        if "MMM" in fmt
    ]
    return F.coalesce(*attempts)


# Pre-parsed date columns: the three date fields are parsed once per row
# in Catalyst and handed to the kernel as epoch days.
DOB_COL, ISSUE_COL, EXP_COL = "__dob_d", "__issue_d", "__exp_d"
DATE_COLS = (DOB_COL, ISSUE_COL, EXP_COL)


def with_parsed_dates(df):  # noqa: ANN001, ANN201
    return df.withColumns({
        c: parse_date_expr(F.col(f))
        for c, f in zip(DATE_COLS, ("date_of_birth", "issue_date", "expiry_date"))
    })


# ------------------------------------------------------------- base five


def data_consistency(d: Doc) -> tuple:
    """V1 (validators/data_consistency.py:13-72)."""
    missing = [f for f in ("date_of_birth", "expiry_date") if _blank(getattr(d, f))]
    if missing:
        return _skipped("data_consistency", missing)
    dob, issue, exp = d.dob, d.issue, d.exp
    issues = []
    if dob is not None and issue is not None and dob >= issue:
        issues.append("Date of birth is not before issue date")
    if issue is not None and exp is not None and issue >= exp:
        issues.append("Issue date is not before expiry date")
    if dob is not None:
        age = (d.run - dob) // 365
        if age > 150 or age < 0:
            issues.append(f"Unrealistic age calculated: {age} years")
    if issue is not None and exp is not None and (exp - issue) // 365 > 50:
        issues.append(f"Unusual document validity period: {(exp - issue) // 365} years")
    # the fail message is the fixed string (data_consistency.py:63); the
    # issue texts go to details only (:64-72)
    return _result(
        "data_consistency", issues, [], "Data consistency issues found", "",
        "All date relationships are consistent",
        {"issues": "; ".join(issues)} if issues else {}, copy_iw=False,
    )


def document_expiry(d: Doc) -> tuple:
    """V2 (validators/document_expiry.py:13-64); each branch carries its
    complete message and details."""
    if _blank(d.expiry_date):
        return _skipped("document_expiry", ["expiry_date"])
    exp = d.exp
    if exp is None:
        return ("document_expiry", "warning", "Could not parse expiry date format",
                {"raw_expiry_date": d.expiry_date})
    days = exp - d.run
    det = {"expiry_date": _fmt_date(exp)}
    if days < 0:
        det["days_expired"] = str(-days)
        return ("document_expiry", "failed", f"Document expired {-days} days ago", det)
    det["days_until_expiry"] = str(days)
    if days < 30:
        return ("document_expiry", "warning", f"Document expires in {days} days", det)
    return ("document_expiry", "passed", f"Document valid for {days} days", det)


# The reference's default minimum age (validation_service.py:104-116).
MINIMUM_AGE = 18


def age_validation(d: Doc) -> tuple:
    """V3 (validators/age_validator.py:16-60) — warn (not fail) under the
    minimum age."""
    if _blank(d.date_of_birth):
        return _skipped("age_validation", ["date_of_birth"])
    if d.dob is None:
        return ("age_validation", "warning", "Could not parse date of birth format",
                {"raw_dob": d.date_of_birth})
    age = _age(d.run, d.dob)
    det = {"calculated_age": str(age), "minimum_age": str(MINIMUM_AGE)}
    if age < MINIMUM_AGE:
        det["date_of_birth"] = _fmt_date(d.dob)
        return ("age_validation", "warning",
                f"Person is {age} years old, minimum required is {MINIMUM_AGE}", det)
    return ("age_validation", "passed", f"Age verification passed ({age} years old)", det)


_FORMAT_RES = [
    (_jre(p), json.dumps({"pattern_name": n, "description": desc}, separators=(",", ":")))
    for n, p, desc in DOCUMENT_FORMAT_PATTERNS
]


def document_format(d: Doc) -> tuple:
    """V4 (validators/document_format.py:40-82): PASS if any of the 18
    patterns match the raw or dash-stripped number, else WARN."""
    if _blank(d.document_number):
        return _skipped("document_format", ["document_number"])
    raw = _trim(d.document_number).upper()
    clean = _SEP.sub("", raw)
    matched = [js for rx, js in _FORMAT_RES if rx.search(raw) or rx.search(clean)]
    if not matched:
        return ("document_format", "warning", "Document number does not match common formats",
                {"document_number": raw,
                 "note": "May still be valid - format not in known patterns"})
    # matched (name, description) rows as compact JSON (:55-70)
    return ("document_format", "passed",
            f"Document number matches {len(matched)} known format(s)",
            {"document_number": raw, "matched_patterns": "[" + ",".join(matched) + "]"})


def face_matching(_d: Doc) -> tuple:
    """V5 (validators/face_matching.py:18-49): always SKIPPED (no selfie)."""
    return ("face_matching", "skipped", "Face matching skipped - no selfie provided",
            {"note": "Provide selfie image to enable face matching"})


BASE_VALIDATORS = (data_consistency, document_expiry, age_validation, document_format,
                   face_matching)


def _last_name(variant: str | None, d: Doc) -> tuple[str, str]:
    """(last name, source label) by the three extraction variants
    (SURVEY.md §2.5); the label is interpolated into first-letter
    mismatch issues (ontario_dl.py:104-107):
    - "first_word": comma-part else FIRST word else last_name field
      (ontario_dl.py:28-59; also QC/MB/NS/NL)
    - "bc": comma-part else last_name field else LAST word (bc_dl.py:27-53)
    - "field_first": last_name field else comma-part else LAST word
      (california_dl.py:23-39; also TX, US)"""
    full = d.full_name or ""
    field = _trim(d.last_name or "")
    comma = _trim(full.split(",", 1)[0])
    words = ws_split(full)
    has_comma = "," in full
    if variant == "first_word":
        if full and has_comma and comma:
            return comma, "full_name_comma_format"
        if full and not has_comma and _trim(words[0]):
            return _trim(words[0]), "full_name_first_word"
        if field:
            return field, "last_name_field"
    elif variant == "bc":
        # BC's comma label is "full_name_parsed" (bc_dl.py:40)
        if full and has_comma and comma:
            return comma, "full_name_parsed"
        if field:
            return field, "last_name_field"
        if full and len(words) >= 2:
            return _trim(words[-1]), "full_name_last_word"
    elif variant == "field_first":
        if field:
            return field, "last_name_field"
        if full and has_comma:
            return comma, "full_name_parsed"
        if full and len(words) >= 2:
            return _trim(words[-1]), "full_name_last_word"
    return "", "not_found"


# -------------------------------------------------------- DL family (V10-23, V44-45)


def _dl_msgs(name: str) -> dict:
    return {**DL_MSG_DEFAULTS, **DL_MSGS[name]}


def _parse_near(spec: str | None) -> tuple[str | None, int | None, int | None]:
    """Near-miss spec of a DL / passport config -> (kind, lo, hi):
    "digits:lo:hi", "len:N" (DL), "len:N:<alpha|alpha2|egd>",
    "minlen:N:alpha", "len89:alpha2", "france"."""
    if spec is None:
        return None, None, None
    if spec in ("france", "len89:alpha2"):
        return spec.replace(":", "_"), None, None
    kind, n, *rest = spec.split(":")
    if kind == "digits":
        return "digits", int(n), int(rest[0])
    if kind == "minlen":
        return "minlen_alpha", int(n), None
    return (f"len_{rest[0]}" if rest else "len"), int(n), None


def _near_miss(kind: str | None, lo: int | None, hi: int | None, clean: str) -> bool:
    """Whether a number that fails the format is a near miss (warn, not fail)."""
    n = len(clean)
    if kind == "digits":
        return bool(_DIGITS.search(clean)) and lo <= n <= hi
    if kind == "france":
        return bool(_FRANCE_NEAR.search(clean))
    if kind == "len_egd":
        return n == lo and clean[:1] in ("E", "G", "D")
    if kind == "len89_alpha2":
        return n in (8, 9) and bool(_TWO_ALPHA.search(clean[:2]))
    if kind == "len_alpha2":
        return n == lo and bool(_TWO_ALPHA.search(clean[:2]))
    if kind in ("minlen_alpha", "len_alpha"):
        return (n >= lo if kind == "minlen_alpha" else n == lo) and bool(_ALPHA.search(clean[:1]))
    if kind == "len":
        return n == lo
    return False


# name -> (config, merged messages, near-miss spec, compiled format)
_DL = {
    name: (c, _dl_msgs(name), _parse_near(c.near_miss), _jre(c.format_pattern))
    for name, c in DL_CONFIGS.items()
}


def dl_validator(name: str, d: Doc) -> tuple:
    """One parametrized DL validator — the single form of the 15
    per-province validators (SURVEY.md §2.5 V10-V23/V44-V45; the files
    differ only in the constants carried by DLConfig and DL_MSGS)."""
    c, m, (kind, lo, hi), fmt_re = _DL[name]
    run, dob, issue_d, exp = d.run, d.dob, d.issue, d.exp
    disp = d.document_number or ""
    raw = _trim(disp).upper()
    # NDL:/NDL/DL:/DL prefix strip for BC (bc_dl.py:74-96); Manitoba also
    # strips "/" (manitoba_dl.py:70-76); default strips spaces/dashes.
    if c.bc_prefix_strip and raw.startswith(("NDL", "DL")):
        cut = next(n for p, n in (("NDL:", 4), ("NDL", 3), ("DL:", 3), ("DL", 2))
                   if raw.startswith(p))
        clean = _trim(raw[cut:cut + 100])
    else:
        clean = (_SEP_SLASH if c.strip_slash else _SEP).sub("", raw)
    last_name, name_src = _last_name(c.name_variant, d)
    issues: list[str] = []
    warnings: list[str] = []

    # number format. The pattern is tried against the raw upper-trimmed
    # number AND the stripped one — only Ontario's pattern contains its
    # hyphens (ontario_dl.py:79), every other matches the stripped form.
    fmt_ok = bool(fmt_re.search(raw) or fmt_re.search(clean))
    near = _near_miss(kind, lo, hi, clean)
    if clean == "":
        issues.append(m["missing"])
    elif not fmt_ok and not near:
        issues.append(m["fmt_prefix"] + disp)
    elif not fmt_ok:
        # digit-count shape when near_w3 is set (bc_dl.py:111-114), free
        # shape otherwise (ontario_dl.py:87, quebec_dl.py:89-92)
        tail = f"{len(clean)}{m['near_w3']}" if m["near_w3"] is not None else ""
        warnings.append(m["near_w1"] + disp + m["near_w2"] + tail)

    # first letter vs last-name initial: compared unconditionally once
    # the number is non-empty (ontario_dl.py:95-114) — no alpha gate
    letter = clean[:1]
    initial = last_name[:1].upper()
    fl_issue = fl_warn = None
    if c.first_letter is not None and clean != "":
        if last_name and letter != initial:
            msg = f"{m['fl_head']}{letter}{m['fl_mid']}{initial}'"
            if m["fl_src"]:
                msg += f" (from {name_src})"
            if c.first_letter == "fail":
                fl_issue = msg
            else:
                fl_warn = msg
        elif not last_name and m["noname_head"] is not None:
            fl_warn = m["noname_head"] + letter + m["noname_tail"]
    if fl_issue:
        issues.append(fl_issue)
    if fl_warn:
        warnings.append(fl_warn)
    # surname -> 5-letter X-padded prefix; warn on first-letter mismatch
    # only (nova_scotia_dl.py:51-60,106-120)
    expected = _NON_AZ.sub("", last_name.upper())[:5].ljust(5, "X")
    ns_gate = c.ns_prefix and len(clean) >= 5 and last_name != ""
    if ns_gate and clean[:1] != expected[:1]:
        warnings.append(f"Licence prefix '{clean[:5]}' may not match surname '{last_name}'")

    # minimum-age tiers
    age = _age(run, dob) if dob is not None else None
    tiers = c.warn_age_tiers
    if age is not None:
        if age < c.fail_age:
            issues.append(f"Person is {age}{m['age_fail_tail']}")
        elif age < tiers[0]:
            warnings.append(f"Person is {age}. {m['tier1_tail']}")
        elif len(tiers) > 1 and age < tiers[1]:
            warnings.append(f"Person is {age}. {m['tier2_tail']}")

    # expiry-on-birthday (warn): the Canadian "Expiry date (MM-dd) is not
    # on birthday (MM-dd). ..." shape (ontario_dl.py:139-142) and the
    # CA/TX "X typically expires on birthday. DOB: MM/dd, Expiry: MM/dd"
    # shape (california_dl.py:130-133)
    bday_known = dob is not None and exp is not None
    bday_match = bday_known and _md(dob, "-") == _md(exp, "-")
    if bday_known and not bday_match:
        if m["bday_std"]:
            warnings.append(f"Expiry date ({_md(exp, '-')}) is not on birthday "
                            f"({_md(dob, '-')}). {m['bday_tail']}")
        else:
            warnings.append(f"{m['bday_name']} typically expires on birthday. "
                            f"DOB: {_md(dob, '/')}, Expiry: {_md(exp, '/')}")

    # validity window (warn)
    validity = (exp - issue_d) / c.validity_div if issue_d is not None and exp is not None else None
    if validity is not None:
        if c.validity_low is not None and validity < c.validity_low:
            warnings.append(f"Short validity period ({_fmt1(validity)} years). {m['vshort_tail']}")
        if c.validity_high is not None and validity > c.validity_high:
            warnings.append(m["vlong_head"] + _fmt1(validity) + m["vlong_tail"])

    # expired check
    days = exp - run if exp is not None else None
    if c.expired_check and days is not None:
        if days < 0:
            issues.append(f"{m['expired_head']}{-days} days ago")
        elif days < 30:
            warnings.append(f"{m['expires_head']}{days} days")
        elif c.expiry_warn_60 and days < 60:
            warnings.append(f"{m['soon_head']}{days} days)")

    # issue-date sanity
    age_at_issue = None
    if c.issue_check_min_age is not None and issue_d is not None:
        if issue_d > run:
            issues.append("Issue date cannot be in the future")
        if dob is not None:
            if issue_d < dob:
                issues.append("Issue date cannot be before date of birth")
            else:
                age_at_issue = _age(issue_d, dob)
                if age_at_issue < c.issue_check_min_age:
                    issues.append(f"Person was {age_at_issue}{m['issue_tail']}")

    # Ontario DOB-in-number encoding (ontario_dl.py:156-202)
    gender = _trim(d.gender or "").upper()
    checkable = c.ontario_dob_encoding and clean != "" and dob is not None
    if checkable:
        last6 = _SEP.sub("", clean)[-6:]
        y, mo, dd = _ymd(dob)
        yy = f"{abs(y) % 100:02d}"
        male, female = f"{yy}{mo:02d}{dd:02d}", f"{yy}{mo + 50:02d}{dd:02d}"
        if last6 != male and last6 != female:
            issues.append(f"Last 6 digits of license '{last6}' do not match DOB encoding. "
                          f"Expected '{male}' (male) or '{female}' (female with month +50)")
        if last6 == male and gender in ("F", "FEMALE"):
            warnings.append(f"License uses male DOB encoding but gender is '{gender}'. "
                            "Expected female encoding with month +50.")
        if last6 == female and gender in ("M", "MALE"):
            warnings.append("License uses female DOB encoding (month +50) but gender is "
                            f"'{gender}'.")

    # ---- details (each province's details[...] sites, e.g.
    # alberta_dl.py:62-188, bc_dl.py:62-248, ontario_dl.py:66-226,
    # california_dl.py:54-143); entries in the reference's key order
    valid = clean != "" and fmt_ok
    near_ok = clean != "" and not fmt_ok and near
    det: dict = {"checks_performed": "; ".join(c.d_checks)}
    _put(det, "state", c.d_state)
    if c.d_ln_src:
        det["last_name_source"] = name_src
        if last_name:
            det["extracted_last_name"] = last_name
    _put(det, c.d_num_key, clean)
    if c.bc_prefix_strip:  # NDL:/DL: prefix flags (bc_dl.py:74-96)
        ndl, dl = raw.startswith("NDL"), not raw.startswith("NDL") and raw.startswith("DL")
        if ndl or not dl:
            det["has_ndl_prefix"] = "true" if ndl else "false"
        if dl or not ndl:
            det["has_dl_prefix"] = "true" if dl else "false"
        if ndl or dl:
            det["prefix_type"] = "NDL" if ndl else "DL"
    if valid:
        det[c.d_valid_key] = "true"
    if c.d_letter and (valid or near_ok):
        det["licence_letter"] = letter
    spec = c.d_digits
    if valid and spec is not None:
        _put(det, "licence_digits", {"len": str(len(clean)), "slice1": clean[1:65],
                                     "slice5": clean[5:69]}.get(spec, spec))
    elif near_ok and c.d_digits_near:
        det["licence_digits"] = str(len(clean))
    _put(det, c.d_clean_key, clean)
    if (c.ns_prefix and valid) or ns_gate:
        det["licence_prefix"] = clean[:5]
    if ns_gate:
        det["expected_prefix"] = expected
        if clean[:1] == expected[:1]:
            det["prefix_matches_surname"] = "true"
    # first-letter keys: ontario_dl.py:95-110 (no alpha gate, "license_"
    # spelling), quebec_dl.py:104-118 / newfoundland ("licence_",
    # alpha-gated), california_dl.py:73-86 (alpha + last-name gated,
    # adds name_extraction_source)
    fl = c.d_fl
    alpha = bool(_ONE_ALPHA.search(letter))
    if clean != "" and (fl == "ontario" or (fl == "std" and alpha)
                        or (fl == "ca" and alpha and last_name)):
        det["license_first_letter" if fl in ("ontario", "ca") else "licence_first_letter"] = letter
        if last_name:
            det["last_name_initial"] = initial
        if fl == "ca":
            det["name_extraction_source"] = name_src
        if last_name and letter == initial:
            det["first_letter_matches"] = "true"
    if age is not None:
        det[c.d_age_key] = str(age)
        if c.d_age_dob:
            det["date_of_birth"] = _fmt_date(dob)
    if bday_known:
        if c.d_bday_both:
            det["expires_on_birthday"] = "true" if bday_match else "false"
        elif bday_match:
            det["expiry_on_birthday"] = "true"
    if validity is not None:
        det["validity_years"] = _fmt1(validity)
    if c.expired_check and days is not None and days >= 0:
        det["days_until_expiry"] = str(days)
    if age_at_issue is not None and issue_d <= run:
        det["age_at_issue"] = str(age_at_issue)
    if checkable:
        det["license_last_6"] = last6
        det["expected_dob_male"] = male
        det["expected_dob_female"] = female
        det["document_gender"] = gender or "not_provided"
        if last6 in (male, female):
            det["dob_encoded_in_license"] = "true"
            det["detected_encoding"] = "male" if last6 == male else "female"
    # Verifik registry lookup — disabled default (config.py:7;
    # ontario_dl.py:223-226, bc_dl.py:245-248)
    if c.verifik:
        det["verifik_api_enabled"] = "false"
        if issues:
            det["verifik_api_skipped_reason"] = "local_validation_failed"
    return _result(name, issues, warnings, m["fail_header"], m["warn_full"], m["pass_full"], det)


# ----------------------------------------------------- passports (V30-41)


_PP = {
    name: (c, _parse_near(c.near_miss), _jre(c.format_pattern))
    for name, c in PASSPORT_CONFIGS.items()
}


def _within(v: float, window: tuple[float, float] | None) -> bool | None:
    """``lo <= v <= hi``; None (SQL NULL) without a window."""
    return None if window is None else window[0] <= v <= window[1]


def passport_validator(name: str, d: Doc) -> tuple:
    """One parametrized national-passport validator (V31-V40)."""
    c, (kind, lo, hi), fmt_re = _PP[name]
    run, dob, issue_d, exp = d.run, d.dob, d.issue, d.exp
    cc = _trim(d.country_code or "").upper()
    # messages interpolate the number exactly as given (us_passport.py:61)
    disp = d.document_number or ""
    clean = _clean(disp)
    issues: list[str] = []
    warnings: list[str] = []

    # country-code check -> WARNING on mismatch (us_passport.py:36-43)
    if cc and cc != c.country_code:
        warnings.append(f"Country code '{cc}' does not match expected '{c.country_code}'")
    fmt_ok = bool(fmt_re.search(clean))
    near = _near_miss(kind, lo, hi, clean)
    bad = [ch for ch in clean if ch in c.invalid_letters] if c.invalid_letters else []
    if clean == "":
        issues.append("Missing passport number")
    elif c.invalid_letters is not None:
        if not fmt_ok:
            issues.append(PP_FMT_PREFIX[name] + disp)
        elif bad:
            issues.append("Passport number contains invalid characters: "
                          + ", ".join(bad) + c.invalid_letters_msg)
    elif not fmt_ok and not near:
        issues.append(PP_FMT_PREFIX[name] + disp)
    elif not fmt_ok:
        # three byte-exact shapes: digit-count (us_passport.py:55-58),
        # description (india_passport.py:56-59), France's accepted
        # fallback (france_passport.py:63-66)
        if kind == "digits":
            warnings.append(f"Passport number '{disp}' has {len(clean)} digits. {c.w_near}")
        elif kind == "france":
            warnings.append(f"Passport number '{disp}' accepted but may not match standard "
                            "French format (2 digits + 2 letters + 5 digits).")
        else:
            warnings.append(f"Passport number '{disp}' may have format issues. {c.w_near}")

    has_age = dob is not None and issue_d is not None
    age_at_issue = _age(issue_d, dob) if has_age else None
    if has_age and issue_d < dob:
        issues.append("Issue date cannot be before date of birth")

    # validity windows. Age-interpolating warning shape (us_passport.py:
    # 94-104 and siblings) when w_child_head is set; "Passport has X year
    # validity." shape otherwise (china_passport.py:109-120), shared by
    # the no-age/always/fixed window tails (nigeria :95-98, colombia
    # :95-98, china :127-129).
    tiered = not c.fixed_window_only and not c.always_window
    validity = valid_age = None
    if issue_d is not None and exp is not None:
        validity = (exp - issue_d) / 365.25
        v1 = _fmt1(validity)
        in_child, in_adult = _within(validity, c.child_window), _within(validity, c.adult_window)
        head = f"Passport has {v1} year validity. "
        if c.fixed_window_only:
            valid_age = in_adult
            if not in_adult:
                warnings.append(head + c.w_window_tail)
        elif c.always_window:
            valid_age = in_child or in_adult
            if not valid_age:
                warnings.append(head + c.w_window_tail)
        elif has_age:
            child = age_at_issue < c.child_age
            valid_age = in_child if child else in_adult
            if not valid_age:
                tail = c.w_child_tail if child else c.w_adult_tail
                if c.w_child_head is None:
                    warnings.append(head + tail)
                else:
                    who = c.w_child_head if child else "Adult passport "
                    warnings.append(f"{who}(age {age_at_issue} at issue) has {v1} "
                                    f"year validity. {tail}")
        elif c.no_age_fallback:
            valid_age = in_child or in_adult
            if not valid_age:
                warnings.append(head + c.w_window_tail)

    # expiry: FAIL expired, WARN <180 days
    days = exp - run if exp is not None else None
    if days is not None and days < 0:
        issues.append(f"Passport expired {-days} days ago")
    elif days is not None and days < 180:
        warnings.append(f"Passport expires in {days} days. Many countries require 6+ months "
                        "validity for entry.")

    # ---- details (the 10 files share one skeleton, e.g. us_passport.py:
    # 36-120, china_passport.py:40-145, nigeria_passport.py:37-117,
    # france_passport.py:45-127)
    is_france = kind == "france"
    pp_valid = clean != "" and ((fmt_ok and not bad) or (is_france and not fmt_ok and near))
    det = {
        "checks_performed": "country_code_check; passport_number_format; age_at_issue; "
                            "validity_period; expiry_check",
        "country": c.d_country,
        "country_code": c.country_code,
    }
    if cc and cc == c.country_code:
        det["country_code_verified"] = "true"
    if pp_valid:
        det["passport_number_valid"] = "true"
        if is_france:
            det["format_type"] = "standard" if fmt_ok else "alphanumeric"
        if c.d_prefix is not None:
            det["passport_prefix"] = clean[: c.d_prefix]
    if c.d_china_type and pp_valid:
        det["passport_type"] = {"E": "Ordinary", "G": "Official"}.get(clean[:1], "Diplomatic")
    elif c.always_window and validity is not None and (in_child or in_adult):
        det["passport_type"] = "32-page (5 years)" if in_child else "64-page (10 years)"
    if has_age:
        det["age_at_issue"] = str(age_at_issue)
    if validity is not None:
        det["validity_years"] = v1
        if valid_age:
            det[c.d_validity_key] = "true"
    if days is not None and days >= 0:
        det["days_until_expiry"] = str(days)
    return _result(name, issues, warnings, f"{c.display} validation failed",
                   f"{c.display} validation passed with warnings",
                   f"{c.display} validation passed", det)


def canadian_passport(d: Doc) -> tuple:
    """V30 (validators/canadian_passport.py): no format FAIL, validity
    tiers by age-at-issue (<16: ~5y / 16+: ~10y), >10.5y FAILS when age
    unknown, current age >120 FAILS, pre-1985 issue warns. No expiry check."""
    run, dob, issue_d, exp = d.run, d.dob, d.issue, d.exp
    clean = _clean(d.document_number)
    has_age = dob is not None and issue_d is not None
    aai = _age(issue_d, dob) if has_age else None
    current = _age(run, dob) if dob is not None else None
    validity = (exp - issue_d) / 365.25 if issue_d is not None and exp is not None else None
    v1 = _fmt1(validity) if validity is not None else None
    issues, warnings = [], []
    if has_age and issue_d < dob:
        issues.append("Issue date cannot be before date of birth")
    if validity is not None and not has_age and validity > 10.5:
        issues.append(f"Invalid validity period: {v1} years. Canadian passports are valid "
                      "for max 10 years.")
    if current is not None and current < 0:
        issues.append("Date of birth is in the future")
    if current is not None and current > 120:
        issues.append(f"Unrealistic age: {current} years")
    if issue_d is not None and issue_d > run:
        issues.append("Issue date cannot be in the future")
    # byte-exact warning texts (canadian_passport.py:77-95,128-133)
    matches_age = None
    if validity is not None and has_age:
        child = aai < 16
        matches_age = 4.5 <= validity <= 5.5 if child else 9.5 <= validity <= 10.5
        if not matches_age:
            warnings.append(
                f"Child passport (age {aai} at issue) has {v1} year validity. Expected ~5 "
                "years for applicants under 16." if child else
                f"Adult passport (age {aai} at issue) has {v1} year validity. Expected ~10 "
                "years for applicants 16+.")
    elif validity is not None and validity < 4.5:
        warnings.append(f"Unusual short validity period: {v1} years")
    if issue_d is not None and issue_d <= run and issue_d < _EPOCH_1985:
        warnings.append(f"Issue date {_fmt_date(issue_d)} predates modern passport format")
    # details sites: canadian_passport.py:36-136
    det = {"checks_performed": "passport_number_check; age_at_issue; validity_period; "
                               "current_age; issue_date_reasonable"}
    if clean:
        det["passport_number"] = clean
    if len(clean) >= 2:
        det["passport_prefix"] = clean[:2]
    if has_age:
        det["age_at_issue"] = str(aai)
    _put(det, "validity_years", v1)
    if matches_age:
        det["validity_matches_age"] = "true"
    if current is not None:
        det["current_age"] = str(current)
    if issue_d is not None and _EPOCH_1985 <= issue_d <= run:
        det["issue_date_reasonable"] = "true"
    return _result("canadian_passport", issues, warnings, "Canadian Passport validation failed",
                   "Canadian Passport validation passed with warnings",
                   "Canadian Passport validation passed", det)


_GENERIC_PP = _jre(r"^[A-Z0-9]{6,12}$")


def generic_passport(d: Doc) -> tuple:
    """V41 (validators/generic_passport.py)."""
    run, dob, issue_d, exp = d.run, d.dob, d.issue, d.exp
    cc = _trim(d.country_code or "").upper()
    disp = d.document_number or ""
    clean = _clean(disp)
    fmt_ok = bool(_GENERIC_PP.search(clean))
    validity = (exp - issue_d) / 365.25 if issue_d is not None and exp is not None else None
    days = exp - run if exp is not None else None
    issues, warnings = [], []
    if clean == "":
        issues.append("Missing passport number")
    if dob is not None and issue_d is not None and issue_d < dob:
        issues.append("Issue date cannot be before date of birth")
    if days is not None and days < 0:
        issues.append(f"Passport expired {-days} days ago")
    if cc and cc not in COUNTRY_CODES:
        warnings.append(f"Country code '{cc}' is not a recognized ISO 3166-1 alpha-3 code")
    if not cc:
        warnings.append("No country code found on passport")
    if clean and not fmt_ok:
        n = len(clean)
        warnings.append(
            f"Passport number '{disp}' seems too short. Most passports have 6-12 alphanumeric "
            "characters." if n < 6 else
            f"Passport number '{disp}' seems too long. Most passports have 6-12 alphanumeric "
            "characters." if n > 12 else
            f"Passport number '{disp}' may have format issues.")
    if validity is not None and validity < 1:
        warnings.append(f"Passport has very short validity ({_fmt1(validity)} years). This may "
                        "indicate an issue.")
    if validity is not None and validity > 12:
        warnings.append(f"Passport has unusually long validity ({_fmt1(validity)} years). Most "
                        "passports are valid for 5-10 years.")
    if days is not None and 0 <= days < 180:
        warnings.append(f"Passport expires in {days} days. Many countries require 6+ months "
                        "validity for entry.")
    # headers name the ISO-resolved country, "International" when the
    # code is missing/unknown (generic_passport.py:141-160)
    country = COUNTRY_CODES.get(cc)
    title = country or "International"
    # details sites: generic_passport.py:38-131
    det = {"checks_performed": "country_code_check; passport_number_format; age_at_issue; "
                               "validity_period; expiry_check"}
    if cc:
        det["country_code"] = cc
        _put(det, "country", country)
        det["country_code_valid"] = "true" if country is not None else "false"
    if clean and fmt_ok:
        det["passport_number_valid"] = "true"
        det["passport_number_length"] = str(len(clean))
    if dob is not None and issue_d is not None:
        det["age_at_issue"] = str(_age(issue_d, dob))
    if validity is not None:
        det["validity_years"] = _fmt1(validity)
        if 1 <= validity <= 12:
            det["validity_valid"] = "true"
    if days is not None and days >= 0:
        det["days_until_expiry"] = str(days)
    return _result("generic_passport", issues, warnings, f"{title} Passport validation failed",
                   f"{title} Passport validation passed with warnings",
                   f"{title} Passport validation passed", det)


def _id_card_issues(d: Doc, label: str) -> tuple[list, int | None, int | None, float | None]:
    """Shared date checks of the photo-ID and PR-card validators
    (generic_photo_id.py, canada_pr_card.py): issues, age, days to
    expiry, validity years."""
    run, dob, issue_d, exp = d.run, d.dob, d.issue, d.exp
    age = _age(run, dob) if dob is not None else None
    days = exp - run if exp is not None else None
    validity = (exp - issue_d) / 365.25 if issue_d is not None and exp is not None else None
    issues = []
    if _clean(d.document_number) == "":
        issues.append("Missing document number")
    if dob is not None and dob > run:
        issues.append("Date of birth cannot be in the future")
    elif dob is not None and age < 0:
        issues.append("Invalid date of birth")
    if issue_d is not None and issue_d > run:
        issues.append("Issue date cannot be in the future")
    elif issue_d is not None and dob is not None and issue_d < dob:
        issues.append("Issue date cannot be before date of birth")
    if days is not None and days < 0:
        issues.append(f"{label} expired {-days} days ago")
    return issues, age, days, validity


def _id_card_details(checks: str, number: dict, age, days, validity) -> dict:  # noqa: ANN001
    det = {"checks_performed": checks, **number}
    if age is not None:
        det["calculated_age"] = str(age)
    if days is not None and days >= 0:
        det["days_until_expiry"] = str(days)
    if validity is not None:
        det["validity_years"] = _fmt1(validity)
    return det


def generic_photo_id(d: Doc) -> tuple:
    """V42 (validators/generic_photo_id.py) — also serves ON/BC/AB photo
    cards (validation_service.py:212-223)."""
    clean = _clean(d.document_number)
    issues, age, days, validity = _id_card_issues(d, "Photo ID")
    warnings = []
    if clean and len(clean) < 4:
        warnings.append(f"Document number '{d.document_number or ''}' seems too short")
    if days is not None and 0 <= days < 30:
        warnings.append(f"Photo ID expires in {days} days")
    if validity is not None and validity < 1:
        warnings.append(f"Photo ID has very short validity ({_fmt1(validity)} years)")
    if validity is not None and validity > 10:
        warnings.append(f"Photo ID has unusually long validity ({_fmt1(validity)} years)")
    # details sites: generic_photo_id.py:35-96
    number = ({"document_number_valid": "true", "document_number_length": str(len(clean))}
              if len(clean) >= 4 else {})
    det = _id_card_details("document_number_check; date_of_birth_check; issue_date_check; "
                           "expiry_check; validity_period", number, age, days, validity)
    return _result("generic_photo_id", issues, warnings, "Photo ID validation failed",
                   "Photo ID validation passed with warnings", "Photo ID validation passed", det)


_PR_FORMAT = _jre(r"^[A-Z]{2}\d{6}$")


def canada_pr_card(d: Doc) -> tuple:
    """V43 (validators/canada_pr_card.py): format warn-only, under-18
    warn, expiry warn tiers 180/365, validity ~5y window 4-6."""
    raw = _trim(d.document_number or "")
    clean = _SEP.sub("", raw.upper())
    issues, age, days, validity = _id_card_issues(d, "PR Card")
    pr_ok = bool(_PR_FORMAT.search(clean))
    warnings = []
    if clean and not pr_ok:
        warnings.append(f"Document number '{raw}' does not match expected PR Card format "
                        "(2 letters + 6 digits)")
    if age is not None and d.dob <= d.run and 0 <= age < 18:
        warnings.append(f"Holder is under 18 years old (age: {age})")
    if days is not None and 0 <= days < 180:
        warnings.append(f"PR Card expires in {days} days - renewal recommended within 6 months "
                        "of expiry")
    elif days is not None and 180 <= days < 365:
        warnings.append(f"PR Card expires in {days} days")
    if validity is not None and validity < 4:
        warnings.append(f"PR Card has shorter than expected validity ({_fmt1(validity)} years, "
                        "expected ~5 years)")
    if validity is not None and validity > 6:
        warnings.append(f"PR Card has longer than expected validity ({_fmt1(validity)} years)")
    # details sites: canada_pr_card.py:34-103
    number = {}
    if clean:
        number["document_number_valid"] = "true" if pr_ok else "false"
        if pr_ok:
            number["document_number_format"] = "Valid PR Card format (2 letters + 6 digits)"
    det = _id_card_details("document_number_format; date_of_birth_check; issue_date_check; "
                           "expiry_check; validity_period", number, age, days, validity)
    return _result("canada_pr_card", issues, warnings, "PR Card validation failed",
                   "PR Card validation passed with warnings", "PR Card validation passed", det)


def luhn_valid(number: str | None) -> bool:
    """Luhn mod-10 over a digit string (ontario_health_card.py:28-59):
    double every second digit from the right, subtract 9 when >9, sum,
    mod 10 == 0. Non-digit (or NULL) input is False (the reference's
    ``if not number.isdigit(): return False``)."""
    if not number or not (number.isascii() and number.isdigit()):
        return False
    total = 0
    for i, ch in enumerate(reversed(number)):
        v = ord(ch) - 48
        if i % 2 == 1:
            v = v * 2 - 9 if v > 4 else v * 2
        total += v
    return total % 10 == 0


# ``luhn_valid`` over a string column, as one Arrow kernel.
luhn_valid_expr = row_udf(BooleanType())(luhn_valid)


_HC_FULL = _jre(r"^\d{10}[A-Z]{2}$")
_HC_DIGITS = _jre(r"^\d{10}$")


def ontario_health_card(d: Doc) -> tuple:
    """V11 (validators/ontario_health_card.py): 10 digits + 2-letter
    version code, Luhn checksum FAIL, version letters not in {I,O,Q,U},
    expired FAIL / <90d warn, DOB-not-future, no-version-code warns."""
    run, dob, exp = d.run, d.dob, d.exp
    raw = _trim(d.document_number or "")
    clean = _SEP.sub("", raw.upper())
    digits, letters = _NON_DIGIT.sub("", clean), _NON_AZ.sub("", clean)
    is_format = bool(_HC_FULL.search(clean) or _HC_DIGITS.search(clean)
                     or (len(digits) == 10 and len(letters) in (0, 2)))
    # _parse_health_card_number fallthrough (ontario_health_card.py:61-96):
    # 10 digits extracted -> digits; else the whole cleaned string
    number = "" if raw == "" else digits if len(digits) == 10 else clean
    version = letters if len(digits) == 10 and len(letters) == 2 else ""
    is_10 = len(number) == 10
    luhn_ok = luhn_valid(number)
    bad = ", ".join(ch for ch in version if ch in "IOQU")
    bad_msg = (f"Version code contains invalid letter(s): {bad}. Letters I, O, Q, U are not "
               "used in Ontario Health Card version codes.")
    days = exp - run if exp is not None else None
    issues, warnings = [], []
    if raw == "":
        issues.append("Missing health card number")
    elif not is_format:
        issues.append("Invalid Ontario Health Card format. Expected: 10 digits + 2-letter "
                      f"version code (e.g., 1234567890AB), Got: {raw}")
    if is_10 and not luhn_ok:
        issues.append(f"Health card number '{number}' failed Luhn checksum validation. The "
                      "number may be incorrectly entered or invalid.")
    if is_format and bad:
        issues.append("Invalid version code: " + bad_msg)
    if days is not None and days < 0:
        issues.append(f"Health card expired {-days} days ago")
    if dob is not None and dob > run:
        issues.append("Date of birth cannot be in the future")
    if is_format and not version:
        warnings.append("No version code found. This may be an old-style (red and white) "
                        "health card which is being phased out.")
    if days is not None and 0 <= days < 90:
        warnings.append(f"Health card expires in {days} days. Consider renewing soon.")
    if _blank(d.expiry_date) and not version:
        warnings.append("No expiry date. Old-style health cards without photo are being "
                        "phased out. Please update to a photo health card.")
    # details sites: ontario_health_card.py:147-228; version_code_message
    # from _validate_version_code (:100-131; version is "" or 2 letters)
    det = {
        "checks_performed": "health_card_format; luhn_checksum; version_code_validation; "
                            "expiry_check; age_validation",
        "raw_document_number": d.document_number or "",
        "health_number": number,
        "version_code": version or "none",
    }
    if is_format:
        det["format_valid"] = "true"
    if is_10:
        det["luhn_valid"] = "true" if luhn_ok else "false"
        if luhn_ok:
            det["luhn_checksum_passed"] = "true"
    if is_format:
        det["version_code_valid"] = "false" if bad else "true"
        det["version_code_message"] = (
            "No version code (may be old-style card)" if not version
            else bad_msg if bad else f"Valid version code: {version}")
    if days is not None and days >= 0:
        det["days_until_expiry"] = str(days)
    if dob is not None and dob <= run:
        det["calculated_age"] = str(_age(run, dob))
    return _result("ontario_health_card", issues, warnings,
                   "Ontario Health Card validation failed",
                   "Ontario Health Card validation passed with warnings",
                   "Ontario Health Card validation passed", det)



_US_STATES = [
    (key, name, _jre(fmt), min_age, vy, desc, US_STATE_INDICATORS[key])
    for key, name, fmt, min_age, vy, desc in US_STATE_FORMATS
]
_US_GENERIC = _jre(r"^[A-Z0-9]{6,16}$")


def us_drivers_license(d: Doc) -> tuple:
    """V46 (validators/us_drivers_license.py:173-352): state from address
    (else by format match), per-state format FAIL, first-letter warn for
    CA/FL/MI/IL/NJ, state min-age, expiry, validity + 2y slack."""
    run, dob, issue_d, exp = d.run, d.dob, d.issue, d.exp
    address = (d.address or "").upper()
    disp = d.document_number or ""
    clean = _clean(disp)
    state = next((s for s in _US_STATES if any(i in address for i in s[6])), None)
    method = "address"
    if state is None:
        state = next((s for s in _US_STATES if s[2].search(clean)), None)
        method = "format_match" if state else "none"
    key, state_name, fmt_re, min_age, state_years, desc, _ind = state or (None,) * 7
    min_age = min_age or 16
    fmt_ok = bool(state and fmt_re.search(clean))
    generic_ok = bool(_US_GENERIC.search(clean))
    last_name, _src = _last_name("field_first", d)
    letter, initial = clean[:1], last_name[:1].upper()
    age = _age(run, dob) if dob is not None else None
    days = exp - run if exp is not None else None
    validity = (exp - issue_d) / 365.25 if issue_d is not None and exp is not None else None
    issues, warnings = [], []
    if clean == "":
        issues.append("Missing license number")
    elif state and not fmt_ok:
        issues.append(f"License number doesn't match {state_name} format. Expected: {desc}, "
                      f"Got: {disp}")
    elif not state and not generic_ok:
        issues.append("Invalid US license format. Expected 6-16 alphanumeric characters, "
                      f"Got: {disp}")
    if age is not None and age < min_age:
        issues.append(f"Person is {age} years old. Minimum age for driver's license is {min_age}")
    if days is not None and days < 0:
        issues.append(f"License expired {-days} days ago")
    if clean and not state and generic_ok:
        warnings.append("Could not determine specific state. Using generic US format validation.")
    letter_check = clean != "" and last_name != "" and key in US_LETTER_MATCH_STATES
    if letter_check and _ALPHA.search(letter) and letter != initial:
        warnings.append(f"License first letter '{letter}' may not match last name initial "
                        f"'{initial}' (common in {state_name or 'this state'})")
    if age is not None and min_age <= age < 18:
        warnings.append(f"Person is {age}. May have restricted license (graduated licensing)")
    if days is not None and 0 <= days < 30:
        warnings.append(f"License expires in {days} days")
    if validity is not None and state and validity > state_years + 2:
        warnings.append(f"Validity period ({_fmt1(validity)} years) exceeds typical "
                        f"{state_name} license term ({state_years} years)")
    # details sites: us_drivers_license.py:187-319
    fmt_valid = clean != "" and (fmt_ok if state else generic_ok)
    det = {
        "checks_performed": "state_detection; license_number_format; first_letter_check; "
                            "minimum_age; expiry_check; validity_period; real_id_check",
        "license_number": clean,
        "detected_state": state_name or "Unknown",
        "detection_method": method,
    }
    if fmt_valid:
        det["format_valid"] = "true"
        det["format_matched"] = state_name or "Generic US"
    if letter_check and _ONE_ALPHA.search(letter):
        det["license_first_letter"] = letter
        det["last_name_initial"] = initial
        if letter == initial:
            det["first_letter_matches"] = "true"
    if age is not None:
        det["current_age"] = str(age)
        det["minimum_age_required"] = str(min_age)
    if days is not None and days >= 0:
        det["days_until_expiry"] = str(days)
    if validity is not None:
        det["validity_years"] = _fmt1(validity)
    det["real_id_status"] = "not_verified"
    # the pass message names the detected state (us_drivers_license.py:348-349)
    ok = "US Driver's License validation passed"
    return _result("us_drivers_license", issues, warnings,
                   "US Driver's License validation failed",
                   "US Driver's License validation passed with warnings",
                   f"{ok} ({state_name} format)" if state else ok, det)


# ------------------------------------------------------------- dispatch

# The 36-entry dispatch map (validation_service.py:129-239).
_SPECIFIC = {
    **{n: (lambda d, n=n: dl_validator(n, d)) for n in DL_CONFIGS},
    **{n: (lambda d, n=n: passport_validator(n, d)) for n in PASSPORT_CONFIGS},
    "ontario_health_card": ontario_health_card,
    "canadian_passport": canadian_passport,
    "generic_passport": generic_passport,
    "ontario_photo_card": generic_photo_id,
    "bc_photo_id": generic_photo_id,
    "alberta_photo_id": generic_photo_id,
    "generic_photo_id": generic_photo_id,
    "canada_pr_card": canada_pr_card,
    "us_drivers_license": us_drivers_license,
}


_ENUMS = set(_SPECIFIC) | {"generic_id", "unknown"}


def doc_type_enum(document_type: str) -> str:
    """document_type -> validator-lookup enum: dynamic ``<country>_passport``
    types map to generic_passport (document_type_detector.py:449-461 +
    DocumentTypeInfo.document_type_enum)."""
    if document_type in _ENUMS:
        return document_type
    return "generic_passport" if document_type.endswith("_passport") else "unknown"


def validate(doc_type_enum: str | None, d: Doc) -> list[tuple]:
    """The full battery for one document (validation_service.py:283-295):
    5 base validators + the dispatched type-specific one, when the type
    has a validator."""
    out = [v(d) for v in BASE_VALIDATORS]
    specific = _SPECIFIC.get(doc_type_enum)
    if specific is not None:
        out.append(specific(d))
    return out


def doc_columns() -> list[Column]:
    """The 13 field columns then the dob/issue/expiry epoch days, the
    per-document inputs of every rule kernel (after ``with_parsed_dates``)."""
    return [*[F.col(f) for f in FIELD_NAMES],
            *[F.unix_date(F.col(c)) for c in DATE_COLS]]


@row_udf(RESULTS_TYPE)
def _battery(enum: str | None, run: int, *vals) -> list:  # noqa: ANN002
    """``validate`` over one row; ``vals`` are ``doc_columns``."""
    return validate(enum, Doc(vals[:-3], *vals[-3:], run))


def validation_results_expr(doc_type_enum: Column, run_date: Column) -> Column:
    """Full battery: 5 base validators + the dispatched type-specific one
    (validation_service.py:283-295), over a frame that went through
    ``with_parsed_dates``. Never NULL."""
    return F.coalesce(
        _battery(doc_type_enum, F.unix_date(run_date), *doc_columns()),
        F.array().cast(RESULTS_TYPE),
    )


def validation_summary(results: list[tuple]) -> tuple:
    """V-agg (validation_service.py:390-428): score = (passed +
    0.5*warnings) / active, by Python's own ``round(x, 2)`` as the
    reference scores it; FAILED > WARNING > PASSED > SKIPPED."""
    statuses = [r[1] for r in results]
    passed, failed = statuses.count("passed"), statuses.count("failed")
    warnings, skipped = statuses.count("warning"), statuses.count("skipped")
    active = len(statuses) - skipped
    score = round((passed + warnings * 0.5) / active, 2) if active > 0 else 0.0
    overall = ("failed" if failed else "warning" if warnings else
               "passed" if passed else "skipped")
    return overall, score, len(statuses), passed, failed, warnings, skipped


def missing_fields(d: Doc) -> list[str]:
    """E7: the required fields that are NULL or blank by Spark's ``trim``
    (document_extractor.py:190-201), in REQUIRED_FIELDS order."""
    return [f for f in REQUIRED_FIELDS if _blank(getattr(d, f))]
