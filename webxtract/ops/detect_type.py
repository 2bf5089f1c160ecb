"""Document-type detection (operators D1-D8, SURVEY.md §2.3): the
reference's three-step first-match-wins cascade
(document_type_detector.py:237-554) as one plain Python function over
one document, ``detect``:

  STEP 1 keyword + province/state/country rules (conf 0.75-0.9)
  STEP 2 document-number format fallback      (conf 0.7)
  STEP 3 pattern-match scoring fallback       (argmax, <0.3 -> UNKNOWN)

Inside ``run_pipeline`` it runs in the reduce-side rule kernel
(``pipeline._rule_kernel``); ``doc_type_expr`` / ``with_doc_type`` run
the same function as a standalone scalar Arrow UDF. Every rule table is
read from ``webxtract.rules`` in its order. ``detected_features``
strings are reproduced for ALL branches, including step 3's
per-component features ("country_code_match: ...",
"document_number_format_match", "keywords_found: <matched keywords in
table order>", "ontario_address_indicator: <first hit>" — detector
:592-649). Strings follow Spark's semantics, as the expression form
this replaced did: space-only trim, Java regexes (``validators._jre``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webxtract import rules
from webxtract.kernels import row_udf
from webxtract.ops.validators import _SEP, Doc, _jre, _trim
from webxtract.schemas import DOC_TYPE_INFO_TYPE, FIELD_NAMES

# D3 lookups (detector :556-581): first key contained in the text wins,
# full names before abbreviations; "québec" normalizes to "quebec".
_PROVINCE_NAMES = {k: "quebec" if k == "québec" else k for k in rules.PROVINCE_MAPPING}
_STATE_NAMES = {k: k for k in rules.US_STATE_MAPPING}

# US DL rows: the two specific state types at conf 0.85 (detector
# :383-404), the generic us_drivers_license at 0.8 for every other
# mapped state (:405-417).
_US_DL = {
    key: (*rules.US_DL_TYPES[key], 0.85) if key in rules.US_DL_TYPES
    else ("us_drivers_license", name, f"{name} Driver's License", 0.8)
    for key, name in rules.US_STATE_MAPPING.items()
}

# Specific passports: first DOCUMENT_PATTERNS entry per country code
# (detector :431-448).
_SPECIFIC_PASSPORTS: dict[str, tuple] = {}
for _dtype, _name, _country, _cc, *_ in rules.DOCUMENT_PATTERNS:
    if _cc:
        _SPECIFIC_PASSPORTS.setdefault(_cc, (_dtype, _country, _name))

_FORMATS = [(_jre(p), p, dtype, country, state, name)
            for dtype, p, country, state, name in rules.DOC_NUMBER_FORMATS]

_ONTARIO_ADDR_INDICATORS = [
    "ontario", " on ", ", on", "on,", "toronto", "ottawa", "mississauga",
]

# D7 scoring table (document_types.py:65-319): the country code scores
# only on passport rows; keywords match lower-cased but are reported as
# written (detector :628-637).
_SCORED = [
    (dtype, name, country, cc if cc and "passport" in name.lower() else None, state,
     _jre(fmt) if fmt else None, [(k.lower(), k) for k in keywords],
     dtype == "ontario_drivers_license")
    for dtype, name, country, cc, state, fmt, keywords in rules.DOCUMENT_PATTERNS
]

_UNKNOWN = ("unknown", 0.0, None, None, "Unknown Document", [])


def _lookup(text: str, table: dict) -> str | None:
    return next((v for k, v in table.items() if k in text), None)


def _any(text: str, keywords: list[str]) -> bool:
    return any(k in text for k in keywords)


def detect(d: Doc) -> tuple:
    """DocumentTypeInfo of one document: (document_type, confidence,
    country, state_province, document_name, detected_features)."""
    # D1 full text (detector :584-590): the non-empty fields in schema
    # order, joined, then lower-cased
    ft = " ".join(filter(None, (getattr(d, n) for n in FIELD_NAMES))).lower()
    title = (d.document_title or "").lower()
    num_u = _trim(d.document_number or "").upper()
    num_c = _SEP.sub("", num_u)
    cc = (d.country_code or "").upper()
    country = rules.COUNTRY_CODES.get(cc)
    prov = _lookup(ft, _PROVINCE_NAMES) or _lookup(ft, rules.PROVINCE_ABBREV)
    state = _lookup(ft, _STATE_NAMES) or _lookup(ft, rules.US_STATE_ABBREV)

    # D2 keyword flags (detector :267-281), D4 country (:289-305). The
    # title is part of ft, so the reference's title tests for
    # "permanent" and "passport" reduce to ft tests, and its "government
    # of canada" test to "canada".
    passport_kw = _any(ft, rules.PASSPORT_KEYWORDS)
    dl_kw = _any(ft, rules.DL_KEYWORDS)
    is_canada = "canada" in ft or cc == "CAN" or prov is not None

    # D5: STEP 1 cascade, exact branch order (detector :314-473)
    if (_any(ft, rules.PR_CARD_KEYWORDS) or "permanent" in ft) and is_canada:
        return ("canada_pr_card", 0.9, "Canada", None, "Canada Permanent Residence Card",
                ["pr_card_keyword_found", "country: Canada"])
    if ((_any(ft, rules.PHOTO_ID_KEYWORDS)
         or _any(title, ["photo", "identification", "identity", "services card", "bcid"]))
            and not passport_kw and not dl_kw):
        if prov in rules.PHOTO_ID_TYPES:
            dtype, st, name = rules.PHOTO_ID_TYPES[prov]
            return (dtype, 0.9, "Canada", st, name,
                    ["photo_id_keyword_found", f"province: {prov}"])
        return ("generic_photo_id", 0.7, None, None, "Photo ID", ["photo_id_keyword_found"])
    # only the Ontario/ohip inner branch of the health-card rule returns
    if (_any(ft, rules.HEALTH_CARD_KEYWORDS) and not passport_kw
            and (prov == "ontario" or "ohip" in ft)):
        return ("ontario_health_card", 0.9, "Canada", "Ontario", "Ontario Health Card",
                ["health_card_keyword_found", "province: ontario"])
    if dl_kw and not passport_kw:
        if prov in rules.DL_TYPES:
            dtype, st, name = rules.DL_TYPES[prov]
            return (dtype, 0.85, "Canada", st, name, ["dl_keyword_found", f"province: {prov}"])
        if state in _US_DL:
            dtype, st, name, conf = _US_DL[state]
            return (dtype, conf, "United States", st, name,
                    ["dl_keyword_found", f"us_state: {state}"])
    if passport_kw:
        found = ["passport_keyword_found", f"country_code: {cc}"]
        if cc in _SPECIFIC_PASSPORTS:
            dtype, pcountry, name = _SPECIFIC_PASSPORTS[cc]
            return (dtype, 0.9, pcountry, None, name, found)
        if country is not None:  # generic passport by ISO code (:449-461)
            return (f"{country.replace(' ', '_').lower()}_passport", 0.85, country, None,
                    f"{country} Passport", found)
        if cc == "":
            return ("generic_passport", 0.75, None, None, "Passport",
                    ["passport_keyword_found", "no_country_code"])

    # D6: STEP 2, first document-number format that matches (:480-494)
    if num_c != "":
        for rx, pattern, dtype, pcountry, st, name in _FORMATS:
            if rx.search(num_u) or rx.search(num_c):
                return (dtype, 0.7, pcountry, st, name,
                        ["document_number_format_match", f"pattern: {pattern}"])

    # D7: STEP 3, pattern-match scoring (:497-554, :592-649); the first
    # strict maximum wins ties. The reference's 0.6 last resort
    # (:524-538: passport keyword + ISO code) is unreachable, since step
    # 1's ISO-passport branch takes every such document.
    addr = (d.address or "").lower()
    ont = next((i for i in _ONTARIO_ADDR_INDICATORS if i in addr or i in ft), None)
    best, best_score = None, -1.0
    for dtype, name, pcountry, pcc, st, fmt, keywords, bonus in _SCORED:
        cc_hit = cc == pcc
        fmt_hit = fmt is not None and fmt.search(num_u) is not None
        matched = [k for low, k in keywords if low in ft]
        ont_hit = bonus and ont is not None
        score = ((0.5 if cc_hit else 0.0) + (0.4 if fmt_hit else 0.0)
                 + (min(len(matched) * 0.15, 0.45) if matched else 0.0)
                 + (0.15 if ont_hit else 0.0))
        if score > best_score:
            feats = [f"country_code_match: {cc}"] if cc_hit else []
            feats += ["document_number_format_match"] if fmt_hit else []
            feats += [f"keywords_found: {', '.join(matched)}"] if matched else []
            feats += [f"ontario_address_indicator: {ont}"] if ont_hit else []
            best, best_score = (dtype, score, pcountry, st, name, feats), score
    return best if best_score >= 0.3 else _UNKNOWN


@row_udf(DOC_TYPE_INFO_TYPE)
def _doc_type(*fields: str | None) -> tuple:
    return detect(Doc(fields))


def doc_type_expr() -> Column:
    """The DocumentTypeInfo struct of the 13 field columns."""
    return _doc_type(*[F.col(n) for n in FIELD_NAMES])


def with_doc_type(df: DataFrame) -> DataFrame:
    """Append the ``doc_type`` struct column."""
    return df.withColumn("doc_type", doc_type_expr())
