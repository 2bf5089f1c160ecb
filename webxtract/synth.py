"""Deterministic synthetic Common-Crawl-style page corpus.

Produces the input table from BASELINE.json's input_hint —
``pages(url, warc_ts, html BINARY, text, lang)`` — together with
committed-golden expectations (byte-identical ``extracted_text`` per url,
planted field values, expected document type), per FIXTURES.md §1.

Everything is seeded (seed=42 convention) and all dates are relative to a
frozen ``run_date`` — the reference generates test dates relative to
``datetime.now()`` (test_canadian_dl_validators.py:25-37); we pin instead.

Row mix (by fraction of rows):
- ~2%  malformed binary payloads  -> parse-failure path
- ~5%  PDF-magic payloads         -> PDF page-extraction path
- ~10% pre-extracted ``text``     -> native-text fast path (E4 analog)
- rest HTML: ~35% ID-document record pages (labeled fields exercising
  type detection / fake scoring / validators), ~65% generic articles.

A handful of hosts are Zipf-hot so the skew/salting path has something
to chew on.
"""

from __future__ import annotations

import datetime as dt
import random
from html import escape as _escape
from dataclasses import dataclass, field

import pandas as pd

SEED = 42

_WORDS = (
    "the quick brown fox jumps over lazy dog stream table spark shuffle "
    "partition column vector batch arrow codegen filter project join scan "
    "window rank merge sort hash broadcast skew salt page crawl web index "
    "content article paragraph heading text span block density boiler "
    "plate nav footer link anchor extract parse token language quality "
    "signal corpus training data pipeline snapshot lineage audit resume"
).split()

_HOSTS = [f"host{i:02d}.example.org" for i in range(50)]
# Zipf-ish weights: rank-1 host ~25x hotter than rank-50.
_HOST_WEIGHTS = [1.0 / (i + 2) for i in range(50)]

_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_WEIGHTS = [0.60, 0.12, 0.10, 0.08, 0.10]

_FIRST_NAMES = [
    "JOHN", "SARAH", "ROBERT", "MARIE", "DAVID", "EMILY", "JAMES",
    "NICOLE", "ANNE", "PATRICK", "WEI", "CHLOE", "OMAR", "PRIYA",
]
_LAST_NAMES = [
    "SMITH", "JONES", "WILLIAMS", "TREMBLAY", "ANDERSON", "JOHNSON",
    "MACDONALD", "LEBLANC", "CAMPBELL", "OBRIEN", "CHEN", "GARCIA",
    "SINGH", "MULLER",
]
_STREETS = [
    # street names must not embed province-abbrev triggers like "on,"
    # or "ont" (document_type_detector.py:52-67) — "Addison," would
    # (correctly, per the reference cascade) flip a US doc to Ontario
    "742 Evergreen Terrace", "221B Baker Street", "1060 Crestwood Drive",
    "35 Maple Grove Ave", "900 Lakeshore Blvd",
]

# US-state templates must avoid surnames ending in "-ON": in
# "LASTNAME, FIRST" form they produce the "on," Ontario trigger.
_US_SAFE_LAST = [n for n in _LAST_NAMES if not n.lower().endswith("on")]


def luhn_check_digit(digits: str) -> int:
    """Standard Luhn mod-10 check digit for a digit string (the Ontario
    health-card checksum; reference ontario_health_card.py:28-59)."""
    total = 0
    # double every second digit from the right of the full number, i.e.
    # positions len-1, len-3, ... of the payload get doubled
    for i, ch in enumerate(reversed(digits)):
        d = int(ch)
        if i % 2 == 0:  # rightmost payload digit is doubled
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return (10 - total % 10) % 10


def ontario_dl_number(rnd: random.Random, last_name: str, dob: dt.date, gender: str) -> str:
    """Ontario DL number: first letter of surname + 4 digits - 5 digits -
    5 digits where the last 6 encode DOB as YYMMDD (female month +50)
    (reference ontario_dl.py:156-202, test_canadian_dl_validators.py:44-50)."""
    month = dob.month + 50 if gender == "F" else dob.month
    yymmdd = f"{dob.year % 100:02d}{month:02d}{dob.day:02d}"
    mid = rnd.randint(0, 99999)
    first4 = rnd.randint(0, 9999)
    return f"{last_name[0]}{first4:04d}-{mid:05d}-{yymmdd[0]}{yymmdd[1:]}"[:17]


@dataclass
class DocTemplate:
    """One ID-document archetype covering a detection-cascade branch."""

    key: str
    expected_type: str
    title: str
    keywords_line: str            # body line carrying detection keywords
    make_number: object           # callable (rnd, last, dob, gender) -> str
    country_code: str | None = None
    nationality: str | None = None
    province_line: str | None = None
    extra: dict = field(default_factory=dict)


def _num_const(fmt: str):
    def make(rnd: random.Random, last: str, dob: dt.date, gender: str) -> str:
        out = []
        for ch in fmt:
            if ch == "#":
                out.append(str(rnd.randint(0, 9)))
            elif ch == "@":
                out.append(chr(rnd.randint(65, 90)))
            elif ch == "L":
                out.append(last[0])
            else:
                out.append(ch)
        return "".join(out)

    return make


def _ontario_hc_number(rnd: random.Random, last: str, dob: dt.date, gender: str) -> str:
    payload = "".join(str(rnd.randint(0, 9)) for _ in range(9))
    return f"{payload}{luhn_check_digit(payload)}AB"


TEMPLATES: list[DocTemplate] = [
    DocTemplate(
        key="ontario_dl",
        expected_type="ontario_drivers_license",
        title="Ontario Driver's Licence",
        keywords_line="Driver licence issued under the laws of Ontario Canada",
        make_number=ontario_dl_number,
        province_line="Toronto, ON",
    ),
    DocTemplate(
        key="bc_dl",
        expected_type="bc_drivers_license",
        title="British Columbia Driver's Licence",
        keywords_line="Driver licence class 5 British Columbia Canada",
        make_number=_num_const("#######"),
        province_line="Vancouver, BC",
    ),
    DocTemplate(
        key="alberta_dl",
        expected_type="alberta_drivers_license",
        title="Alberta Driver's Licence",
        keywords_line="Driver licence class 5 Alberta Canada GDL",
        make_number=_num_const("######-###"),
        province_line="Calgary, AB",
    ),
    DocTemplate(
        key="quebec_dl",
        expected_type="quebec_drivers_license",
        title="Quebec Permis de Conduire",
        keywords_line="Permis de conduire classe 5 Quebec Canada",
        make_number=_num_const("L####-######-##"),
        province_line="Montreal, QC",
    ),
    DocTemplate(
        key="saskatchewan_dl",
        expected_type="saskatchewan_drivers_license",
        title="Saskatchewan Driver's Licence",
        keywords_line="Driver licence SGI Saskatchewan Canada",
        make_number=_num_const("########"),
        province_line="Saskatoon, SK",
    ),
    DocTemplate(
        key="nova_scotia_dl",
        expected_type="nova_scotia_drivers_license",
        title="Nova Scotia Driver's Licence",
        keywords_line="Driver licence class 5 Nova Scotia Canada",
        make_number=lambda rnd, last, dob, gender: (
            (last.replace(" ", "").replace("'", "") + "XXXXX")[:5] + "".join(str(rnd.randint(0, 9)) for _ in range(9))
        ),
        province_line="Halifax, NS",
    ),
    DocTemplate(
        key="ontario_health_card",
        expected_type="ontario_health_card",
        title="Ontario Health Card",
        keywords_line="Health card OHIP Ministry of Health Ontario Canada",
        make_number=_ontario_hc_number,
        province_line="Ottawa, ON",
    ),
    DocTemplate(
        key="ontario_photo_card",
        expected_type="ontario_photo_card",
        title="Ontario Photo Card",
        keywords_line="Photo card identification Ontario Canada",
        make_number=_num_const("@####-#####-#####"),
        province_line="Toronto, ON",
    ),
    DocTemplate(
        key="canada_pr_card",
        expected_type="canada_pr_card",
        title="Permanent Resident Card",
        keywords_line="Permanent resident card Government of Canada IRCC",
        make_number=_num_const("@@######"),
        country_code="CAN",
    ),
    DocTemplate(
        key="canadian_passport",
        expected_type="canadian_passport",
        title="Canadian Passport",
        keywords_line="Passport passeport Canada",
        make_number=_num_const("@@######"),
        country_code="CAN",
        nationality="Canadian",
    ),
    DocTemplate(
        key="us_passport",
        expected_type="us_passport",
        title="United States Passport",
        keywords_line="Passport United States of America",
        make_number=_num_const("#########"),
        country_code="USA",
        nationality="American",
    ),
    DocTemplate(
        key="india_passport",
        expected_type="india_passport",
        title="Republic of India Passport",
        keywords_line="Passport Republic of India",
        make_number=_num_const("@#######"),
        country_code="IND",
        nationality="Indian",
    ),
    DocTemplate(
        key="china_passport",
        expected_type="china_passport",
        title="China Passport",
        keywords_line="Passport People's Republic of China",
        make_number=_num_const("E########"),
        country_code="CHN",
        nationality="Chinese",
    ),
    DocTemplate(
        key="generic_passport_jpn",
        expected_type="japan_passport",
        title="Japan Passport",
        keywords_line="Passport Japan",
        make_number=_num_const("@@#######"),
        country_code="JPN",
        nationality="Japanese",
    ),
    DocTemplate(
        key="california_dl",
        expected_type="california_drivers_license",
        title="California Driver License",
        keywords_line="Driver license DMV State of California USA",
        make_number=_num_const("@#######"),
        province_line="Los Angeles, CA",
    ),
    DocTemplate(
        key="texas_dl",
        expected_type="texas_drivers_license",
        title="Texas Driver License",
        keywords_line="Driver license DPS State of Texas USA",
        make_number=_num_const("########"),
        province_line="Austin, TX",
    ),
    # ---- deliberately fake/specimen docs (fake-detector positives) ----
    DocTemplate(
        key="specimen_ontario_dl",
        expected_type="ontario_drivers_license",
        title="Ontario Driver's Licence SPECIMEN",
        keywords_line="SPECIMEN sample driver licence Ontario Canada void",
        make_number=_num_const("@####-#####-#####"),
        province_line="Toronto, ON",
        extra={"fake": True, "first_name": "JOHN", "last_name": "DOE"},
    ),
    DocTemplate(
        key="fake_sequential_passport",
        expected_type="us_passport",
        title="United States Passport",
        keywords_line="Passport United States of America",
        make_number=lambda rnd, last, dob, gender: "123456789",
        country_code="USA",
        extra={"fake": True, "first_name": "TEST", "last_name": "USER",
               "address": "123 Main Street, Springfield"},
    ),
]


def _paragraph(rnd: random.Random, lo: int = 8, hi: int = 28) -> str:
    n = rnd.randint(lo, hi)
    return " ".join(rnd.choice(_WORDS) for _ in range(n))


_FIELD_LABELS = [
    ("document_title", "Document Title"),
    ("full_name", "Full Name"),
    ("first_name", "First Name"),
    ("last_name", "Last Name"),
    ("document_number", "Document Number"),
    ("date_of_birth", "Date of Birth"),
    ("issue_date", "Issue Date"),
    ("expiry_date", "Expiry Date"),
    ("gender", "Gender"),
    ("address", "Address"),
    ("nationality", "Nationality"),
    ("country_code", "Country Code"),
    ("mrz", "MRZ"),
]

_EMPTY_FIELDS: dict[str, str | None] = {k: None for k, _ in _FIELD_LABELS}


def _doc_number_fake_score(number: str) -> float:
    """Pure-python replica of fake-check F3 (fake_document_detector.py:
    267-314), used so non-fake synthetic docs never carry a number that
    the detector would (correctly) flag."""
    import re as _re

    clean = _re.sub(r"[\s\-]", "", number.upper().strip())
    if not clean:
        return 0.0
    score = 0.0
    from webxtract.rules import FAKE_DOC_NUMBER_PATTERNS, KNOWN_SPECIMEN_DOC_NUMBERS

    if clean in KNOWN_SPECIMEN_DOC_NUMBERS:
        score += 1.0
    if any(_re.match(p, clean, _re.IGNORECASE) for p in FAKE_DOC_NUMBER_PATTERNS):
        score += 0.8
    if clean.isdigit() and len(clean) >= 5:
        inc = sum(1 for i in range(1, len(clean)) if int(clean[i]) == int(clean[i - 1]) + 1)
        dec = sum(1 for i in range(1, len(clean)) if int(clean[i]) == int(clean[i - 1]) - 1)
        ratio = max(inc, dec) / (len(clean) - 1)
        if ratio >= 0.5:
            score += 0.5
    return score


def _make_id_doc(rnd: random.Random, run_date: dt.date) -> tuple[list[str], dict]:
    """Build the labeled main-content blocks for one ID-document page and
    the planted field dict (the golden for the field parser)."""
    tpl = rnd.choice(TEMPLATES)
    last_pool = (
        _US_SAFE_LAST
        if tpl.expected_type in ("california_drivers_license", "texas_drivers_license")
        else _LAST_NAMES
    )
    first = tpl.extra.get("first_name", rnd.choice(_FIRST_NAMES))
    last = tpl.extra.get("last_name", rnd.choice(last_pool))
    if not tpl.extra.get("fake") and (first.lower(), last.lower()) in {
        ("john", "smith"), ("jane", "smith"), ("john", "doe"), ("jane", "doe")
    }:
        last = "WILLIAMS"  # don't let clean docs carry known fake name pairs
    gender = rnd.choice(["M", "F"])
    # ages 14..80 so age-tier validators see a mix of pass/warn/fail
    age_days = rnd.randint(14 * 365, 80 * 365)
    dob = run_date - dt.timedelta(days=age_days)
    issue = run_date - dt.timedelta(days=rnd.randint(30, 6 * 365))
    # mostly unexpired, ~15% expired
    if rnd.random() < 0.15:
        expiry = run_date - dt.timedelta(days=rnd.randint(1, 400))
    else:
        expiry = run_date + dt.timedelta(days=rnd.randint(20, 6 * 365))

    number = tpl.make_number(rnd, last, dob, gender)
    if not tpl.extra.get("fake"):
        for _ in range(50):  # keep clean docs clean of F3 triggers
            if _doc_number_fake_score(number) == 0.0:
                break
            number = tpl.make_number(rnd, last, dob, gender)

    fields = dict(_EMPTY_FIELDS)
    fields.update(
        document_title=tpl.title,
        full_name=f"{last}, {first}",
        first_name=first,
        last_name=last,
        document_number=number,
        date_of_birth=dob.isoformat(),
        issue_date=issue.isoformat(),
        expiry_date=expiry.isoformat(),
        gender=gender,
        nationality=tpl.nationality,
        country_code=tpl.country_code,
    )
    addr_city = tpl.province_line or "Midtown"
    fields["address"] = tpl.extra.get(
        "address", f"{rnd.choice(_STREETS)}, {addr_city}"
    )
    if "passport" in tpl.expected_type and rnd.random() < 0.7:
        fields["mrz"] = (
            f"P<{(tpl.country_code or 'XXX')}{last}<<{first}".ljust(44, "<")
        )

    blocks = [tpl.title, tpl.keywords_line]
    for key, label in _FIELD_LABELS:
        if fields[key]:
            blocks.append(f"{label}: {fields[key]}")
    fields["_expected_type"] = tpl.expected_type
    fields["_is_fake_doc"] = bool(tpl.extra.get("fake", False))
    return blocks, fields


def _render_html(rnd: random.Random, blocks: list[str], title: str) -> str:
    """Wrap main-content blocks in realistic boilerplate. Only ``blocks``
    must survive extraction (first block is rendered as <h1>)."""
    nav = "".join(
        f'<a href="/{w}">{w}</a> ' for w in rnd.sample(_WORDS, 6)
    )
    linkfarm = "".join(
        f'<a href="/t/{w}">{w} {rnd.choice(_WORDS)}</a>, '
        for w in rnd.sample(_WORDS, 8)
    )
    body_blocks = [f"<h1>{_escape(blocks[0])}</h1>"] + [
        f"<p>{_escape(b)}</p>" for b in blocks[1:]
    ]
    return (
        "<html><head><title>"
        + title
        + "</title><style>body{margin:0}</style></head><body>"
        + f"<nav>{nav}</nav><header><p>site of {rnd.choice(_WORDS)}</p></header>"
        + "<article>"
        + "".join(body_blocks)
        + "</article>"
        + f'<div class="related">{linkfarm}</div>'
        + "<p>ok</p>"  # sub-threshold junk block: must be dropped
        + f"<footer><p>copyright {rnd.choice(_WORDS)}</p></footer>"
        + "</body></html>"
    )


def _make_pdf_payload(rnd: random.Random) -> tuple[bytes, str, int, bool]:
    """Synthetic PDF-magic payload: ``%PDF-1.4`` header + ``%%PAGE n``
    markers. Page text = lines joined by \\n then stripped (the reference
    strips per page before the join, pdf_ocr.py:60); document text joins
    non-blank pages with \\n\\n (ocr.py:152).

    ~30% of PDFs are *scan-only*: their content lines carry the
    ``%%SCAN `` raster marker, invisible to the native text layer —
    these exercise the forced-OCR fallback (operators E3/E4,
    ocr.py:144-150). Returns (payload, expected_text, n_pages,
    scan_only)."""
    n_pages = rnd.randint(1, 4)
    scan_only = rnd.random() < 0.3
    page_texts: list[str] = []
    raw_parts = ["%PDF-1.4"]
    for p in range(1, n_pages + 1):
        raw_parts.append(f"%%PAGE {p}")
        if rnd.random() < 0.15:
            raw_parts.append("   ")  # blank page -> filtered from concat
            page_texts.append("")
        else:
            lines = [_paragraph(rnd, 5, 14) for _ in range(rnd.randint(1, 3))]
            if scan_only:
                raw_parts.extend("%%SCAN " + line for line in lines)
            else:
                raw_parts.extend(lines)
            page_texts.append("\n".join(lines).strip())
    expected = "\n\n".join(t for t in page_texts if t)
    return "\n".join(raw_parts).encode("utf-8"), expected, n_pages, scan_only


def gen_pages(n_rows: int, run_date: dt.date | str, seed: int = SEED) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Generate (pages, expected) pandas frames.

    ``pages``   : url, warc_ts, html(bytes), text, lang
    ``expected``: url, extracted_text, source_kind, parse_failure,
                  n_pages, the 13 planted field columns (null for
                  non-ID pages), expected_doc_type, is_fake_doc.
    """
    if isinstance(run_date, str):
        run_date = dt.date.fromisoformat(run_date)
    base_ts = dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc)

    pages_rows: list[dict] = []
    expected_rows: list[dict] = []
    for i in range(n_rows):
        rnd = random.Random(seed * 1_000_003 + i)
        host = rnd.choices(_HOSTS, weights=_HOST_WEIGHTS, k=1)[0]
        url = f"https://{host}/p/{i:08d}"
        ts = base_ts + dt.timedelta(seconds=i * 37 % 86_400, days=i % 30)
        lang = rnd.choices(_LANGS, weights=_LANG_WEIGHTS, k=1)[0]

        r = rnd.random()
        html: bytes | None = None
        text: str | None = None
        exp: dict = {
            "url": url,
            "extracted_text": None,
            "source_kind": "none",
            "parse_failure": True,
            "n_pages": 0,
            "expected_doc_type": None,
            "is_fake_doc": False,
            **{k: None for k, _ in _FIELD_LABELS},
        }

        if r < 0.005:  # no payload at all -> quarantine path
            pass
        elif r < 0.02:  # malformed binary -> html path, parse failure
            html = bytes(rnd.randrange(256) for _ in range(rnd.randint(40, 200)))
            if html.startswith(b"%PDF-") or b"<" in html:
                html = b"\x00\x01" + html  # keep it unparseable
            exp["source_kind"] = "html"
        elif r < 0.07:  # synthetic PDF (native-text or scan-only)
            html, expected_text, n_pages, scan_only = _make_pdf_payload(rnd)
            exp.update(
                extracted_text=expected_text or None,
                source_kind="pdf_ocr" if (scan_only and expected_text) else "pdf",
                parse_failure=not expected_text,
                n_pages=n_pages,
            )
        elif r < 0.17:  # pre-extracted native text
            text = "\n\n".join(_paragraph(rnd) for _ in range(rnd.randint(1, 4)))
            exp.update(
                extracted_text=text,
                source_kind="text",
                parse_failure=False,
                n_pages=1,
            )
        else:  # HTML page
            if rnd.random() < 0.35:
                blocks, fields = _make_id_doc(rnd, run_date)
                exp["expected_doc_type"] = fields.pop("_expected_type")
                exp["is_fake_doc"] = fields.pop("_is_fake_doc")
                for k, v in fields.items():
                    exp[k] = v
            else:
                n_para = rnd.randint(2, 6)
                blocks = [
                    " ".join(rnd.choice(_WORDS) for _ in range(rnd.randint(3, 7))).title()
                ] + [_paragraph(rnd) for _ in range(n_para)]
            html = _render_html(rnd, blocks, blocks[0]).encode("utf-8")
            exp.update(
                extracted_text="\n\n".join(blocks),
                source_kind="html",
                parse_failure=False,
                n_pages=1,
            )

        pages_rows.append(
            {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}
        )
        expected_rows.append(exp)

    pages = pd.DataFrame(pages_rows)
    expected = pd.DataFrame(expected_rows)
    return pages, expected


def to_parquet(df: pd.DataFrame, path: str, chunk_rows: int | None = None) -> None:
    """Write a frame with Spark-compatible (microsecond) timestamps.

    With ``chunk_rows`` set, writes a DIRECTORY of part files so Spark
    gets real input splits — a single pandas-written file has one giant
    row group and caps scan parallelism at ~1 task (a crawl corpus is
    thousands of files; tests/bench must simulate that)."""
    kwargs = dict(index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)
    if chunk_rows is None:
        df.to_parquet(path, **kwargs)
        return
    import os

    os.makedirs(path, exist_ok=True)
    for i, start in enumerate(range(0, len(df), chunk_rows)):
        df.iloc[start:start + chunk_rows].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), **kwargs
        )


def write_corpus(out_dir: str, n_rows: int, run_date: str, seed: int = SEED) -> None:
    """Write pages.parquet (chunked dir) + expected.parquet under
    ``out_dir``."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    pages, expected = gen_pages(n_rows, run_date, seed)
    chunk = max(256, n_rows // 128)  # ~128 part files at any scale
    to_parquet(pages, os.path.join(out_dir, "pages.parquet"), chunk_rows=chunk)
    to_parquet(expected, os.path.join(out_dir, "expected.parquet"))
