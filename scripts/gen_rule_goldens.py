"""Build the rule fuzz table and write its detection / fake goldens.

The table reaches every branch of document-type detection (D1-D8: PR
card, photo ID per province and generic, Ontario health card, Canadian
DL per province and abbreviation, US DL per state and abbreviation,
specific / ISO / generic passports, every D6 number format, D7 scoring
winners incl. the Ontario-address bonus, unknown) and every fake check
(F1-F6), plus the Spark string-semantics traps the rules must keep:
CR / LF / NBSP / U+0085 / U+2028 in values, tabs (Spark's ``trim``
strips spaces only), astral characters, non-ASCII digits (Java ``\\d``
is ASCII), ``İ`` / ``ß`` case mapping, ``''`` versus NULL, year strings
that ``try_cast`` rejects, and the HALF_UP ``round`` of the fake
confidence. A seeded random section recombines the same values.

Usage (from the repo root):

    python scripts/gen_rule_goldens.py [out_path]

It runs ``with_doc_type`` and ``with_fake_detection`` over the table on
a local Spark session and writes one JSON object per row:
``{"id", "extracted_text", <13 fields>, "doc_type", "fake_detection"}``,
leaving out the inputs that are NULL.
The committed ``tests/data/rule_goldens.jsonl`` was produced by the
Catalyst-expression forms of detection and fake scoring that preceded
the rule kernel; ``tests/test_rule_goldens.py`` checks that the kernel
reproduces it byte for byte.
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webxtract import rules  # noqa: E402
from webxtract.schemas import FIELD_NAMES  # noqa: E402

OUT = "tests/data/rule_goldens.jsonl"

# Values that Spark and Python treat differently unless the kernel
# reproduces Spark's semantics.
TRAPS = [
    None, "", " ", "  \t ", "\t", "\r\n", "x\ry", "a\nb", " ", "\u0085",
    " ", "　", "İ", "ß", "STRAßE", "İSTANBUL", "ΣΑΣ", "𝒜lice",
    "😀😀😀😀", "١٢٣٤٥٦٧٨٩", "１２３４５", "Ⅻ", "ǅ", "ﬁ",
]

DATES = [
    "1990-05-17", "2031-05-17", "2021-05-17", "1985-01-01", "2026-02-01",
    "17/05/1990", "05/17/1990", "1990/05/17", "17-05-1990", "17.05.1990",
    "1990-May-17", "1990-may-17", "May 17, 1990", "17 May 1990",
    "1900-05-05", "1901-02-03", "1911-11-11", "1919-12-31", "1920-01-01",
    "05/06/1900", "1900/05/06", "12/34", "abcd-01-01", "\t1900-01-01",
    "+1900-01-01", "1900.5-01-01", "１９００-01-01", "99999999999-01-01",
    " 1900-01-01 ", "1900 -01-01", "0x10-01-01", "1e3-01-01", "-", "/",
    "1900/", "/1900", "-1900-01-01", "0000-01-01", "1900\u0085-01-01",
    "٣-01-01", *rules.SUSPICIOUS_DATES,
]

NUMBERS = [
    "A1234-12345-12345", "S1234-56789-01234", "NDL:123456", "dl123456",
    "123456-789", "123456789", "A1234-567890-12", "12345678",
    "ABCDE123456789", "1234567", "A123456789", "1234567890AB", "AB123456",
    "A1234567", "a1234567", "A 1234567", "A-1234567", " A1234567 ",
    "A1234567\n", "A1234567\u0085", "A1234567 ", "A\t1234567",
    "A 1234567", "12", "123", "12345", "54321", "98765432", "12346",
    "13579", "11111", "12000", "12311", "1234", "0123456789", "12345\u0085",
    "12 34-5", "AB1234567", "ABC123XYZ", "A12345678", "E12345678",
    "AB1234567X", "XXXX", "X000000", "SAMPLE12", "test", "spec99",
    "١٢٣٤٥٦٧", "１２３４５６７", "ßA123456", "5584486674", "5584486673",
    *rules.KNOWN_SPECIMEN_DOC_NUMBERS,
]

NAMES = [
    "John", "Doe", "JOHN", "Johnny", "Doesmith", "John\t", "  John ",
    "Jane", "Smith", "Max", "Mustermann", "Sample", "Person", "aaaa",
    "AAAA", "abab", "aa aa", "aab", "ßßßß", "İİİİ", "😀😀😀😀", "Public",
    "Wei", "Chen", "Marie-Ève", "O'Brien", "Anonymous", "q",
]

ADDRESSES = [
    "123 Main Street West", "123 MAIN ST", "88 Harbour View Road",
    "1 Anytown Lane", "\t123 fake st", "Springfield", "12345 Main",
    "Toronto, ON M5V 2T6", "Ottawa", "Mississauga", "Montreal, QC",
    "Sacramento, State of California DMV office", "Austin, TX 73301",
    "Calgary, Alberta", "Québec", "QUÉBEC", "Vancouver, BC V6B",
    "Kanata on K2K", "Halifax, NS", *rules.FAKE_ADDRESS_PATTERNS,
]

MRZ = [
    "P<CANSPECIMEN<<JOHN<<<<<<<<<<<<<<<<<<<<<<<<", "p<xxxidentity<<sample<<<",
    "IDDOEDOE<<", "P<USAJOHNJOHN<<", "doedoe", "P<CANMARTIN<<SARAH<<<<<",
]

TITLES = [
    "Passport", "Passport Card", "Permanent Resident Card", "PR CARD",
    "Carte de résident permanent", "PERMANENT RESİDENT CARD", "Photo Card",
    "BC Services Card", "BCID", "Identity Document", "Identification",
    "Health Card", "OHIP", "Driver's Licence", "Driver License",
    "Permis de conduire", "Passport permanent", "Article", "SPECIMEN Sample Card",
]

COUNTRY_CODES = [
    "CAN", "USA", "GBR", "IND", "AUS", "DEU", "FRA", "NGA", "CHN", "COL",
    "UKR", "JPN", "CIV", "GNB", "COD", "KNA", "VCT", "ARE", "BIH", "usa",
    "XYZ", "CAN ", " CAN",
]


def _row(text=None, **fields):  # noqa: ANN001, ANN003, ANN202
    unknown = set(fields) - set(FIELD_NAMES)
    assert not unknown, unknown
    return {"extracted_text": text, **{n: fields.get(n) for n in FIELD_NAMES}}


def fuzz_rows() -> list[dict]:
    rows = []
    add = rows.append

    # ---- unknown / empty
    add(_row())
    add(_row(text="", **{n: "" for n in FIELD_NAMES}))
    add(_row(text="A plain article about spark shuffles."))
    for v in TRAPS:
        add(_row(text=v, **{n: v for n in FIELD_NAMES}))

    # ---- D5 step 1a: PR card
    for title, extra in [
        ("Permanent Resident Card", {"country_code": "CAN"}),
        ("PR CARD", {"address": "Toronto, ON M5V"}),
        ("Carte de résident permanent", {"nationality": "Canada"}),
        ("résident permanent", {"address": "Gouvernement du Canada"}),
        ("PERMANENT RESİDENT CARD", {"nationality": "CANADA"}),
        ("IRCC", {}),
        ("IRCC", {"country_code": "CAN"}),
        ("Resident card passport", {"country_code": "CAN"}),
        ("Document", {"nationality": "permanent", "address": "Alberta"}),
    ]:
        add(_row(document_title=title, **extra))

    # ---- 1b: photo ID per province, generic, and its exclusions
    for prov in ["Ontario", "British Columbia", "Alberta", "Quebec", None]:
        add(_row(document_title="Photo Card", address=prov))
    for title in ["BC Services Card", "BCID", "Identity Document",
                  "Identification", "Photo ID passport", "Photo card driver"]:
        add(_row(document_title=title, address="Vancouver, BC V6B"))

    # ---- 1c: health card
    for title, addr in [("Health Card", "Toronto, Ontario"), ("OHIP", None),
                        ("Health Card", "Calgary, Alberta"),
                        ("Health insurance passport", "Ontario"),
                        ("Carte santé", "Montreal, QC")]:
        add(_row(document_title=title, address=addr, document_number="1234567890AB"))

    # ---- 1d: Canadian DL by full name and by abbreviation, then US DL
    for key in rules.DL_TYPES:
        add(_row(document_title="Driver's Licence", address=f"1 Rue, {key.title()}"))
    for addr in ["Québec", "QUÉBEC", "Montreal", "Queen Street", "Kanata", None]:
        add(_row(document_title="Driver's Licence", address=addr))
    for abbrev in rules.PROVINCE_ABBREV:
        add(_row(document_title="Operator licence", address=f"Town{abbrev}Zip"))
    for state in rules.US_STATE_MAPPING:
        add(_row(document_title="Driver License", address=f"City, {state.title()}"))
    for abbrev in rules.US_STATE_ABBREV:
        add(_row(document_title="driver license", address=f"City{abbrev.upper()}99"))
    add(_row(document_title="Driver License", address="Ontario, California"))
    add(_row(document_title="Driver License passport", address="Texas"))

    # ---- 1e: passports — specific, ISO generic, no code, non-ISO code
    for cc in COUNTRY_CODES + [None, ""]:
        add(_row(document_title="Passport", country_code=cc))
    for kw in ["PASSEPORT", "pasaporte", "REISEPASS", "паспорт", "ПАСПОРТ",
               "Passport No", "passport number"]:
        add(_row(nationality=kw, country_code="JPN"))
        add(_row(nationality=kw))
    add(_row(document_title="Passport permanent", country_code="USA"))
    add(_row(document_title="passport", country_code="XYZ", document_number="123456789"))

    # ---- D6: every format, plus cleaning / Java-regex traps
    for number in NUMBERS:
        add(_row(document_number=number))

    # ---- D7: keyword scoring per pattern, format hits, cc hits, ties
    for dtype, _name, _country, cc, _state, fmt, keywords in rules.DOCUMENT_PATTERNS:
        for k in range(1, len(keywords) + 1):
            add(_row(nationality=" / ".join(keywords[:k])))
        add(_row(address=" ".join(keywords[:2]), country_code=cc))
    for addr in ["Class G1 Ottawa", "class g class g1 mississauga",
                 "Ontario class g", "class g, on", "class g1 on, canada",
                 "ministry of health carte santé", "dmv driver license",
                 "dmv", "nouveau-brunswick nb", "sgi sk", "yk yt"]:
        add(_row(address=addr))
    for cc in ["USA", "GBR", "CAN", "UKR", "NGA"]:
        add(_row(country_code=cc))
        add(_row(country_code=cc, document_number="123456789"))

    # ---- F1-F6
    for kw in rules.SPECIMEN_KEYWORDS:
        add(_row(text=f"Card text {kw.upper()} here"))
        add(_row(document_title=kw))
    add(_row(text="specimen sample void", mrz="SAMPLE"))
    for f, l in rules.FAKE_NAME_PAIRS:
        add(_row(first_name=f.title(), last_name=l.title()))
        add(_row(first_name=f"x{f}y", last_name=f"{l}z"))
    for s in rules.FAKE_SINGLE_NAMES:
        add(_row(full_name=f"Mr {s.upper()} Person"))
    for first in NAMES:
        for last in ["Wong", "aaaa", "Doe"]:
            add(_row(first_name=first, last_name=last))
    for pattern in rules.FAKE_ADDRESS_PATTERNS:
        add(_row(address=pattern.upper() + " Street"))
    for mrz in MRZ:
        add(_row(mrz=mrz))
    for d in DATES:
        add(_row(date_of_birth=d))
        add(_row(issue_date=d, expiry_date=d))

    # ---- seeded recombination of every pool
    pools = {
        "first_name": NAMES + TRAPS, "last_name": NAMES + TRAPS,
        "full_name": NAMES + ["SMITH, JOHN", "Doe, Jane", ","] + TRAPS,
        "document_number": NUMBERS + TRAPS, "date_of_birth": DATES + TRAPS,
        "issue_date": DATES, "expiry_date": DATES, "gender": ["M", "F", "X", None],
        "address": ADDRESSES + TRAPS, "nationality": ["Canadian", "CANADA", None],
        "mrz": MRZ + [None], "country_code": COUNTRY_CODES + [None],
        "document_title": TITLES + TRAPS,
    }
    texts = [None, "", "specimen", "Government of Canada passport", "VOID copy"]
    rnd = random.Random(20260115)
    for _ in range(500):
        fields = {n: rnd.choice(pools[n]) if rnd.random() < 0.7 else None for n in FIELD_NAMES}
        add(_row(text=rnd.choice(texts), **fields))

    return [{"id": i, **r} for i, r in enumerate(rows)]


def main(out: str = OUT) -> None:
    from webxtract.ops.detect_type import with_doc_type
    from webxtract.ops.fake import with_fake_detection
    from webxtract.session import get_spark

    spark = get_spark("gen-rule-goldens", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.enabled": "false"})
    rows = fuzz_rows()
    schema = "id int, extracted_text string, " + ", ".join(f"{n} string" for n in FIELD_NAMES)
    df = spark.createDataFrame([tuple(r.values()) for r in rows], schema)
    df = with_fake_detection(with_doc_type(df), raw_text_col="extracted_text")
    got = {r["id"]: r.asDict(recursive=True)
           for r in df.select("id", "doc_type", "fake_detection").collect()}
    os.makedirs(os.path.dirname(out) or ".", exist_ok=True)
    with open(out, "w", encoding="ascii") as fh:
        for r in rows:
            g = got[r["id"]]
            given = {k: v for k, v in r.items() if v is not None}
            fh.write(json.dumps({**given, "doc_type": g["doc_type"],
                                 "fake_detection": g["fake_detection"]}) + "\n")
    print(f"{len(rows)} rows -> {out}")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
