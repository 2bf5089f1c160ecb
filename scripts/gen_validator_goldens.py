"""Generate byte-exact validator-message goldens from the reference.

Runs the reference's own validator classes (/root/reference/app/
services/validators/*) in-process over the 21 ported cases from
tests/test_rules_pipeline.py, with datetime.now() frozen to the pinned
RUN_DATE and the external Verifik client in its disabled default, and
prints a dict {case: {validator_name: (status, message)}} to embed in
tests/test_validator_messages.py.

This is a build-time audit tool, not part of the library: it imports
the reference for ground truth, it does not copy it. pydantic/httpx
(absent here) are stubbed with minimal shims — the validators only use
BaseModel attribute assignment.
"""

from __future__ import annotations

import asyncio
import datetime as dt
import json
import pprint
import sys
import types

REFERENCE = "/root/reference"
RUN_DATE = "2026-01-15"


def canon_details(d) -> dict:  # noqa: ANN001
    """Canonicalize a reference details dict to the MAP<STRING,STRING>
    the battery kernel emits (webxtract/ops/validators.py, module docstring):
    bool -> true/false, round(x,1) floats -> %.1f, ints -> str,
    list[str] -> '; '-joined, list[dict] -> compact JSON."""
    out = {}
    for k, v in (d or {}).items():
        if isinstance(v, bool):
            out[k] = "true" if v else "false"
        elif isinstance(v, float):
            out[k] = f"{v:.1f}"
        elif isinstance(v, int):
            out[k] = str(v)
        elif isinstance(v, list):
            if v and isinstance(v[0], dict):
                out[k] = json.dumps(v, separators=(",", ":"))
            else:
                out[k] = "; ".join(str(x) for x in v)
        else:
            out[k] = str(v)
    return out


def _install_stubs() -> None:
    pyd = types.ModuleType("pydantic")

    class BaseModel:
        def __init__(self, **kw):  # noqa: ANN003
            for k, v in kw.items():
                setattr(self, k, v)

    def Field(default=None, default_factory=None, **_kw):  # noqa: ANN001, ANN003, N802
        if default_factory is not None:
            return default_factory()
        return default

    pyd.BaseModel = BaseModel
    pyd.Field = Field
    sys.modules["pydantic"] = pyd

    httpx = types.ModuleType("httpx")
    httpx.AsyncClient = object
    sys.modules["httpx"] = httpx


class _FrozenDatetime(dt.datetime):
    @classmethod
    def now(cls, tz=None):  # noqa: ANN001
        return cls.fromisoformat(RUN_DATE + "T00:00:00")


def _freeze(module) -> None:  # noqa: ANN001
    if getattr(module, "datetime", None) is dt.datetime:
        module.datetime = _FrozenDatetime


def family_cases() -> list[tuple[str, str, dict]]:
    """(case, validator_name, document_data) battery for the passport /
    PR-card / photo-ID / health-card / US-DL validators, designed to
    hit every message-bearing branch."""
    run = dt.date.fromisoformat(RUN_DATE)

    def d(days: int) -> str:
        return (run + dt.timedelta(days=days)).isoformat()

    def y(years: float) -> int:
        return int(years * 365.25)

    adult = {"date_of_birth": d(-y(30)), "issue_date": d(-y(2)),
             "expiry_date": d(-y(2) + y(10))}
    child = {"date_of_birth": d(-y(12)), "issue_date": d(-y(2)),
             "expiry_date": d(-y(2) + y(10))}

    pp = {
        "us_passport": ("123456789", "12345678", "12", "USA"),
        "uk_passport": ("987654321", "1234567890", "12", "GBR"),
        "india_passport": ("A1234567", "A123456B", "12", "IND"),
        "australia_passport": ("N1234567", "N12345678", "12", "AUS"),
        "germany_passport": ("C01X00T47", None, "12", "DEU"),
        "france_passport": ("12AB34567", "AB1234567", "12", "FRA"),
        "nigeria_passport": ("A12345678", "AB2345678", "12", "NGA"),
        "china_passport": ("E12345678", "E1234567X", "12", "CHN"),
        "colombia_passport": ("AZ573250", "AZ12345X", "12", "COL"),
        "ukraine_passport": ("AA123456", "AB12345X", "12", "UKR"),
    }
    cases: list[tuple[str, str, dict]] = []
    for name, (valid, near, bad, cc) in pp.items():
        base = {"country_code": cc}
        cases.append((f"{name}_valid", name,
                      {**base, "document_number": valid, **adult}))
        if near:
            cases.append((f"{name}_near", name,
                          {**base, "document_number": near}))
        cases.append((f"{name}_invalid", name,
                      {**base, "document_number": bad}))
        cases.append((f"{name}_child_window", name,
                      {**base, "document_number": valid, **child}))
        cases.append((f"{name}_expiring", name,
                      {**base, "document_number": valid,
                       "issue_date": d(-y(10) + 90), "expiry_date": d(90)}))
        cases.append((f"{name}_ccmismatch", name,
                      {"country_code": "ZZZ", "document_number": valid, **adult}))
    cases += [
        ("germany_invalid_letters", "germany_passport",
         {"country_code": "DEU", "document_number": "A1234567I"}),
        ("china_noage_window", "china_passport",
         {"country_code": "CHN", "document_number": "E12345678",
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(7))}),
        ("ukraine_noage_window", "ukraine_passport",
         {"country_code": "UKR", "document_number": "AA123456",
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(7))}),
        ("nigeria_window", "nigeria_passport",
         {"country_code": "NGA", "document_number": "A12345678",
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(7))}),
        ("colombia_window", "colombia_passport",
         {"country_code": "COL", "document_number": "AZ573250",
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(7))}),
        # canadian passport
        ("canadian_valid", "canadian_passport",
         {"document_number": "AB123456", **adult}),
        ("canadian_child_window", "canadian_passport",
         {"document_number": "AB123456", **child}),
        ("canadian_noage_long", "canadian_passport",
         {"document_number": "AB123456",
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(12))}),
        ("canadian_unreal_age", "canadian_passport",
         {"document_number": "AB123456", "date_of_birth": "1880-01-01"}),
        ("canadian_pre1985", "canadian_passport",
         {"document_number": "AB123456",
          "issue_date": "1980-06-01", "expiry_date": "1990-06-01"}),
        # generic passport
        ("generic_valid_greece", "generic_passport",
         {"country_code": "GRC", "document_number": "X123456", **adult}),
        ("generic_no_cc", "generic_passport",
         {"document_number": "X123456", **adult}),
        ("generic_bad_cc", "generic_passport",
         {"country_code": "XXX", "document_number": "X123456", **adult}),
        ("generic_short_number", "generic_passport",
         {"country_code": "GRC", "document_number": "AB1", **adult}),
        ("generic_long_number", "generic_passport",
         {"country_code": "GRC", "document_number": "ABCDE123456789", **adult}),
        ("generic_short_validity", "generic_passport",
         {"country_code": "GRC", "document_number": "X123456",
          "issue_date": d(-90), "expiry_date": d(90)}),
        ("generic_long_validity", "generic_passport",
         {"country_code": "GRC", "document_number": "X123456",
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(13))}),
        # PR card
        ("pr_valid", "canada_pr_card",
         {"document_number": "AB123456", "date_of_birth": d(-y(30)),
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(5))}),
        ("pr_bad_format", "canada_pr_card",
         {"document_number": "123456", "date_of_birth": d(-y(30))}),
        ("pr_under18", "canada_pr_card",
         {"document_number": "AB123456", "date_of_birth": d(-y(15))}),
        ("pr_expiring_soon", "canada_pr_card",
         {"document_number": "AB123456", "issue_date": d(-y(5) + 100),
          "expiry_date": d(100)}),
        ("pr_expiring_year", "canada_pr_card",
         {"document_number": "AB123456", "issue_date": d(-y(5) + 300),
          "expiry_date": d(300)}),
        ("pr_short_validity", "canada_pr_card",
         {"document_number": "AB123456", "issue_date": d(-y(1)),
          "expiry_date": d(-y(1) + y(3))}),
        ("pr_long_validity", "canada_pr_card",
         {"document_number": "AB123456", "issue_date": d(-y(1)),
          "expiry_date": d(-y(1) + y(7))}),
        ("pr_expired", "canada_pr_card",
         {"document_number": "AB123456", "expiry_date": d(-40)}),
        # photo id
        ("photo_valid", "generic_photo_id",
         {"document_number": "AB12345", "date_of_birth": d(-y(30)),
          "issue_date": d(-y(1)), "expiry_date": d(-y(1) + y(5))}),
        ("photo_short_number", "generic_photo_id",
         {"document_number": "AB1"}),
        ("photo_expired", "generic_photo_id",
         {"document_number": "AB12345", "expiry_date": d(-25)}),
        ("photo_expiring", "generic_photo_id",
         {"document_number": "AB12345", "issue_date": d(-y(5) + 10),
          "expiry_date": d(10)}),
        ("photo_short_validity", "generic_photo_id",
         {"document_number": "AB12345", "issue_date": d(-90),
          "expiry_date": d(90)}),
        ("photo_long_validity", "generic_photo_id",
         {"document_number": "AB12345", "issue_date": d(-y(1)),
          "expiry_date": d(-y(1) + y(12))}),
        # health card
        ("health_valid", "ontario_health_card",
         {"document_number": "5584486673AB", "date_of_birth": d(-y(30)),
          "expiry_date": d(y(2))}),
        ("health_luhn_fail", "ontario_health_card",
         {"document_number": "5584486674AB", "expiry_date": d(y(2))}),
        ("health_bad_version", "ontario_health_card",
         {"document_number": "5584486673AU", "expiry_date": d(y(2))}),
        ("health_no_version", "ontario_health_card",
         {"document_number": "5584486673", "expiry_date": d(y(2))}),
        ("health_old_style", "ontario_health_card",
         {"document_number": "5584486673"}),
        ("health_bad_format", "ontario_health_card",
         {"document_number": "12345"}),
        ("health_expiring", "ontario_health_card",
         {"document_number": "5584486673AB", "expiry_date": d(45)}),
        ("health_expired", "ontario_health_card",
         {"document_number": "5584486673AB", "expiry_date": d(-30)}),
        # US DL
        ("usdl_ca_valid", "us_drivers_license",
         {"address": "123 Sunset Blvd, Los Angeles, CALIFORNIA",
          "document_number": "S1234567", "last_name": "Smith",
          "date_of_birth": d(-y(30)), "issue_date": d(-y(1)),
          "expiry_date": d(-y(1) + y(5))}),
        ("usdl_ca_bad_number", "us_drivers_license",
         {"address": "Los Angeles, CALIFORNIA", "document_number": "12"}),
        ("usdl_generic", "us_drivers_license",
         {"document_number": "XYZW123456789"}),
        ("usdl_letter_mismatch", "us_drivers_license",
         {"address": "Los Angeles, CALIFORNIA",
          "document_number": "A1234567", "last_name": "Smith"}),
        ("usdl_underage", "us_drivers_license",
         {"address": "Los Angeles, CALIFORNIA", "document_number": "S1234567",
          "last_name": "Smith", "date_of_birth": d(-y(14))}),
        ("usdl_long_validity", "us_drivers_license",
         {"address": "Los Angeles, CALIFORNIA", "document_number": "S1234567",
          "last_name": "Smith", "issue_date": d(-y(1)),
          "expiry_date": d(-y(1) + y(9))}),
        ("usdl_expired", "us_drivers_license",
         {"document_number": "XYZW123456789", "expiry_date": d(-15)}),
    ]
    return cases


def main() -> None:
    _install_stubs()
    sys.path.insert(0, REFERENCE)

    from app.services.validators import (  # noqa: PLC0415
        age_validator, alberta_dl, base, bc_dl, data_consistency,
        document_expiry, document_format, face_matching, manitoba_dl,
        new_brunswick_dl, newfoundland_dl, nova_scotia_dl, nunavut_dl,
        nwt_dl, ontario_dl, pei_dl, quebec_dl, saskatchewan_dl, yukon_dl,
    )

    modules = [
        age_validator, alberta_dl, base, bc_dl, data_consistency,
        document_expiry, document_format, face_matching, manitoba_dl,
        new_brunswick_dl, newfoundland_dl, nova_scotia_dl, nunavut_dl,
        nwt_dl, ontario_dl, pei_dl, quebec_dl, saskatchewan_dl, yukon_dl,
    ]
    for m in modules:
        _freeze(m)

    type_validators = {
        v.name: v
        for v in [
            ontario_dl.OntarioDriversLicenseValidator(),
            bc_dl.BCDriversLicenseValidator(),
            alberta_dl.AlbertaDriversLicenseValidator(),
            quebec_dl.QuebecDriversLicenseValidator(),
            manitoba_dl.ManitobaDriversLicenseValidator(),
            saskatchewan_dl.SaskatchewanDriversLicenseValidator(),
            nova_scotia_dl.NovaScotiaDriversLicenseValidator(),
            new_brunswick_dl.NewBrunswickDriversLicenseValidator(),
            pei_dl.PEIDriversLicenseValidator(),
            newfoundland_dl.NewfoundlandDriversLicenseValidator(),
            nwt_dl.NWTDriversLicenseValidator(),
            nunavut_dl.NunavutDriversLicenseValidator(),
            yukon_dl.YukonDriversLicenseValidator(),
        ]
    }
    base_validators = [
        data_consistency.DataConsistencyValidator(),
        document_expiry.DocumentExpiryValidator(),
        age_validator.AgeValidator(),
        document_format.DocumentFormatValidator(),
        face_matching.FaceMatchingValidator(),
    ]

    sys.path.insert(0, "/root/repo")
    from tests.test_rules_pipeline import VALIDATOR_CASES  # noqa: PLC0415

    if "--family" in sys.argv:
        from app.services.validators import (  # noqa: PLC0415
            canada_pr_card, canadian_passport, generic_passport,
            generic_photo_id, ontario_health_card, us_drivers_license,
        )
        from app.services.validators import (  # noqa: PLC0415
            australia_passport, china_passport, colombia_passport,
            france_passport, germany_passport, india_passport,
            nigeria_passport, uk_passport, ukraine_passport, us_passport,
        )

        fam_modules = [
            canada_pr_card, canadian_passport, generic_passport,
            generic_photo_id, ontario_health_card, us_drivers_license,
            australia_passport, china_passport, colombia_passport,
            france_passport, germany_passport, india_passport,
            nigeria_passport, uk_passport, ukraine_passport, us_passport,
        ]
        for m in fam_modules:
            _freeze(m)
        fam_validators = {
            v.name: v
            for v in [
                us_passport.USPassportValidator(),
                uk_passport.UKPassportValidator(),
                india_passport.IndiaPassportValidator(),
                australia_passport.AustraliaPassportValidator(),
                germany_passport.GermanyPassportValidator(),
                france_passport.FrancePassportValidator(),
                nigeria_passport.NigeriaPassportValidator(),
                china_passport.ChinaPassportValidator(),
                colombia_passport.ColombiaPassportValidator(),
                ukraine_passport.UkrainePassportValidator(),
                canadian_passport.CanadianPassportValidator(),
                generic_passport.GenericPassportValidator(),
                canada_pr_card.CanadaPRCardValidator(),
                generic_photo_id.GenericPhotoIDValidator(),
                ontario_health_card.OntarioHealthCardValidator(),
                us_drivers_license.USDriversLicenseValidator(),
            ]
        }
        goldens: dict[str, tuple[str, str, str, dict]] = {}
        for case, vname, data in family_cases():
            res = asyncio.run(fam_validators[vname].validate(dict(data)))
            status = getattr(res.status, "value", res.status)
            goldens[case] = (vname, str(status), res.message,
                             canon_details(res.details))
        print("FAMILY_GOLDENS = \\")
        pprint.pprint(goldens, width=100)
        return

    goldens: dict[str, dict[str, tuple[str, str, dict]]] = {}
    for name, venum, data, _expect in VALIDATOR_CASES:
        doc = dict(data)
        doc.setdefault("document_type", venum.replace("_drivers_license", ""))
        out: dict[str, tuple[str, str, dict]] = {}
        for v in base_validators + [type_validators[venum]]:
            res = asyncio.run(v.validate(doc))
            status = getattr(res.status, "value", res.status)
            out[res.validator_name] = (str(status), res.message,
                                       canon_details(res.details))
        goldens[name] = out

    print("GOLDENS = \\")
    pprint.pprint(goldens, width=100)


if __name__ == "__main__":
    main()
