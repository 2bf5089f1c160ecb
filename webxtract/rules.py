"""Rule tables transcribed from the reference (pure data, no logic).

Sources (file:line in /root/reference):
- keyword lists / province & state maps / doc-number formats:
  app/services/document_type_detector.py:15-235
- DOCUMENT_PATTERNS + COUNTRY_CODES: app/models/document_types.py:65-377
- fake/specimen constants: app/services/fake_document_detector.py:24-120
- tolerant date-format list: app/services/validators/base.py:61-76
- validator tables (document-format patterns, DL / passport configs and
  their byte-exact message strings, the US state table):
  app/services/validators/*.py, cited per table

Python ``re`` patterns here are all simple anchored char-class forms,
verified Java-regex compatible (SURVEY.md §7.4.4).
"""

from __future__ import annotations

from dataclasses import dataclass

# ------------------------------------------------------------------ keywords
# document_type_detector.py:15-32
PASSPORT_KEYWORDS = [
    "passport", "passeport", "pasaporte", "reisepass", "паспорт",
    "passport no", "passport number",
]
DL_KEYWORDS = ["driver", "licence", "license", "permis", "conduire", "operator"]
HEALTH_CARD_KEYWORDS = [
    "health card", "health insurance", "ohip", "carte santé", "carte soleil",
]
PHOTO_ID_KEYWORDS = [
    "photo card", "photo id", "photocard", "photo identification",
    "identification card", "identity card", "id card", "bc services card",
    "bcid", "bc identification", "services card", "bc card", "enhanced id",
    "provincial id", "government id", "non-driver",
]
PR_CARD_KEYWORDS = [
    "permanent resident", "permanent residence", "résident permanent",
    "pr card", "carte rp", "carte de résident", "resident card",
    "immigration, refugees", "ircc", "immigration canada",
    "government of canada", "gouvernement du canada",
]

# ------------------------------------------------------------------ provinces
# document_type_detector.py:35-67 — insertion order matters (first match wins)
PROVINCE_MAPPING = {
    "ontario": "Ontario",
    "british columbia": "British Columbia",
    "alberta": "Alberta",
    "quebec": "Quebec",
    "québec": "quebec",  # normalized to "quebec" on match (detector :562-565)
    "manitoba": "Manitoba",
    "saskatchewan": "Saskatchewan",
    "nova scotia": "Nova Scotia",
    "new brunswick": "New Brunswick",
    "prince edward island": "Prince Edward Island",
    "newfoundland": "Newfoundland and Labrador",
    "northwest territories": "Northwest Territories",
    "nunavut": "Nunavut",
    "yukon": "Yukon",
}

PROVINCE_ABBREV = {
    " on ": "ontario", ", on": "ontario", "on,": "ontario", "ont": "ontario",
    " bc ": "british columbia", ", bc": "british columbia",
    "b.c.": "british columbia",
    " ab ": "alberta", ", ab": "alberta", "alta": "alberta",
    " qc ": "quebec", ", qc": "quebec", "(qc)": "quebec", "que": "quebec",
    "permis de conduire": "quebec",
    " mb ": "manitoba", ", mb": "manitoba",
    " sk ": "saskatchewan", ", sk": "saskatchewan", "sask": "saskatchewan",
    " ns ": "nova scotia", ", ns": "nova scotia",
    " nb ": "new brunswick", ", nb": "new brunswick",
    " pe ": "prince edward island", ", pe": "prince edward island",
    "pei": "prince edward island",
    " nl ": "newfoundland", ", nl": "newfoundland", "nfld": "newfoundland",
    " nt ": "northwest territories", ", nt": "northwest territories",
    "nwt": "northwest territories",
    " nu ": "nunavut", ", nu": "nunavut",
    " yt ": "yukon", ", yt": "yukon",
}

# DL_TYPES: province -> (doc_type, state_province, doc_name)
# document_type_detector.py:70-84
DL_TYPES = {
    "ontario": ("ontario_drivers_license", "Ontario", "Ontario Driver's License"),
    "british columbia": ("bc_drivers_license", "British Columbia", "BC Driver's Licence"),
    "alberta": ("alberta_drivers_license", "Alberta", "Alberta Driver's Licence"),
    "quebec": ("quebec_drivers_license", "Quebec", "Quebec Driver's Licence"),
    "manitoba": ("manitoba_drivers_license", "Manitoba", "Manitoba Driver's Licence"),
    "saskatchewan": ("saskatchewan_drivers_license", "Saskatchewan", "Saskatchewan Driver's Licence"),
    "nova scotia": ("nova_scotia_drivers_license", "Nova Scotia", "Nova Scotia Driver's Licence"),
    "new brunswick": ("new_brunswick_drivers_license", "New Brunswick", "New Brunswick Driver's Licence"),
    "prince edward island": ("pei_drivers_license", "Prince Edward Island", "PEI Driver's Licence"),
    "newfoundland": ("newfoundland_drivers_license", "Newfoundland and Labrador", "Newfoundland Driver's Licence"),
    "northwest territories": ("nwt_drivers_license", "Northwest Territories", "NWT Driver's Licence"),
    "nunavut": ("nunavut_drivers_license", "Nunavut", "Nunavut Driver's Licence"),
    "yukon": ("yukon_drivers_license", "Yukon", "Yukon Driver's Licence"),
}

PHOTO_ID_TYPES = {
    "ontario": ("ontario_photo_card", "Ontario", "Ontario Photo Card"),
    "british columbia": ("bc_photo_id", "British Columbia", "BC Photo ID"),
    "alberta": ("alberta_photo_id", "Alberta", "Alberta Photo ID"),
}

# ------------------------------------------------------------------ US states
US_STATE_MAPPING = {
    "california": "California", "texas": "Texas", "florida": "Florida",
    "new york": "New York", "illinois": "Illinois",
    "pennsylvania": "Pennsylvania", "ohio": "Ohio", "georgia": "Georgia",
    "michigan": "Michigan", "arizona": "Arizona", "washington": "Washington",
    "new jersey": "New Jersey", "nevada": "Nevada", "colorado": "Colorado",
    "oregon": "Oregon",
}

US_STATE_ABBREV = {
    " ca ": "california", ", ca": "california", "ca,": "california",
    " tx ": "texas", ", tx": "texas", "tx,": "texas",
    " fl ": "florida", ", fl": "florida", "fl,": "florida",
    " ny ": "new york", ", ny": "new york", "ny,": "new york",
    " il ": "illinois", ", il": "illinois", "il,": "illinois",
    " pa ": "pennsylvania", ", pa": "pennsylvania", "pa,": "pennsylvania",
    " oh ": "ohio", ", oh": "ohio", "oh,": "ohio",
    " ga ": "georgia", ", ga": "georgia", "ga,": "georgia",
    " mi ": "michigan", ", mi": "michigan", "mi,": "michigan",
    " az ": "arizona", ", az": "arizona", "az,": "arizona",
    " wa ": "washington", ", wa": "washington", "wa,": "washington",
    " nj ": "new jersey", ", nj": "new jersey", "nj,": "new jersey",
    " nv ": "nevada", ", nv": "nevada", "nv,": "nevada",
    " co ": "colorado", ", co": "colorado", "co,": "colorado",
    " or ": "oregon", ", or": "oregon", "or,": "oregon",
}

US_DL_TYPES = {
    "california": ("california_drivers_license", "California", "California Driver's License"),
    "texas": ("texas_drivers_license", "Texas", "Texas Driver's License"),
}

# --------------------------------------------------- doc-number format cascade
# document_type_detector.py:136-235 — ordered dict, first match wins, conf 0.7
DOC_NUMBER_FORMATS = [
    ("ontario_drivers_license", r"^[A-Z]\d{4}-?\d{5}-?\d{5}$", "Canada", "Ontario", "Ontario Driver's License"),
    ("bc_drivers_license", r"^(NDL:?|DL:?)?\d{6,7}$", "Canada", "British Columbia", "BC Driver's Licence"),
    ("alberta_drivers_license", r"^\d{6}-?\d{3}$", "Canada", "Alberta", "Alberta Driver's Licence"),
    ("quebec_drivers_license", r"^[A-Z]\d{4}-?\d{6}-?\d{2}$", "Canada", "Quebec", "Quebec Driver's Licence"),
    ("manitoba_drivers_license", r"^\d{9}$", "Canada", "Manitoba", "Manitoba Driver's Licence"),
    ("saskatchewan_drivers_license", r"^\d{8}$", "Canada", "Saskatchewan", "Saskatchewan Driver's Licence"),
    ("nova_scotia_drivers_license", r"^[A-Z]{5}\d{9}$", "Canada", "Nova Scotia", "Nova Scotia Driver's Licence"),
    ("new_brunswick_drivers_license", r"^\d{7}$", "Canada", "New Brunswick", "New Brunswick Driver's Licence"),
    ("newfoundland_drivers_license", r"^[A-Z]\d{9}$", "Canada", "Newfoundland and Labrador", "Newfoundland Driver's Licence"),
    ("ontario_health_card", r"^\d{10}[A-Z]{2}$", "Canada", "Ontario", "Ontario Health Card"),
    ("canadian_passport", r"^[A-Z]{2}\d{6}$", "Canada", None, "Canadian Passport"),
    ("canada_pr_card", r"^[A-Z]{2}\d{6}$", "Canada", None, "Canada Permanent Residence Card"),
    ("california_drivers_license", r"^[A-Z]\d{7}$", "United States", "California", "California Driver's License"),
    ("texas_drivers_license", r"^\d{8}$", "United States", "Texas", "Texas Driver's License"),
]

# --------------------------------------------------------- DOCUMENT_PATTERNS
# document_types.py:65-319. Fields: name, country, country_code,
# state_province, license_format, keywords. Insertion order preserved
# (passport country_code lookup iterates in order, detector :431-435).
DOCUMENT_PATTERNS = [
    ("ontario_drivers_license", "Ontario Driver's License", "Canada", None, "Ontario",
     r"^[A-Z]\d{4}-\d{5}-\d{5}$",
     ["ontario", "driver's licence", "driver licence", "class g", "class g1", "class g2"]),
    ("ontario_health_card", "Ontario Health Card", "Canada", None, "Ontario",
     r"^\d{10}[A-Z]{2}$",
     ["ontario", "health card", "ohip", "ministry of health", "carte santé"]),
    ("bc_drivers_license", "BC Driver's Licence", "Canada", None, "British Columbia",
     r"^(NDL:?|DL:?)?\d{6,7}$",
     ["british columbia", "bc", "driver's licence", "driver licence", "class 5", "class 7", "ndl"]),
    ("alberta_drivers_license", "Alberta Driver's Licence", "Canada", None, "Alberta",
     r"^\d{6}-?\d{3}$",
     ["alberta", "ab", "driver's licence", "driver licence", "class 5", "class 7", "gdl"]),
    ("quebec_drivers_license", "Quebec Driver's Licence", "Canada", None, "Quebec",
     r"^[A-Z]\d{4}-?\d{6}-?\d{2}$",
     ["quebec", "qc", "permis de conduire", "driver's licence", "classe 5", "probatoire"]),
    ("manitoba_drivers_license", "Manitoba Driver's Licence", "Canada", None, "Manitoba",
     r"^\d{9}$",
     ["manitoba", "mb", "driver's licence", "driver licence", "class 5", "dd/réf", "dd/ref"]),
    ("saskatchewan_drivers_license", "Saskatchewan Driver's Licence", "Canada", None, "Saskatchewan",
     r"^\d{8}$",
     ["saskatchewan", "sk", "sgi", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("nova_scotia_drivers_license", "Nova Scotia Driver's Licence", "Canada", None, "Nova Scotia",
     r"^[A-Z]{5}\d{9}$",
     ["nova scotia", "ns", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("new_brunswick_drivers_license", "New Brunswick Driver's Licence", "Canada", None, "New Brunswick",
     r"^\d{7}$",
     ["new brunswick", "nouveau-brunswick", "nb", "driver's licence", "permis de conduire", "class 5", "class 7"]),
    ("pei_drivers_license", "PEI Driver's Licence", "Canada", None, "Prince Edward Island",
     r"^\d{1,6}$",
     ["prince edward island", "pei", "pe", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("newfoundland_drivers_license", "Newfoundland Driver's Licence", "Canada", None, "Newfoundland and Labrador",
     r"^[A-Z]\d{9}$",
     ["newfoundland", "labrador", "nl", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("nwt_drivers_license", "NWT Driver's Licence", "Canada", None, "Northwest Territories",
     r"^\d{6}$",
     ["northwest territories", "nwt", "nt", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("nunavut_drivers_license", "Nunavut Driver's Licence", "Canada", None, "Nunavut",
     r"^\d{6}$",
     ["nunavut", "nu", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("yukon_drivers_license", "Yukon Driver's Licence", "Canada", None, "Yukon",
     r"^\d{6}$",
     ["yukon", "yt", "yk", "driver's licence", "driver licence", "class 5", "class 7"]),
    ("canadian_passport", "Canadian Passport", "Canada", "CAN", None,
     r"^[A-Z]{2}\d{6}$",
     ["canada", "canadian", "passport", "passeport", "CAN"]),
    ("us_passport", "US Passport", "United States", "USA", None,
     r"^\d{9}$",
     ["united states", "usa", "american", "passport", "USA"]),
    ("uk_passport", "UK Passport", "United Kingdom", "GBR", None,
     r"^\d{9}$",
     ["united kingdom", "british", "uk", "gbr", "passport", "GBR"]),
    ("india_passport", "India Passport", "India", "IND", None,
     r"^[A-Z]\d{7}$",
     ["india", "indian", "republic of india", "passport", "IND"]),
    ("australia_passport", "Australia Passport", "Australia", "AUS", None,
     r"^[A-Z]{1,2}\d{7}$",
     ["australia", "australian", "passport", "AUS"]),
    ("germany_passport", "Germany Passport", "Germany", "DEU", None,
     r"^[A-Z0-9]{9}$",
     ["germany", "german", "bundesrepublik", "deutschland", "passport", "reisepass", "DEU"]),
    ("france_passport", "France Passport", "France", "FRA", None,
     r"^[A-Z0-9]{9}$",
     ["france", "french", "république française", "passport", "passeport", "FRA"]),
    ("nigeria_passport", "Nigeria Passport", "Nigeria", "NGA", None,
     r"^[A-Z]\d{8}$",
     ["nigeria", "nigerian", "federal republic of nigeria", "passport", "NGA"]),
    ("china_passport", "China Passport", "China", "CHN", None,
     r"^[EGD]\d{8}$",
     ["china", "chinese", "people's republic of china", "中华人民共和国", "passport", "CHN"]),
    ("colombia_passport", "Colombia Passport", "Colombia", "COL", None,
     r"^[A-Z]{2}\d{7}$",
     ["colombia", "colombian", "república de colombia", "passport", "pasaporte", "COL"]),
    ("ukraine_passport", "Ukraine Passport", "Ukraine", "UKR", None,
     r"^[A-Z]{2}\d{6}$",
     ["ukraine", "ukrainian", "україна", "passport", "паспорт", "UKR"]),
    ("generic_passport", "International Passport", None, None, None,
     r"^[A-Z0-9]{6,12}$",
     ["passport", "passeport", "pasaporte", "reisepass", "паспорт"]),
    ("canada_pr_card", "Canada Permanent Residence Card", "Canada", "CAN", None,
     r"^[A-Z]{2}\d{6}$",
     ["permanent resident", "permanent residence", "résident permanent", "pr card", "immigration", "canada"]),
    ("california_drivers_license", "California Driver's License", "United States", None, "California",
     r"^[A-Z]\d{7}$",
     ["california", "ca", "driver license", "driver's license", "dmv", "state of california"]),
    ("texas_drivers_license", "Texas Driver's License", "United States", None, "Texas",
     r"^\d{8}$",
     ["texas", "tx", "driver license", "driver's license", "dps", "state of texas"]),
    ("us_drivers_license", "US Driver's License", "United States", None, None,
     r"^[A-Z0-9]{6,15}$",
     ["driver license", "driver's license", "dmv"]),
]

# ------------------------------------------------------------- country codes
# document_types.py:323-377 — full ISO 3166-1 alpha-3 table
COUNTRY_CODES = {
    "DZA": "Algeria", "AGO": "Angola", "BEN": "Benin", "BWA": "Botswana",
    "BFA": "Burkina Faso", "BDI": "Burundi", "CMR": "Cameroon",
    "CPV": "Cape Verde", "CAF": "Central African Republic", "TCD": "Chad",
    "COM": "Comoros", "COG": "Congo", "COD": "DR Congo", "CIV": "Ivory Coast",
    "DJI": "Djibouti", "EGY": "Egypt", "GNQ": "Equatorial Guinea",
    "ERI": "Eritrea", "SWZ": "Eswatini", "ETH": "Ethiopia", "GAB": "Gabon",
    "GMB": "Gambia", "GHA": "Ghana", "GIN": "Guinea", "GNB": "Guinea-Bissau",
    "KEN": "Kenya", "LSO": "Lesotho", "LBR": "Liberia", "LBY": "Libya",
    "MDG": "Madagascar", "MWI": "Malawi", "MLI": "Mali", "MRT": "Mauritania",
    "MUS": "Mauritius", "MAR": "Morocco", "MOZ": "Mozambique",
    "NAM": "Namibia", "NER": "Niger", "NGA": "Nigeria", "RWA": "Rwanda",
    "STP": "Sao Tome and Principe", "SEN": "Senegal", "SYC": "Seychelles",
    "SLE": "Sierra Leone", "SOM": "Somalia", "ZAF": "South Africa",
    "SSD": "South Sudan", "SDN": "Sudan", "TZA": "Tanzania", "TGO": "Togo",
    "TUN": "Tunisia", "UGA": "Uganda", "ZMB": "Zambia", "ZWE": "Zimbabwe",
    "ARG": "Argentina", "BHS": "Bahamas", "BRB": "Barbados", "BLZ": "Belize",
    "BOL": "Bolivia", "BRA": "Brazil", "CAN": "Canada", "CHL": "Chile",
    "COL": "Colombia", "CRI": "Costa Rica", "CUB": "Cuba", "DMA": "Dominica",
    "DOM": "Dominican Republic", "ECU": "Ecuador", "SLV": "El Salvador",
    "GRD": "Grenada", "GTM": "Guatemala", "GUY": "Guyana", "HTI": "Haiti",
    "HND": "Honduras", "JAM": "Jamaica", "MEX": "Mexico", "NIC": "Nicaragua",
    "PAN": "Panama", "PRY": "Paraguay", "PER": "Peru",
    "KNA": "Saint Kitts and Nevis", "LCA": "Saint Lucia",
    "VCT": "Saint Vincent and the Grenadines", "SUR": "Suriname",
    "TTO": "Trinidad and Tobago", "USA": "United States", "URY": "Uruguay",
    "VEN": "Venezuela",
    "AFG": "Afghanistan", "ARM": "Armenia", "AZE": "Azerbaijan",
    "BHR": "Bahrain", "BGD": "Bangladesh", "BTN": "Bhutan", "BRN": "Brunei",
    "KHM": "Cambodia", "CHN": "China", "CYP": "Cyprus", "GEO": "Georgia",
    "IND": "India", "IDN": "Indonesia", "IRN": "Iran", "IRQ": "Iraq",
    "ISR": "Israel", "JPN": "Japan", "JOR": "Jordan", "KAZ": "Kazakhstan",
    "KWT": "Kuwait", "KGZ": "Kyrgyzstan", "LAO": "Laos", "LBN": "Lebanon",
    "MYS": "Malaysia", "MDV": "Maldives", "MNG": "Mongolia", "MMR": "Myanmar",
    "NPL": "Nepal", "PRK": "North Korea", "OMN": "Oman", "PAK": "Pakistan",
    "PSE": "Palestine", "PHL": "Philippines", "QAT": "Qatar",
    "SAU": "Saudi Arabia", "SGP": "Singapore", "KOR": "South Korea",
    "LKA": "Sri Lanka", "SYR": "Syria", "TWN": "Taiwan", "TJK": "Tajikistan",
    "THA": "Thailand", "TLS": "Timor-Leste", "TUR": "Turkey",
    "TKM": "Turkmenistan", "ARE": "United Arab Emirates", "UZB": "Uzbekistan",
    "VNM": "Vietnam", "YEM": "Yemen",
    "ALB": "Albania", "AND": "Andorra", "AUT": "Austria", "BLR": "Belarus",
    "BEL": "Belgium", "BIH": "Bosnia and Herzegovina", "BGR": "Bulgaria",
    "HRV": "Croatia", "CZE": "Czech Republic", "DNK": "Denmark",
    "EST": "Estonia", "FIN": "Finland", "FRA": "France", "DEU": "Germany",
    "GRC": "Greece", "HUN": "Hungary", "ISL": "Iceland", "IRL": "Ireland",
    "ITA": "Italy", "XKX": "Kosovo", "LVA": "Latvia", "LIE": "Liechtenstein",
    "LTU": "Lithuania", "LUX": "Luxembourg", "MLT": "Malta", "MDA": "Moldova",
    "MCO": "Monaco", "MNE": "Montenegro", "NLD": "Netherlands",
    "MKD": "North Macedonia", "NOR": "Norway", "POL": "Poland",
    "PRT": "Portugal", "ROU": "Romania", "RUS": "Russia", "SMR": "San Marino",
    "SRB": "Serbia", "SVK": "Slovakia", "SVN": "Slovenia", "ESP": "Spain",
    "SWE": "Sweden", "CHE": "Switzerland", "UKR": "Ukraine",
    "GBR": "United Kingdom", "VAT": "Vatican City",
    "AUS": "Australia", "FJI": "Fiji", "KIR": "Kiribati",
    "MHL": "Marshall Islands", "FSM": "Micronesia", "NRU": "Nauru",
    "NZL": "New Zealand", "PLW": "Palau", "PNG": "Papua New Guinea",
    "WSM": "Samoa", "SLB": "Solomon Islands", "TON": "Tonga", "TUV": "Tuvalu",
    "VUT": "Vanuatu",
}

# ------------------------------------------------------- fake/specimen tables
# fake_document_detector.py:24-120
SPECIMEN_KEYWORDS = [
    "specimen", "sample", "void", "not valid", "invalid",
    "for display only", "display purposes", "example",
    "test document", "test card", "demo", "demonstration",
    "facsimile", "replica", "copy", "duplicate",
    "training", "practice", "mock", "fake",
    "not for identification", "no value", "cancelled",
    "spécimen", "échantillon", "annulé",
    "muestra", "anulado",
]

FAKE_NAME_PAIRS = [
    ("john", "doe"), ("jane", "doe"), ("john", "smith"), ("jane", "smith"),
    ("test", "user"), ("sample", "person"), ("example", "name"),
    ("first", "last"), ("firstname", "lastname"),
    ("any", "body"), ("some", "one"), ("no", "name"),
    ("john", "q"), ("john", "public"), ("joe", "bloggs"),
    ("richard", "roe"), ("baby", "doe"),
    ("james", "public"), ("jane", "public"),
    ("james", "quintin"), ("quintin", "public"),
    ("anita", "walker"), ("anita", "jean"), ("jean", "walker"),
    ("your", "name"), ("full", "name"), ("given", "name"),
    ("name", "here"), ("insert", "name"),
    ("jean", "dupont"), ("marie", "dupont"),
    ("pierre", "martin"), ("paul", "martin"),
    ("jan", "jansen"), ("max", "mustermann"),
    ("ivan", "ivanov"), ("juan", "garcia"),
]

FAKE_SINGLE_NAMES = [
    "specimen", "sample", "test", "demo", "void",
    "xxxxx", "nnnnn", "aaaaa", "zzzzz",
    "abcde", "qwerty", "asdfg",
    "public", "person", "citizen", "resident",
    "anybody", "someone", "noname", "anonymous",
]

FAKE_DOC_NUMBER_PATTERNS = [
    r"^0{5,}$",
    r"^1{5,}$",
    r"^9{5,}$",
    r"^X{3,}$",
    r"^[A-Z]0{5,}$",
    r"^(12345|123456|1234567|12345678|123456789)$",
    r"^(11111|22222|33333|44444|55555|66666|77777|88888|99999)$",
    r"^(AB123456|CD123456|XY123456)$",
    r"^(A1234567|B1234567|C1234567)$",
    r"^(AA000000|BB000000|XX000000)$",
    r"^SAMPLE\d*$",
    r"^TEST\d*$",
    r"^SPEC\d*$",
]

KNOWN_SPECIMEN_DOC_NUMBERS = [
    "AB123456", "CD123456", "XY123456",
    "A1234567", "B1234567", "L1234567",
    "123456789", "000000000", "999999999",
    "1234567890",
    "5584486674",
    "S1234567", "P1234567", "T1234567",
    "SPECIMEN", "SAMPLE", "TEST",
]

SUSPICIOUS_DATES = [
    "1900-01-01", "1970-01-01", "2000-01-01", "2020-01-01",
    "1111-11-11", "2222-02-22", "1234-12-34",
    "0001-01-01", "9999-12-31",
]

SUSPICIOUS_BIRTH_YEARS = [1900, 1901, 1911]

FAKE_ADDRESS_PATTERNS = [
    "123 main", "123 fake", "123 test", "123 sample",
    "456 main", "789 main", "100 main",
    "1234 main", "12345 main",
    "123 street", "123 avenue", "123 road",
    "fake street", "test street", "sample street",
    "anywhere", "somewhere", "nowhere", "anytown",
    "springfield",
    "123 sesame",
]

# ------------------------------------------------------------- date formats
# validators/base.py:61-76, Python strptime -> Spark SimpleDateFormat-ish
# patterns, SAME try order (the %d/%m/%Y-before-%m/%d/%Y ambiguity order is
# load-bearing, SURVEY.md §7.4.2).
DATE_FORMATS_SPARK = [
    "yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy",
    "dd-MM-yyyy", "yyyy/MM/dd", "dd.MM.yyyy",
    "yyyy-MMM-dd", "yyyy-MMMM-dd",
    "dd-MMM-yyyy", "dd-MMMM-yyyy",
    "MMM-dd-yyyy", "MMMM-dd-yyyy",
    "MMMM dd, yyyy", "dd MMMM yyyy", "MMM dd, yyyy",
    "dd MMM yyyy", "MMM dd yyyy", "MMMM dd yyyy",
    "yyyyMMdd",
    "yyyy/MMM/dd", "dd/MMM/yyyy",
    "yyyy/MMMM/dd", "dd/MMMM/yyyy",
]

# ------------------------------------------------------- validator tables
# validators/*.py: the per-validator constants the battery kernel
# (webxtract/ops/validators.py) is parametrized by.

# 18 named patterns + descriptions (validators/document_format.py:13-38)
DOCUMENT_FORMAT_PATTERNS = [
    ("CA_ONTARIO_DL", r"^[A-Z]\d{4}-?\d{5}-?\d{5}$", "Ontario Driver's Licence"),
    ("CA_BC_DL", r"^(DL:?)?\d{6,7}$", "BC Driver's Licence"),
    ("CA_ALBERTA_DL", r"^\d{6}-?\d{3}$", "Alberta Driver's Licence"),
    ("CA_QUEBEC_DL", r"^[A-Z]\d{12}$", "Quebec Driver's Licence"),
    ("CA_MANITOBA_DL", r"^[A-Z]{4}\d{6}$", "Manitoba Driver's Licence"),
    ("CA_PASSPORT", r"^[A-Z]{2}\d{6}$", "Canadian Passport"),
    ("US_PASSPORT", r"^[A-Z]\d{8}$", "US Passport"),
    ("US_DL_CALIFORNIA", r"^[A-Z]\d{7}$", "California Driver's License"),
    ("US_DL_TEXAS", r"^\d{8}$", "Texas Driver's License"),
    ("US_DL_FLORIDA", r"^[A-Z]\d{12}$", "Florida Driver's License"),
    ("US_DL_NEW_YORK", r"^\d{9}$", "New York Driver's License"),
    ("US_DL_OHIO", r"^[A-Z]{2}\d{6}$", "Ohio Driver's License"),
    ("US_DRIVERS_LICENSE", r"^[A-Z]{1,2}\d{6,14}$", "US Driver's License (generic)"),
    ("UK_PASSPORT", r"^\d{9}$", "UK Passport"),
    ("UK_DRIVERS_LICENSE", r"^[A-Z]{5}\d{6}[A-Z]{2}\d{2}$", "UK Driver's License"),
    ("EU_ID", r"^[A-Z]{2}\d{7}$", "European ID Card"),
    ("GENERIC_NUMERIC", r"^\d{6,12}$", "Generic numeric ID"),
    ("GENERIC_ALPHANUMERIC", r"^[A-Z0-9]{6,15}$", "Generic alphanumeric ID"),
]


@dataclass
class DLConfig:
    """Declarative knobs distilled from the per-province validators —
    the files differ only in these constants (e.g. nwt_dl.py vs
    nunavut_dl.py vs yukon_dl.py)."""

    name: str
    display: str
    format_pattern: str
    near_miss: str | None          # "digits:lo:hi" | "len:N:alpha" | "len:N" | None
    fail_age: int
    warn_age_tiers: tuple[int, ...]          # ascending warn thresholds
    name_variant: str | None = None          # first_word | bc | field_first
    first_letter: str | None = None          # "fail" | "warn" | None
    ns_prefix: bool = False
    validity_low: float | None = 1.5
    validity_high: float | None = 6.0
    validity_div: float = 365.25
    expired_check: bool = True
    expiry_warn_60: bool = False             # CA/TX second tier
    issue_check_min_age: int | None = None
    ontario_dob_encoding: bool = False
    bc_prefix_strip: bool = False
    strip_slash: bool = False                # Manitoba strips "/" too
    verifik: bool = False                    # ON/BC registry lookup (disabled path)
    # ---- details-map knobs (each file's details[...] keys; the checks
    # list and key spellings vary per province: license/licence/document)
    d_checks: tuple = ()                     # checks_performed, in order
    d_ln_src: bool = True                    # last_name_source + extracted_last_name
    d_num_key: str | None = None             # CA/TX unconditional license_number
    d_valid_key: str = "licence_number_valid"
    d_digits: str | None = None              # const "6".."9" | "len" | "slice1" | "slice5"
    d_digits_near: bool = False              # licence_digits = len(clean) on near-miss
    d_letter: bool = False                   # QC/NL licence_letter on valid/near
    d_clean_key: str | None = "clean_licence_number"
    d_fl: str | None = None                  # first-letter keys: "ontario"|"std"|"ca"
    d_age_key: str = "calculated_age"        # CA/TX use current_age
    d_age_dob: bool = False                  # CA/TX also emit date_of_birth
    d_bday_both: bool = False                # CA/TX expires_on_birthday true AND false
    d_state: str | None = None               # CA/TX constant details["state"]


DL_CONFIGS: dict[str, DLConfig] = {
    "ontario_drivers_license": DLConfig(
        "ontario_drivers_license", "Ontario DL", r"^[A-Z]\d{4}-\d{5}-\d{5}$",
        "len:15:alpha", 16, (18,), name_variant="first_word",
        first_letter="fail", validity_low=None, validity_high=6.0,
        validity_div=365.0, expired_check=False, issue_check_min_age=None,
        ontario_dob_encoding=True, verifik=True,
        d_checks=("license_number_format", "first_letter_match",
                  "minimum_age_ontario", "expiry_on_birthday",
                  "validity_period", "dob_encoded_in_license",
                  "verifik_api_validation"),
        d_valid_key="license_number_valid", d_clean_key=None, d_fl="ontario",
    ),
    "bc_drivers_license": DLConfig(
        "bc_drivers_license", "BC DL", r"^\d{6,7}$", "digits:5:8",
        16, (17, 19), name_variant="bc", issue_check_min_age=16,
        bc_prefix_strip=True, verifik=True,
        d_checks=("licence_number_format", "minimum_age_bc",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check", "verifik_api_validation"),
        d_digits="len", d_digits_near=True,
    ),
    "alberta_drivers_license": DLConfig(
        "alberta_drivers_license", "Alberta DL", r"^\d{9}$", "digits:8:10",
        14, (16, 18), name_variant="first_word", issue_check_min_age=14,
        d_checks=("licence_number_format", "minimum_age_alberta",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="9", d_digits_near=True,
    ),
    "quebec_drivers_license": DLConfig(
        "quebec_drivers_license", "Quebec DL", r"^[A-Z]\d{12}$", "len:13:alpha",
        16, (18,), name_variant="first_word", first_letter="fail",
        validity_low=3.5, validity_high=8.5, issue_check_min_age=16,
        d_checks=("licence_number_format", "first_letter_match",
                  "minimum_age_quebec", "expiry_on_birthday",
                  "validity_period", "expiry_check", "issue_date_check"),
        d_letter=True, d_fl="std",
    ),
    "manitoba_drivers_license": DLConfig(
        "manitoba_drivers_license", "Manitoba DL", r"^\d{9}$", "digits:7:10",
        16, (18,), name_variant="first_word", issue_check_min_age=16,
        strip_slash=True,
        d_checks=("document_number_format", "minimum_age_manitoba",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_valid_key="document_number_valid",
        d_clean_key="clean_document_number",
    ),
    "saskatchewan_drivers_license": DLConfig(
        "saskatchewan_drivers_license", "Saskatchewan DL", r"^\d{8}$",
        "digits:7:9", 16, (18,), name_variant="first_word",
        issue_check_min_age=16,
        d_checks=("licence_number_format", "minimum_age_saskatchewan",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="8", d_digits_near=True,
    ),
    "nova_scotia_drivers_license": DLConfig(
        "nova_scotia_drivers_license", "Nova Scotia DL", r"^[A-Z]{5}\d{9}$",
        "len:14", 16, (18,), name_variant="first_word", ns_prefix=True,
        issue_check_min_age=16,
        d_checks=("licence_number_format", "surname_prefix_check",
                  "minimum_age_nova_scotia", "expiry_on_birthday",
                  "validity_period", "expiry_check", "issue_date_check"),
        d_digits="slice5",
    ),
    "new_brunswick_drivers_license": DLConfig(
        "new_brunswick_drivers_license", "New Brunswick DL", r"^\d{7}$",
        "digits:6:8", 16, (18,), name_variant="first_word",
        validity_high=5.0, issue_check_min_age=16,
        d_checks=("licence_number_format", "minimum_age_new_brunswick",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="7", d_digits_near=True,
    ),
    "pei_drivers_license": DLConfig(
        "pei_drivers_license", "PEI DL", r"^\d{1,6}$", "digits:1:8",
        16, (17,), name_variant="first_word", validity_low=1.0,
        issue_check_min_age=16,
        d_checks=("licence_number_format", "minimum_age_pei",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="len", d_digits_near=True,
    ),
    "newfoundland_drivers_license": DLConfig(
        "newfoundland_drivers_license", "Newfoundland DL", r"^[A-Z]\d{9}$",
        "len:10:alpha", 16, (18,), name_variant="first_word",
        first_letter="fail", validity_high=5.0, issue_check_min_age=16,
        d_checks=("licence_number_format", "first_letter_match",
                  "minimum_age_newfoundland", "expiry_on_birthday",
                  "validity_period", "expiry_check", "issue_date_check"),
        d_digits="slice1", d_letter=True, d_fl="std",
    ),
    "nwt_drivers_license": DLConfig(
        "nwt_drivers_license", "NWT DL", r"^\d{6}$", "digits:5:7",
        15, (16, 18), name_variant="first_word", issue_check_min_age=15,
        d_checks=("licence_number_format", "minimum_age_nwt",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="6", d_digits_near=True,
    ),
    "nunavut_drivers_license": DLConfig(
        "nunavut_drivers_license", "Nunavut DL", r"^\d{6}$", "digits:5:7",
        15, (16, 18), name_variant="first_word", issue_check_min_age=15,
        d_checks=("licence_number_format", "minimum_age_nunavut",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="6", d_digits_near=True,
    ),
    "yukon_drivers_license": DLConfig(
        "yukon_drivers_license", "Yukon DL", r"^\d{6}$", "digits:5:7",
        15, (16, 18), name_variant="first_word", issue_check_min_age=15,
        d_checks=("licence_number_format", "minimum_age_yukon",
                  "expiry_on_birthday", "validity_period", "expiry_check",
                  "issue_date_check"),
        d_digits="6", d_digits_near=True,
    ),
    "california_drivers_license": DLConfig(
        "california_drivers_license", "California DL", r"^[A-Z]\d{7}$", None,
        16, (18,), name_variant="field_first", first_letter="warn",
        validity_low=4.0, validity_high=6.0, expiry_warn_60=True,
        issue_check_min_age=None,
        d_checks=("license_number_format", "first_letter_check", "age_check",
                  "expiry_check", "expiry_on_birthday", "validity_period"),
        d_ln_src=False, d_num_key="license_number",
        d_valid_key="format_valid", d_clean_key=None, d_fl="ca",
        d_age_key="current_age", d_age_dob=True, d_bday_both=True,
        d_state="California",
    ),
    "texas_drivers_license": DLConfig(
        "texas_drivers_license", "Texas DL", r"^\d{8}$", None,
        16, (18,), name_variant="field_first",
        validity_low=5.0, validity_high=8.5, expiry_warn_60=True,
        issue_check_min_age=None,
        d_checks=("license_number_format", "age_check", "expiry_check",
                  "expiry_on_birthday", "validity_period"),
        d_ln_src=False, d_num_key="license_number",
        d_valid_key="format_valid", d_clean_key=None,
        d_age_key="current_age", d_age_dob=True, d_bday_both=True,
        d_state="Texas",
    ),
}


# Byte-exact message constants transcribed from the per-province
# validators (these strings ARE the response contract; file:line cited
# per family below). Shapes:
#   missing            -> used verbatim
#   fmt_prefix + raw   -> format-invalid issue
#   near: w3 present   -> w1 + raw + w2 + len(clean) + w3   (digit-count shape)
#         w3 absent    -> w1 + raw + w2                     (ON/QC/NS/NL shapes)
#   fl_head + letter + fl_mid + initial + "'" [+ " (from " + src + ")"]
#   noname_head + letter + noname_tail
#   "Person is " + age + age_fail_tail          (underage issue)
#   "Person is " + age + ". " + tierN_tail      (licence-class warning)
#   bday std: "Expiry date (" + MM-dd + ") is not on birthday (" + MM-dd + "). " + bday_tail
#   bday us:  bday_name + " typically expires on birthday. DOB: " + MM/dd + ", Expiry: " + MM/dd
#   "Short validity period (" + v + " years). " + vshort_tail
#   vlong_head + v + vlong_tail
#   expired_head + n + " days ago" / expires_head + n + " days" / soon_head + n + " days)"
#   "Person was " + age + issue_tail            (issue-date minimum age)
DL_MSG_DEFAULTS = {
    "near_w1": "Licence number '", "near_w2": "' has ", "near_w3": None,
    "fl_head": None, "fl_mid": "' does not match last name initial '",
    "fl_src": False, "noname_head": None, "noname_tail": "",
    "tier2_tail": None, "bday_std": True, "bday_name": "",
    "vshort_tail": "May be a learner licence.",
    "vlong_head": "Validity period (",
    "expired_head": "Licence expired ", "expires_head": "Licence expires in ",
    "soon_head": None, "issue_tail": None, "missing": "Missing licence number",
}

DL_MSGS: dict[str, dict] = {
    # ontario_dl.py:82-125,139,154,234-255
    "ontario_drivers_license": {
        "fail_header": "Ontario DL validation failed",
        "warn_full": "Ontario DL validation passed with warnings",
        "pass_full": "Ontario Driver's License validation passed",
        "missing": "Missing license number",
        "fmt_prefix": "Invalid Ontario DL format. Expected: A1234-12345-12345, Got: ",
        "near_w1": "License number format non-standard but may be valid: ",
        "near_w2": "",
        "fl_head": "License first letter '", "fl_src": True,
        "noname_head": "Cannot verify license letter '",
        "noname_tail": "' - no last name found. Ontario DL format: 'LASTNAME, FIRSTNAME'",
        "age_fail_tail": " years old. Ontario requires minimum 16 for G1 license",
        "tier1_tail": "May only hold G1/G2 license (full G requires 18+)",
        "bday_tail": "Ontario DL typically expires on holder's birthday",
        "vshort_tail": None,
        "vlong_tail": " years) exceeds typical 5-year Ontario DL term",
    },
    # bc_dl.py:103-226,256-277
    "bc_drivers_license": {
        "fail_header": "BC Driver's Licence validation failed",
        "warn_full": "BC Driver's Licence validation passed with warnings",
        "pass_full": "BC Driver's Licence validation passed",
        "fmt_prefix": "Invalid BC licence format. Expected: DL:XXXXXX (6 digits) or 7 digits, Got: ",
        "near_w3": " digits. BC licence typically has 6 digits (DL:XXXXXX) or 7 digits.",
        "age_fail_tail": " years old. BC requires minimum 16 for Class 7L (Learner)",
        "tier1_tail": "Can only hold Class 7L (Learner) licence",
        "tier2_tail": "May hold Class 7 (Novice/N) or Class 7L",
        "bday_tail": "BC DL typically expires on holder's birthday",
        "vshort_tail": "May be a new driver or restricted licence.",
        "vlong_tail": " years) exceeds typical 5-year BC licence term",
        "issue_tail": " at issue date. BC requires minimum 16 for any licence",
    },
    # alberta_dl.py:82-193,201-222
    "alberta_drivers_license": {
        "fail_header": "Alberta Driver's Licence validation failed",
        "warn_full": "Alberta Driver's Licence validation passed with warnings",
        "pass_full": "Alberta Driver's Licence validation passed",
        "fmt_prefix": "Invalid Alberta licence format. Expected: 9 digits (e.g., 123456-789), Got: ",
        "near_w3": " digits. Alberta licence typically has 9 digits (XXXXXX-XXX).",
        "age_fail_tail": " years old. Alberta requires minimum 14 for Class 7 Learner",
        "tier1_tail": "Can only hold Class 7 Learner (GDL) licence",
        "tier2_tail": "Likely holds Class 5 GDL (probationary) licence",
        "bday_tail": "Alberta DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or probationary licence.",
        "vlong_tail": " years) exceeds typical 5-year Alberta licence term",
        "issue_tail": " at issue date. Alberta requires minimum 14 for any licence",
    },
    # quebec_dl.py:83-214,222-243
    "quebec_drivers_license": {
        "fail_header": "Quebec Driver's Licence validation failed",
        "warn_full": "Quebec Driver's Licence validation passed with warnings",
        "pass_full": "Quebec Driver's Licence validation passed",
        "fmt_prefix": "Invalid Quebec licence format. Expected: Letter + 12 digits (e.g., S1234-567890-12), Got: ",
        "near_w2": "' may have format issues. Quebec licence: Letter + 12 digits (e.g., S1234-567890-12)",
        "fl_head": "Licence first letter '", "fl_src": True,
        "noname_head": "Cannot verify licence letter '",
        "noname_tail": "' - no last name found",
        "age_fail_tail": " years old. Quebec requires minimum 16 for Class 5 Learner",
        "tier1_tail": "May hold probationary licence",
        "bday_tail": "Quebec DL typically expires on holder's birthday",
        "vshort_tail": "May be a probationary or restricted licence.",
        "vlong_tail": " years) exceeds maximum 8-year Quebec licence term",
        "issue_tail": " at issue date. Quebec requires minimum 16 for any licence",
    },
    # manitoba_dl.py:81-187,195-216
    "manitoba_drivers_license": {
        "fail_header": "Manitoba Driver's Licence validation failed",
        "warn_full": "Manitoba Driver's Licence validation passed with warnings",
        "pass_full": "Manitoba Driver's Licence validation passed",
        "missing": "Missing document number (DD/RÉF)",
        "fmt_prefix": "Invalid Manitoba document number format. Expected: 9 digits, Got: ",
        "near_w1": "Document number '",
        "near_w3": " digits. Manitoba DD/RÉF is typically 9 digits.",
        "age_fail_tail": " years old. Manitoba requires minimum 16 for Class 5L Learner",
        "tier1_tail": "May hold Class 5L (Learner) or Class 5I (Intermediate) licence",
        "bday_tail": "Manitoba DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or intermediate licence.",
        "vlong_tail": " years) exceeds typical 5-year Manitoba licence term",
        "issue_tail": " at issue date. Manitoba requires minimum 16 for any licence",
    },
    # saskatchewan_dl.py:82-189,197-218
    "saskatchewan_drivers_license": {
        "fail_header": "Saskatchewan Driver's Licence validation failed",
        "warn_full": "Saskatchewan Driver's Licence validation passed with warnings",
        "pass_full": "Saskatchewan Driver's Licence validation passed",
        "fmt_prefix": "Invalid Saskatchewan licence format. Expected: 8 digits (e.g., 12345678), Got: ",
        "near_w3": " digits. Saskatchewan licence typically has 8 digits.",
        "age_fail_tail": " years old. Saskatchewan requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Learner) or novice Class 5 licence",
        "bday_tail": "Saskatchewan DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or novice licence.",
        "vlong_tail": " years) exceeds typical 5-year Saskatchewan licence term",
        "issue_tail": " at issue date. Saskatchewan requires minimum 16 for any licence",
    },
    # nova_scotia_dl.py:88-210,217-238
    "nova_scotia_drivers_license": {
        "fail_header": "Nova Scotia Driver's Licence validation failed",
        "warn_full": "Nova Scotia Driver's Licence validation passed with warnings",
        "pass_full": "Nova Scotia Driver's Licence validation passed",
        "fmt_prefix": "Invalid Nova Scotia licence format. Expected: 5 letters + 9 digits, Got: ",
        "near_w2": "' may have format issues. Nova Scotia licence: 5 letters + 9 digits (e.g., SMITH123456789)",
        "age_fail_tail": " years old. Nova Scotia requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Graduated) licence",
        "bday_tail": "Nova Scotia DL typically expires on holder's birthday",
        "vshort_tail": "May be a learner or graduated licence.",
        "vlong_tail": " years) exceeds typical 5-year Nova Scotia licence term",
        "issue_tail": " at issue date. Nova Scotia requires minimum 16 for any licence",
    },
    # new_brunswick_dl.py:77-183,190-211
    "new_brunswick_drivers_license": {
        "fail_header": "New Brunswick Driver's Licence validation failed",
        "warn_full": "New Brunswick Driver's Licence validation passed with warnings",
        "pass_full": "New Brunswick Driver's Licence validation passed",
        "fmt_prefix": "Invalid New Brunswick licence format. Expected: 7 digits (e.g., 1234567), Got: ",
        "near_w3": " digits. New Brunswick licence typically has 7 digits.",
        "age_fail_tail": " years old. New Brunswick requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Learner) licence with restrictions",
        "bday_tail": "New Brunswick DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 4-year New Brunswick licence term",
        "issue_tail": " at issue date. New Brunswick requires minimum 16 for any licence",
    },
    # pei_dl.py:77-183,190-211
    "pei_drivers_license": {
        "fail_header": "PEI Driver's Licence validation failed",
        "warn_full": "PEI Driver's Licence validation passed with warnings",
        "pass_full": "PEI Driver's Licence validation passed",
        "fmt_prefix": "Invalid PEI licence format. Expected: 1-6 digits, Got: ",
        "near_w3": " digits. PEI licence typically has 1-6 digits.",
        "age_fail_tail": " years old. PEI requires minimum 16 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence",
        "bday_tail": "PEI DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year PEI licence term",
        "issue_tail": " at issue date. PEI requires minimum 16 for any licence",
    },
    # newfoundland_dl.py:83-206,misc footer
    "newfoundland_drivers_license": {
        "fail_header": "Newfoundland Driver's Licence validation failed",
        "warn_full": "Newfoundland Driver's Licence validation passed with warnings",
        "pass_full": "Newfoundland Driver's Licence validation passed",
        "fmt_prefix": "Invalid Newfoundland licence format. Expected: Letter + 9 digits (e.g., A123456789), Got: ",
        "near_w2": "' may have format issues. Newfoundland licence: Letter + 9 digits (e.g., A123456789)",
        "fl_head": "Licence first letter '", "fl_src": True,
        "noname_head": "Cannot verify licence letter '",
        "noname_tail": "' - no last name found",
        "age_fail_tail": " years old. Newfoundland requires minimum 16 for Class 7 Learner",
        "tier1_tail": "May hold Class 7 (Learner) licence",
        "bday_tail": "Newfoundland DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 4-year Newfoundland licence term",
        "issue_tail": " at issue date. Newfoundland requires minimum 16 for any licence",
    },
    # nwt_dl.py:82-187
    "nwt_drivers_license": {
        "fail_header": "NWT Driver's Licence validation failed",
        "warn_full": "NWT Driver's Licence validation passed with warnings",
        "pass_full": "NWT Driver's Licence validation passed",
        "fmt_prefix": "Invalid NWT licence format. Expected: 6 digits (e.g., 123456), Got: ",
        "near_w3": " digits. NWT licence typically has 6 digits.",
        "age_fail_tail": " years old. NWT requires minimum 15 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence",
        "tier2_tail": "May hold Class 7 or novice Class 5 licence",
        "bday_tail": "NWT DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year NWT licence term",
        "issue_tail": " at issue date. NWT requires minimum 15 for any licence",
    },
    # nunavut_dl.py:83-188
    "nunavut_drivers_license": {
        "fail_header": "Nunavut Driver's Licence validation failed",
        "warn_full": "Nunavut Driver's Licence validation passed with warnings",
        "pass_full": "Nunavut Driver's Licence validation passed",
        "fmt_prefix": "Invalid Nunavut licence format. Expected: 6 digits (e.g., 123456), Got: ",
        "near_w3": " digits. Nunavut licence typically has 6 digits.",
        "age_fail_tail": " years old. Nunavut requires minimum 15 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence",
        "tier2_tail": "May hold Class 7 or novice Class 5 licence",
        "bday_tail": "Nunavut DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year Nunavut licence term",
        "issue_tail": " at issue date. Nunavut requires minimum 15 for any licence",
    },
    # yukon_dl.py:82-187
    "yukon_drivers_license": {
        "fail_header": "Yukon Driver's Licence validation failed",
        "warn_full": "Yukon Driver's Licence validation passed with warnings",
        "pass_full": "Yukon Driver's Licence validation passed",
        "fmt_prefix": "Invalid Yukon licence format. Expected: 6 digits (e.g., 123456), Got: ",
        "near_w3": " digits. Yukon licence typically has 6 digits.",
        "age_fail_tail": " years old. Yukon requires minimum 15 for Class 7 Learner",
        "tier1_tail": "Holds Class 7 (Learner) licence (requires parental consent)",
        "tier2_tail": "May hold Class 7 or novice Class 5 licence",
        "bday_tail": "Yukon DL typically expires on holder's birthday",
        "vlong_tail": " years) exceeds typical 5-year Yukon licence term",
        "issue_tail": " at issue date. Yukon requires minimum 15 for any licence",
    },
    # california_dl.py:62-149,156-170
    "california_drivers_license": {
        "fail_header": "California DL validation failed",
        "warn_full": "California DL validation passed with warnings",
        "pass_full": "California DL validation passed",
        "missing": "Missing license number",
        "fmt_prefix": "Invalid California DL format. Expected: 1 letter + 7 digits (e.g., A1234567), Got: ",
        "fl_head": "License first letter '",
        "fl_mid": "' doesn't match last name initial '",
        "age_fail_tail": " years old. Minimum age for California learner's permit is 16",
        "tier1_tail": "Provisional license restrictions may apply",
        "bday_std": False, "bday_name": "California DL", "bday_tail": "",
        "vshort_tail": "Standard is 5 years",
        "vlong_head": "Long validity period (",
        "vlong_tail": " years). Standard is 5 years",
        "expired_head": "California DL expired ",
        "expires_head": "California DL expires in ",
        "soon_head": "California DL expires soon (",
    },
    # texas_dl.py:61-131,138-152
    "texas_drivers_license": {
        "fail_header": "Texas DL validation failed",
        "warn_full": "Texas DL validation passed with warnings",
        "pass_full": "Texas DL validation passed",
        "missing": "Missing license number",
        "fmt_prefix": "Invalid Texas DL format. Expected: 8 digits (e.g., 12345678), Got: ",
        "age_fail_tail": " years old. Minimum age for Texas learner's permit is 16",
        "tier1_tail": "Provisional license restrictions may apply",
        "bday_std": False, "bday_name": "Texas DL", "bday_tail": "",
        "vshort_tail": "Standard is 6 years",
        "vlong_head": "Long validity period (",
        "vlong_tail": " years). Standard is 6-8 years",
        "expired_head": "Texas DL expired ",
        "expires_head": "Texas DL expires in ",
        "soon_head": "Texas DL expires soon (",
    },
}


@dataclass
class PassportConfig:
    name: str
    display: str
    country_code: str
    format_pattern: str
    near_miss: str | None          # as DLConfig, plus "france" special
    child_age: int | None          # age_at_issue threshold; None = no tiers
    child_window: tuple[float, float] | None
    adult_window: tuple[float, float] = (9.5, 10.5)
    no_age_fallback: bool = False  # warn when neither window matches
    fixed_window_only: bool = False  # colombia: adult window always
    always_window: bool = False    # nigeria: either window, no age check
    invalid_letters: str | None = None  # germany
    # country-specific tail of the invalid-characters issue message
    # (germany_passport.py:66-68) — lives here so a future config with
    # invalid letters doesn't inherit the Germany wording
    invalid_letters_msg: str | None = None
    # ---- details-map knobs
    d_prefix: int | None = None    # passport_prefix = clean[:n] on valid
    d_china_type: bool = False     # passport_type from E/G/D prefix
    d_validity_key: str = "validity_matches_age"  # or "validity_valid"
    d_country: str = ""            # constant details["country"] initializer
    # ---- byte-exact warning tails (now part of the details contract:
    # the "; "-joined warnings copy). Shapes in passport_validator.
    w_near: str | None = None      # near-miss tail (digits- or desc-shape)
    w_child_head: str | None = None  # "Child passport "/"Minor passport "/
    #                                  "Passport "; None -> no-age shape
    w_child_tail: str = ""
    w_adult_tail: str = ""
    w_window_tail: str | None = None  # no-age / always / fixed window tail


PASSPORT_CONFIGS: dict[str, PassportConfig] = {
    "us_passport": PassportConfig(
        "us_passport", "US Passport", "USA", r"^\d{9}$", "digits:8:10",
        16, (4.5, 5.5), d_country="United States",
        w_near="US passport numbers are typically 9 digits.",
        w_child_head="Child passport ",
        w_child_tail="Expected ~5 years for applicants under 16.",
        w_adult_tail="Expected ~10 years for applicants 16+."),
    "uk_passport": PassportConfig(
        "uk_passport", "UK Passport", "GBR", r"^\d{9}$", "digits:8:10",
        16, (4.5, 5.5), d_country="United Kingdom",
        w_near="UK passport numbers are typically 9 digits.",
        w_child_head="Child passport ",
        w_child_tail="Expected ~5 years for applicants under 16.",
        w_adult_tail="Expected ~10 years for applicants 16+."),
    "india_passport": PassportConfig(
        "india_passport", "India Passport", "IND", r"^[A-Z]\d{7}$", "len:8:alpha",
        18, (4.5, 5.5), d_prefix=1, d_country="India",
        w_near="India passport: 1 letter + 7 digits (e.g., A1234567)",
        w_child_head="Minor passport ",
        w_child_tail="Expected ~5 years for applicants under 18.",
        w_adult_tail="Expected ~10 years for applicants 18+."),
    "australia_passport": PassportConfig(
        "australia_passport", "Australia Passport", "AUS", r"^[A-Z]{1,2}\d{7}$",
        "minlen:8:alpha", 16, (4.5, 5.5), d_country="Australia",
        w_near="Australia passport: 1-2 letters + 7 digits (e.g., N1234567)",
        w_child_head="Child passport ",
        w_child_tail="Expected ~5 years for applicants under 16.",
        w_adult_tail="Expected ~10 years for applicants 16+."),
    "germany_passport": PassportConfig(
        "germany_passport", "Germany Passport", "DEU", r"^[A-Z0-9]{9}$", None,
        24, (5.5, 6.5), invalid_letters="IOQS",
        invalid_letters_msg=". German passports do not use letters I, O, Q, S.", d_country="Germany",
        w_child_head="Passport ",
        w_child_tail="Expected ~6 years for applicants under 24.",
        w_adult_tail="Expected ~10 years for applicants 24+."),
    "france_passport": PassportConfig(
        "france_passport", "France Passport", "FRA", r"^\d{2}[A-Z]{2}\d{5}$",
        "france", 18, (4.5, 5.5), d_country="France",
        w_child_head="Minor passport ",
        w_child_tail="Expected ~5 years for applicants under 18.",
        w_adult_tail="Expected ~10 years for applicants 18+."),
    "nigeria_passport": PassportConfig(
        "nigeria_passport", "Nigeria Passport", "NGA", r"^[A-Z]\d{8}$", "len:9:alpha",
        None, (4.5, 5.5), always_window=True, d_prefix=1,
        d_validity_key="validity_valid", d_country="Nigeria",
        w_near="Nigeria passport: 1 letter + 8 digits (e.g., A12345678)",
        w_window_tail="Nigeria passports are typically 5 years (32-page) or 10 years (64-page)."),
    "china_passport": PassportConfig(
        "china_passport", "China Passport", "CHN", r"^[EGD]\d{8}$", "len:9:egd",
        16, (4.5, 5.5), no_age_fallback=True, d_prefix=1, d_china_type=True,
        d_validity_key="validity_valid", d_country="China",
        w_near="China passport: E/G/D + 8 digits (e.g., E12345678)",
        w_child_tail="China passports for minors (under 16) are typically valid for 5 years.",
        w_adult_tail="China passports for adults (16+) are typically valid for 10 years.",
        w_window_tail="China passports are typically 5 years (minors) or 10 years (adults)."),
    "colombia_passport": PassportConfig(
        "colombia_passport", "Colombia Passport", "COL", r"^[A-Z]{2}\d{6,7}$",
        "len89:alpha2", None, None, fixed_window_only=True, d_prefix=2,
        d_validity_key="validity_valid", d_country="Colombia",
        w_near="Colombia passport: 2 letters + 6-7 digits (e.g., AZ573250)",
        w_window_tail="Colombia passports are typically valid for 10 years."),
    "ukraine_passport": PassportConfig(
        "ukraine_passport", "Ukraine Passport", "UKR", r"^[A-Z]{2}\d{6}$",
        "len:8:alpha2", 18, (3.5, 4.5), no_age_fallback=True, d_prefix=2,
        d_validity_key="validity_valid", d_country="Ukraine",
        w_near="Ukraine passport: 2 letters + 6 digits (e.g., AA123456)",
        w_child_tail="Ukraine passports for minors (under 18) are typically valid for 4 years.",
        w_adult_tail="Ukraine passports for adults (18+) are typically valid for 10 years.",
        w_window_tail="Ukraine passports are typically 4 years (minors) or 10 years (adults)."),
}


# Byte-exact format-failure prefixes (each file's "Invalid X passport
# format. Expected: ..., Got: {document_number}" wording; file:line in
# the greps cited on DL_MSGS). The raw document number as given is
# appended.
PP_FMT_PREFIX: dict[str, str] = {
    "us_passport": "Invalid US passport format. Expected: 9 digits, Got: ",
    "uk_passport": "Invalid UK passport format. Expected: 9 digits, Got: ",
    "india_passport": (
        "Invalid India passport format. Expected: 1 letter + 7 digits (e.g., A1234567), Got: "
    ),
    "australia_passport": (
        "Invalid Australia passport format. Expected: 1-2 letters + 7 digits, Got: "
    ),
    "germany_passport": (
        "Invalid Germany passport format. Expected: 9 alphanumeric characters, Got: "
    ),
    "france_passport": (
        "Invalid France passport format. Expected: 9 characters (e.g., 12AB34567), Got: "
    ),
    "nigeria_passport": (
        "Invalid Nigeria passport format. Expected: 1 letter + 8 digits (e.g., A12345678), Got: "
    ),
    "china_passport": (
        "Invalid China passport format. Expected: E/G/D + 8 digits (e.g., E12345678), Got: "
    ),
    "colombia_passport": (
        "Invalid Colombia passport format. Expected: 2 letters + 6-7 digits (e.g., AZ573250), Got: "
    ),
    "ukraine_passport": (
        "Invalid Ukraine passport format. Expected: 2 letters + 6 digits (e.g., AA123456), Got: "
    ),
}


# V46 state table (us_drivers_license.py:10-95), format_desc verbatim
US_STATE_FORMATS = [
    ("california", "California", r"^[A-Z]\d{7}$", 16, 5,
     "A1234567 (1 letter + 7 digits)"),
    ("texas", "Texas", r"^\d{8}$", 16, 6, "12345678 (8 digits)"),
    ("florida", "Florida", r"^[A-Z]\d{12}$", 16, 8,
     "A123456789012 (1 letter + 12 digits)"),
    ("new_york", "New York", r"^\d{9}$", 16, 8, "123456789 (9 digits)"),
    ("illinois", "Illinois", r"^[A-Z]\d{11,12}$", 16, 4,
     "A12345678901 (1 letter + 11-12 digits)"),
    ("pennsylvania", "Pennsylvania", r"^\d{8}$", 16, 4, "12345678 (8 digits)"),
    ("ohio", "Ohio", r"^[A-Z]{2}\d{6}$", 16, 4, "AB123456 (2 letters + 6 digits)"),
    ("georgia", "Georgia", r"^\d{9}$", 16, 8, "123456789 (9 digits)"),
    ("michigan", "Michigan", r"^[A-Z]\d{12}$", 16, 4,
     "A123456789012 (1 letter + 12 digits)"),
    ("arizona", "Arizona", r"^[A-Z]\d{8}$|^\d{9}$", 16, 12,
     "A12345678 or 123456789"),
    ("washington", "Washington", r"^[A-Z]{1,7}[A-Z0-9*]{1,11}$", 16, 6,
     "LASTNAME*FN*MN + numbers"),
    ("new_jersey", "New Jersey", r"^[A-Z]\d{14}$", 17, 4,
     "A12345678901234 (1 letter + 14 digits)"),
]

US_STATE_INDICATORS = {
    "california": ["CA", "CALIFORNIA"], "texas": ["TX", "TEXAS"],
    "florida": ["FL", "FLORIDA"], "new_york": ["NY", "NEW YORK"],
    "illinois": ["IL", "ILLINOIS"], "pennsylvania": ["PA", "PENNSYLVANIA"],
    "ohio": ["OH", "OHIO"], "georgia": ["GA", "GEORGIA"],
    "michigan": ["MI", "MICHIGAN"], "arizona": ["AZ", "ARIZONA"],
    "washington": ["WA", "WASHINGTON"], "new_jersey": ["NJ", "NEW JERSEY"],
}

US_LETTER_MATCH_STATES = {"california", "florida", "michigan", "illinois", "new_jersey"}
