"""Output checks, run in the benchmark process after a job has exited
(outside every timed window). They read the committed parquet with
DuckDB, compare it with the generator's expectations, and return the
counts the per-layer metrics need plus a digest of the checked rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd

FIELD_NAMES = [
    "document_title", "full_name", "first_name", "last_name",
    "document_number", "date_of_birth", "issue_date", "expiry_date",
    "gender", "address", "nationality", "country_code", "mrz",
]


def _py(v):  # noqa: ANN001, ANN202
    """NULL-normalised python value (pandas NaN/NA/None -> None)."""
    if v is None or (not isinstance(v, (str, bytes, list)) and pd.isna(v)):
        return None
    return v.item() if hasattr(v, "item") else v


def digest(df: pd.DataFrame, key: str) -> str:
    rows = df.sort_values(key).astype(object).map(_py).values.tolist()
    return hashlib.sha256(json.dumps(rows, default=str).encode()).hexdigest()[:16]


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def check_pipeline(expected: pd.DataFrame, output: str, audit: str, urls: int) -> dict:
    """Compare a pipeline job's committed output and audit rows with
    synth's expectations (the comparisons tests/test_rules_pipeline.py
    makes, over every row of the increment)."""
    con = duckdb.connect()
    cols = ", ".join(FIELD_NAMES)
    got = con.execute(
        f"""SELECT url, extracted_text, source_kind, parse_failure, {cols},
                   doc_type.document_type AS document_type,
                   fake_detection.is_fake AS is_fake,
                   validation_summary.overall_status AS status
            FROM read_parquet('{output}/**/*.parquet', hive_partitioning = true)"""
    ).df()
    aud = con.execute(
        f"SELECT url_count, wall_ms FROM read_parquet('{audit}/*.parquet')"
    ).df()
    con.close()

    errors: list[str] = []
    n_in = len(expected)
    if len(got) != n_in or got["url"].nunique() != n_in:
        errors.append(f"committed {len(got)} rows ({got['url'].nunique()} urls), input {n_in}")
    if int(aud["url_count"].sum()) != urls:
        errors.append(f"audit url_count sum {int(aud['url_count'].sum())} != urls {urls}")
    wall_missing = int(aud["wall_ms"].isna().sum())
    if wall_missing:
        errors.append(f"{wall_missing} audit rows without wall_ms")

    m = expected.merge(got, on="url", how="left", suffixes=("_exp", ""), indicator=True)
    missing = int((m["_merge"] != "both").sum())
    if missing:
        errors.append(f"{missing} input urls not committed")
    ids = m["expected_doc_type"].notna()
    articles = ~ids & (m["source_kind_exp"] == "html") & ~m["parse_failure_exp"]
    bad: dict[str, int] = {}

    def compare(col: str, want: pd.Series, rows: pd.Series) -> None:
        n = sum(
            _py(a) != _py(b)
            for a, b in zip(m.loc[rows, col], want[rows])
        )
        if n:
            bad[col] = n

    every = pd.Series(True, index=m.index)
    for c in ("extracted_text", "source_kind", "parse_failure"):
        compare(c, m[f"{c}_exp"], every)
    for f in FIELD_NAMES:
        compare(f, m[f"{f}_exp"], ids | articles)
    compare("document_type", m["expected_doc_type"], ids)
    compare("document_type", pd.Series("unknown", index=m.index), articles)
    compare("is_fake", m["is_fake_doc"], ids)
    if bad:
        errors.append(f"mismatched rows by column: {bad}")

    kinds = got["source_kind"].value_counts()
    status = got["status"].value_counts()
    n_files, n_bytes = _files(output)
    checked = ["url", "extracted_text", "source_kind", "parse_failure", *FIELD_NAMES,
               "document_type", "is_fake", "status"]
    return {
        "errors": errors,
        "digest": digest(got[checked], "url"),
        "layers": {
            **{f"ops.extract.rows.{k}": int(kinds.get(k, 0))
               for k in ("html", "pdf", "pdf_ocr", "text", "none")},
            "ops.extract.parse_failures": int(got["parse_failure"].sum()),
            "ops.fake.flagged": int(got["is_fake"].fillna(False).sum()),
            **{f"ops.validators.status.{k}": int(status.get(k, 0))
               for k in ("passed", "warning", "failed")},
            "audit.write.files": n_files,
            "audit.write.bytes": n_bytes,
            "audit.audit_rows.wall_ms_missing": wall_missing,
        },
    }


def check_curate(table: str, output: str, plants: dict) -> dict:
    """exact_dedup groups must equal DuckDB's GROUP BY md5(text) over the
    text the chain deduplicated, and every planted exact copy must share
    its source's dedup_keep_best cluster."""
    con = duckdb.connect()
    norm = f"read_parquet('{output}/normalize_text/*.parquet')"
    ref = con.execute(
        f"""SELECT md5(text_norm) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS dup_count FROM {norm} GROUP BY 1"""
    ).df()
    got = con.execute(
        f"SELECT text_hash, keep_id, dup_count FROM read_parquet('{output}/exact_dedup/*.parquet')"
    ).df()
    n_docs = con.execute(f"SELECT count(*) FROM read_parquet('{table}/*.parquet')").fetchone()[0]
    n_norm, n_changed = con.execute(f"SELECT count(*), count_if(changed) FROM {norm}").fetchone()
    comp = dict(
        con.execute(
            f"SELECT id, component FROM read_parquet('{output}/keep_best/*.parquet')"
        ).fetchall()
    )
    n_pairs = con.execute(
        f"SELECT count(*) FROM read_parquet('{output}/pairs/*.parquet')"
    ).fetchone()[0]
    n_dsir = con.execute(f"SELECT count(*) FROM read_parquet('{output}/dsir/*.parquet')").fetchone()[0]
    con.close()

    errors: list[str] = []
    key = ["text_hash", "keep_id", "dup_count"]
    a = ref.sort_values(key).reset_index(drop=True)
    b = got.sort_values(key).reset_index(drop=True)
    if not a.astype(str).equals(b.astype(str)):
        errors.append(f"exact_dedup: {len(b)} groups, DuckDB md5 GROUP BY has {len(a)}")
    if n_norm != n_docs or n_changed:
        errors.append(f"normalize_text: {n_norm} rows of {n_docs}, {n_changed} changed")
    split = [c for c, s in plants["exact"] if comp.get(c) is None or comp.get(c) != comp.get(s)]
    if split:
        errors.append(f"{len(split)} planted exact copies outside their source's cluster")
    if n_dsir != n_docs or len(comp) != n_docs:
        errors.append(f"dsir {n_dsir} / keep_best {len(comp)} rows, table {n_docs}")
    return {
        "errors": errors,
        "digest": digest(got, "text_hash"),
        "layers": {"dedup.simhash_near_dup_pairs.pairs": int(n_pairs)},
    }
