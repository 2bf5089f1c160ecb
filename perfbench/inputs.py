"""Seeded inputs for the perfbench workloads.

Everything here is a pure function of ``(seed, job)``: the same pair
always writes byte-identical parquet. The program under test only ever
sees the files; the expectations stay in the benchmark process.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

RUN_DATE = "2026-01-15"

# Fixed arrow schema: a part file whose ``text`` values are all NULL would
# otherwise be inferred as INT32 and Spark refuses to read it as string.
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def synth_seed(seed: int, job: int) -> int:
    """The ``webxtract.synth`` seed of job ``job`` in a run seeded ``seed``."""
    return seed * 1009 + job


def _write_parts(table: pa.Table, path: str, n_files: int) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


def pipeline_inputs(
    seed: int, job: int, n_pages: int, paths: list[str], n_files: int
) -> tuple[pd.DataFrame, dict]:
    """Write one increment of synth's default page mix to every path in
    ``paths`` (identical copies, so each reader sees a directory no
    earlier reader has seen). Returns (expected, input properties)."""
    from webxtract.synth import gen_pages

    pages, expected = gen_pages(n_pages, RUN_DATE, seed=synth_seed(seed, job))
    table = pa.Table.from_pandas(pages, schema=PAGES_SCHEMA, preserve_index=False)
    for p in paths:
        _write_parts(table, p, n_files)

    kinds = Counter(expected["source_kind"])
    # malformed payloads surface as html rows that fail to parse
    malformed = int(
        ((expected["source_kind"] == "html") & expected["parse_failure"]).sum()
    )
    html_ok = int(((expected["source_kind"] == "html") & ~expected["parse_failure"]).sum())
    pdfs = kinds["pdf"] + kinds["pdf_ocr"]
    hosts = Counter(u.split("/")[2] for u in pages["url"])
    payload = [len(h) if h is not None else len(t or "") for h, t in zip(pages["html"], pages["text"])]
    props = {
        "increment_pages": n_pages,
        "files": n_files,
        "share.html": round(kinds["html"] / n_pages, 4),
        "share.pdf": round(pdfs / n_pages, 4),
        "share.pdf_scan_only": round(kinds["pdf_ocr"] / max(pdfs, 1), 4),
        "share.text": round(kinds["text"] / n_pages, 4),
        "share.none": round(kinds["none"] / n_pages, 4),
        "share.malformed": round(malformed / n_pages, 4),
        "share.id_documents_of_html": round(
            int(expected["expected_doc_type"].notna().sum()) / max(html_ok, 1), 4
        ),
        "share.top_host": round(hosts.most_common(1)[0][1] / n_pages, 4),
        "bytes_per_page": round(sum(payload) / n_pages, 1),
        "share.resubmitted": 0.0,
    }
    return expected, props


def curate_inputs(
    seed: int, job: int, n_base: int, path: str, n_files: int
) -> tuple[dict, dict]:
    """Write a seeded ``(doc_id, text)`` table: synth's expected extracted
    text of its non-ID pages plus planted exact copies, near copies (a
    few tokens changed) and superset copies (source text plus a tail
    from another document).

    Returns (plants, input properties); ``plants`` maps each planted
    kind to its ``(copy_id, source_id)`` pairs."""
    from webxtract.synth import gen_pages

    s = synth_seed(seed, job)
    _, expected = gen_pages(n_base, RUN_DATE, seed=s)
    # ID-document pages are left out: their templated text forms large
    # near-duplicate clusters whose size varies with the seed, and the
    # component loop's round count (hence the run time) with it
    base = [
        t for t, dt in zip(expected["extracted_text"], expected["expected_doc_type"])
        if t and dt is None
    ]
    rnd = random.Random(s)
    texts = list(base)
    origin: list[tuple[str, int]] = [("base", -1)] * len(base)

    def plant(kind: str, share: float, make) -> None:  # noqa: ANN001
        for src in sorted(rnd.sample(range(len(base)), int(share * len(base)))):
            texts.append(make(base[src]))
            origin.append((kind, src))

    def near(t: str) -> str:
        toks = t.split(" ")
        for i in rnd.sample(range(len(toks)), min(2, len(toks))):
            toks[i] = toks[i] + "q"
        return " ".join(toks)

    def superset(t: str) -> str:
        tail = " ".join(rnd.choice(base).split()[:40])
        return t + "\n\n" + tail

    plant("exact", 0.08, lambda t: t)
    plant("near", 0.08, near)
    plant("superset", 0.04, superset)

    ids = list(range(len(texts)))
    rnd.shuffle(ids)  # copies must not sit in one contiguous id range
    table = pa.Table.from_pandas(
        pd.DataFrame({"doc_id": ids, "text": texts}), schema=DOCS_SCHEMA,
        preserve_index=False,
    )
    _write_parts(table, path, n_files)

    plants: dict[str, list[tuple[int, int]]] = {"exact": [], "near": [], "superset": []}
    for i, (kind, src) in enumerate(origin):
        if kind != "base":
            plants[kind].append((ids[i], ids[src]))
    n = len(texts)
    props = {
        "docs": n,
        "files": n_files,
        "share.exact_copies": round(len(plants["exact"]) / n, 4),
        "share.near_copies": round(len(plants["near"]) / n, 4),
        "share.superset_copies": round(len(plants["superset"]) / n, 4),
        "bytes_per_doc": round(sum(len(t.encode()) for t in texts) / n, 1),
    }
    return plants, props
