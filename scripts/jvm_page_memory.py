"""Reproducer for the driver JVM's memory under two Tungsten page sizes.

One cold ``run_pipeline`` commit (``audit.run_extraction_job`` with
``transform=run_pipeline``, as ``cli --mode pipeline`` runs it) over
``synth.gen_pages(N)`` on local[4], in a fresh interpreter and JVM for
each of two settings:

- ``default``: the page size ``get_spark`` derives from the local heap
  (1 MiB at local[4]);
- ``64m``: ``extra_conf`` ``spark.buffer.pageSize=64m``, the page Spark
  itself picks for a local[4] session with an 8g heap.

Every memory consumer of every task (an Arrow row queue, a sort, a hash
aggregate, a join, a window) takes at least one page, so with 64 MB
pages a run of a few thousand rows still grows the heap by a page per
consumer per task, and G1 allocates each page as a humongous object.
Each run logs the JVM's GC with ``-Xlog:gc`` to a temp file; the script
reports the JVM's peak RSS (``VmHWM``), the peak committed heap from the
GC log and the number of ``G1 Humongous Allocation`` pauses.

Usage: python scripts/jvm_page_memory.py [N]
N pages (default 2000); prints a report and one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SETTINGS = {"default": {}, "64m": {"spark.buffer.pageSize": "64m"}}
RUN_DATE = "2026-01-15"


def _run(setting: str, n_pages: int, work: str) -> dict:
    """One cold commit in this process; returns its JVM's memory."""
    from webxtract.audit import run_extraction_job
    from webxtract.pipeline import run_pipeline
    from webxtract.session import get_spark
    from webxtract.synth import gen_pages, to_parquet

    gc_log = os.path.join(work, "gc.log")
    spark = get_spark(
        "jvm-page-memory",
        master="local[4]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.extraJavaOptions": f"-Xlog:gc:file={gc_log}",
            **SETTINGS[setting],
        },
    )
    pages, _ = gen_pages(n_pages, RUN_DATE, seed=7)
    to_parquet(pages, os.path.join(work, "pages.parquet"))
    m = run_extraction_job(
        spark.read.parquet(os.path.join(work, "pages.parquet")),
        output_path=os.path.join(work, "out"),
        audit_path=os.path.join(work, "audit"),
        run_id="page-memory",
        spark=spark,
        transform=lambda df: run_pipeline(df, run_date=RUN_DATE),
    )
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = int(re.search(r"VmHWM:\s+(\d+) kB", f.read()).group(1))
    spark.stop()
    with open(gc_log) as f:
        log = f.read()
    # "... Pause Young (Normal) (G1 Evacuation Pause) 52M->12M(256M) 3.1ms":
    # the size in parentheses is the heap committed after the pause
    committed = [int(x) for x in re.findall(r"->\d+M\((\d+)M\)", log)]
    return {
        "page_bytes": page,
        "urls": m["urls"],
        "vm_hwm_mb": hwm_kb / 1024,
        "peak_committed_heap_mb": max(committed, default=0),
        "humongous_pauses": log.count("G1 Humongous Allocation"),
        "gc_pauses": len(committed),
    }


def main(n_pages: int = 2000) -> dict:
    res: dict = {"pages": n_pages, "cores": 4}
    for setting in SETTINGS:
        with tempfile.TemporaryDirectory() as work:
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", setting,
                 str(n_pages), work],
                capture_output=True, text=True, check=False,
            )
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-3000:])
                raise SystemExit(f"the {setting} run failed")
            res[setting] = json.loads(out.stdout.strip().splitlines()[-1])
    print(f"one cold run_pipeline commit, {n_pages} pages, local[4]")
    for setting in SETTINGS:
        r = res[setting]
        print(f"  {setting:8s} page {r['page_bytes'] >> 10:6d} KiB  "
              f"JVM VmHWM {r['vm_hwm_mb']:7.0f} MB  "
              f"peak committed heap {r['peak_committed_heap_mb']:6d} MB  "
              f"humongous pauses {r['humongous_pauses']}")
    print(json.dumps(res))
    return res


if __name__ == "__main__":
    if sys.argv[1:2] == ["--run"]:
        print(json.dumps(_run(sys.argv[2], int(sys.argv[3]), sys.argv[4])))
    else:
        main(*[int(a) for a in sys.argv[1:2]])
