"""Focused A/B timing of the extraction+validation pipeline hot path.

Usage: python scripts/perf_pipeline.py [n_rows] [n_passes]
Times run_pipeline over the cached bench corpus."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_passes = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from webxtract.pipeline import run_pipeline
    from webxtract.session import get_spark
    from webxtract.synth import write_corpus

    cache = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_cache",
        f"pages_{n_rows}",
    )
    marker = os.path.join(cache, "pages.parquet")
    if not os.path.exists(marker):
        write_corpus(cache, n_rows, "2026-01-15")

    spark = get_spark(
        "webxtract-perf",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import json
    import urllib.request

    app_id = spark.sparkContext.applicationId
    ui_base = spark.sparkContext.uiWebUrl

    def _cpu() -> tuple[float, float, float]:
        """(cpu core-s, gc s, run core-s) over completed stages."""
        try:
            url = f"{ui_base}/api/v1/applications/{app_id}/stages?status=complete"
            data = json.load(urllib.request.urlopen(url, timeout=10))
            cpu = sum(s["executorCpuTime"] for s in data) / 1e9
            gc = sum(s["jvmGcTime"] for s in data) / 1e3
            run = sum(s["executorRunTime"] for s in data) / 1e3
            return cpu, gc, run
        except Exception:
            return 0.0, 0.0, 0.0

    def _force(df) -> None:  # noqa: ANN001
        df.write.format("noop").mode("overwrite").save()

    walls, cpus, gcs, runs = [], [], [], []
    for _ in range(n_passes):
        c0, g0, r0 = _cpu()
        t0 = time.perf_counter()
        _force(run_pipeline(spark.read.parquet(marker), run_date="2026-01-15"))
        walls.append(round(time.perf_counter() - t0, 2))
        c1, g1, r1 = _cpu()
        cpus.append(round(max(0.0, c1 - c0), 1))
        gcs.append(round(max(0.0, g1 - g0), 1))
        runs.append(round(max(0.0, r1 - r0), 1))
    print(
        {
            "n_rows": n_rows,
            "walls": walls,
            "min": min(walls),
            "cpu_core_s": cpus,
            "gc_s": gcs,
            "run_core_s": runs,
        }
    )
    spark.stop()


if __name__ == "__main__":
    main()
