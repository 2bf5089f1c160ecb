"""perfbench — seeded end-to-end benchmark of the webxtract pipeline.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed`` (``webxtract.synth.gen_pages``), then submits jobs in a
closed loop with one client: each job is its own process on
``local[N]`` with N = the CPUs this process may use, like one
``webxtract.cli`` submission, and the next job starts only after the
previous one has committed and exited. Jobs are submitted until their
summed wall time reaches ``--seconds`` (at least one). Outputs are
checked after each job, outside the timed window.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
traced job instead and prints the per-layer metrics (BENCHMARK.json
lists both). The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything is written under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (trace spans) in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench.procs import become_subreaper, stop_descendants  # noqa: E402

# Sizes are set by the run budget: a cold pipeline submission is 50-95 s
# (host-dependent) of mostly driver-side Column building and Catalyst work,
# nearly the same at 1000 pages as at 2000; curate is cut so that both
# workloads' runs fit the budget.
WORKLOADS = {
    "curate_corpus": {"base_pages": 500, "files": 4},
    "pipeline_batch": {"pages": 2000, "files": 16},
}
# layers each workload runs; a declared per-layer metric outside them reads 0
OWNED = {
    "pipeline_batch": ("table_io.", "ops.", "audit.", "pipeline.", "spark.", "trace."),
    "curate_corpus": ("dedup.", "curation.", "spark.", "trace.job_s", "trace.collect_s"),
}
RUN_LIMIT_S = 170.0  # a run must exit within 180 s


def submit(spec: dict, work: str, timeout_s: float) -> tuple[dict | None, str]:
    """Run one job process to its end. Returns (result or None, log tail)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(spec["cpus"]),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        # keep the JVM's scratch files inside the checkout
        JAVA_TOOL_OPTIONS=(env.get("JAVA_TOOL_OPTIONS", "")
                           + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip(),
    )
    spec_path = os.path.join(work, f"spec-{spec['job']}.json")
    log_path = os.path.join(work, f"job-{spec['job']}.log")
    with open(log_path, "w") as log:
        spec["launch_ts"] = time.time()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            pass
        finally:
            proc.kill()
            proc.wait()
            # the job's JVM, PySpark's daemon and its workers outlive the
            # job process; as subreaper this process inherited them
            stop_descendants()
    with open(log_path, errors="replace") as f:
        tail = "".join(f.readlines()[-25:])
    if proc.returncode != 0 or not os.path.exists(spec["result_path"]):
        return None, tail
    with open(spec["result_path"]) as f:
        return json.load(f), tail


def run_job(workload: str, seed: int, k: int, trace: bool, work: str, cpus: int,
            timeout_s: float) -> dict:
    """Generate job k's inputs, submit it, check its outputs."""
    d = os.path.join(work, f"job{k}")
    spec = {
        "root": ROOT, "cpus": cpus, "workload": workload, "trace": trace, "job": k,
        "run_date": inputs.RUN_DATE,
        "output": os.path.join(d, "output"),
        "result_path": os.path.join(d, "result.json"),
        "spans_path": os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-seed{seed}-job{k}.json"),
    }
    os.makedirs(d)
    os.makedirs(os.path.dirname(spec["spans_path"]), exist_ok=True)
    cfg = WORKLOADS[workload]
    if workload == "pipeline_batch":
        paths = [os.path.join(d, "pages")] + ([os.path.join(d, "ladder_pages")] if trace else [])
        expected, props = inputs.pipeline_inputs(seed, k, cfg["pages"], paths, cfg["files"])
        spec.update(pages=paths[0], ladder_pages=paths[-1],
                    audit=os.path.join(d, "audit"), run_id=f"s{seed}-j{k}")
        docs = cfg["pages"]
    else:
        spec["table"] = os.path.join(d, "docs")
        plants, props = inputs.curate_inputs(seed, k, cfg["base_pages"], spec["table"], cfg["files"])
        docs = props["docs"]

    res, tail = submit(spec, work, timeout_s)
    rec = {"docs": docs, "props": props, "errors": [], "layers": {}}
    if res is None:
        rec["errors"].append("job process failed:\n" + tail)
        return rec
    rec.update(setup_s=res["setup_s"], job_s=res["job_s"], peak_rss_mb=res["peak_rss_mb"])
    if workload == "pipeline_batch":
        chk = checks.check_pipeline(expected, spec["output"], spec["audit"], res["urls"])
    else:
        chk = checks.check_curate(spec["table"], spec["output"], plants)
    rec["errors"] += chk["errors"]
    rec["digest"] = chk["digest"]
    rec["layers"] = {**res.get("layers", {}), **chk["layers"]}
    return rec


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(recs: list[dict]) -> dict:
    ok = [r for r in recs if "job_s" in r]
    walls = [r["job_s"] for r in ok]
    return {
        "docs_per_s": sum(r["docs"] for r in ok) / sum(walls) if walls else 0.0,
        "job_s_p50": statistics.median(walls) if walls else 0.0,
        "setup_s": statistics.median(r["setup_s"] for r in ok) if ok else 0.0,
        "peak_rss_mb": max(r["peak_rss_mb"] for r in ok) if ok else 0.0,
    }


def per_layer(workload: str, rec: dict, names: list[str]) -> dict:
    """The declared per-layer metrics; 0 for layers the workload does not
    run (and for every layer of a job that failed)."""
    out = {}
    for n in names:
        if n in rec["layers"]:
            out[n] = rec["layers"][n]
        elif n.startswith(OWNED[workload]) and not rec["errors"]:
            raise KeyError(f"{workload} did not report {n}")
        else:
            out[n] = 0
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # a terminated run still stops its job and what the job started
    # (the finally blocks of submit and main)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    if importlib.util.find_spec("webxtract") is None:
        sys.exit(f"perfbench: no webxtract package under {ROOT}")
    spec = declared()
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    start = time.monotonic()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work)
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"local[{cpus}]", flush=True)
    recs: list[dict] = []
    try:
        measured = 0.0
        while not recs or (measured < args.seconds and not args.trace):
            left = RUN_LIMIT_S - (time.monotonic() - start)
            if recs and left < 2 * max(r.get("job_s", 0) + r.get("setup_s", 0) for r in recs):
                break  # another job would not finish inside the run limit
            rec = run_job(args.workload, args.seed, len(recs), bool(args.trace), work,
                          cpus, max(left, 10.0))
            recs.append(rec)
            measured += rec.get("job_s", 0.0)
            print(f"job {len(recs) - 1}: input {json.dumps(rec['props'])}", flush=True)
            print(f"job {len(recs) - 1}: setup_s {rec.get('setup_s', float('nan')):.3f} "
                  f"job_s {rec.get('job_s', float('nan')):.3f} docs {rec['docs']} "
                  f"peak_rss_mb {rec.get('peak_rss_mb', float('nan')):.1f} digest {rec.get('digest')} "
                  f"{'ok' if not rec['errors'] else 'FAILED'}", flush=True)
            for e in rec["errors"]:
                print(f"job {len(recs) - 1}: error: {e}", file=sys.stderr, flush=True)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in recs if r["errors"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        metrics = per_layer(args.workload, recs[0], [m["name"] for m in spec["per_layer"]])
    else:
        metrics = end_to_end(recs)
        print(f"metric failed_frac {failed / len(recs):.4f} ratio", flush=True)
        print(f"metric job_s_tail n/a: {len(recs)} job(s) in this run, the tail "
              f"percentile needs more than 10 beyond it", flush=True)
    for name, v in metrics.items():
        print(f"metric {name} {v} {units[name]}", flush=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
