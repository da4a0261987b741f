"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. With ``--trace 0``
the last line of standard output carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and the spans go to
``.perfbench_work/trace-<workload>-<seed>.json``. ``--tiny`` shrinks
every input so each workload finishes in well under a minute (the
benchmark's own tests use it). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_drain", "ingest_live", "curation_batch")
END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def source_commit() -> str:
    """The git commit when there is one, else a hash of the program's sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for p in sorted((ROOT / "atiesh_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="atiesh_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="small inputs, for self-tests")
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "atiesh_spark" / "__init__.py").is_file():
        print(f"perfbench: no atiesh_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{run_id}"
    (work / "tmp").mkdir(parents=True)
    # executors import the package from the checkout; every scratch file
    # stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))

    from harness import RssSampler, Run, Tracer, stop_spark

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "tiny": args.tiny, "run_id": run_id,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": os.getloadavg(),
        "commit": source_commit(),
    }
    run = Run(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), tiny=args.tiny, work=work,
              tracer=Tracer(run_id, bool(args.trace)), rss=RssSampler())
    run.rss.start()
    t_run = time.perf_counter()
    steal0, total0 = cpu_ticks()
    try:
        if args.workload == "curation_batch":
            import curation

            result = curation.curation_batch(run)
        else:
            import ingest

            result = getattr(ingest, args.workload)(run)
    finally:
        peak_mb = run.rss.stop()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"]["peak_rss_mb"] = peak_mb
    provenance["loadavg_end"] = os.getloadavg()
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests: high values mean the
    # run was slowed from outside the container
    provenance["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    provenance["run_s"] = time.perf_counter() - t_run
    provenance["samples"] = result.get("samples")

    missing = [k for k, v in result["metrics"].items() if v is None]
    correct = result["failed"] == 0 and not missing
    if args.trace:
        units = per_layer_units()
        run.layer["trace.spans"] = len(run.tracer.spans)
        run.layer["trace.record_ms"] = run.tracer.cost_s * 1e3
        for name, value in result["metrics"].items():
            run.layer[f"traced.{name}"] = value
        metrics = {name: {"value": float(run.layer.get(name) or 0.0), "unit": unit}
                   for name, unit in units.items()}
        run.tracer.write(base / f"trace-{args.workload}-{args.seed}.json",
                         {"provenance": provenance, "per_layer": run.layer,
                          "end_to_end": result["metrics"], **run.notes})
    else:
        metrics = {name: {"value": float(result["metrics"][name] or 0.0), "unit": unit}
                   for name, unit in END_TO_END.items()}
    record = {"provenance": provenance, "correct": correct, "attempted": result["attempted"],
              "failed": result["failed"], "missing": missing, "metrics": metrics,
              "layer": run.layer}
    base.mkdir(exist_ok=True)
    with open(base / "results.jsonl", "a", encoding="utf-8") as f:
        f.write(json.dumps(record) + "\n")
    print("provenance " + json.dumps(provenance))
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
