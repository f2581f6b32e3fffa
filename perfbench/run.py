"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpcxbb_power --seed 1 \
        --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones; the lines before it name every metric with its unit.
The detail record (per-pass, per-stream, per-query walls) and, for a
traced run, the span file are written under perfbench/.work/results/.
Exits 1 when an output is wrong or a query raised, 2 when the checkout
has no gpu_bdb_spark package to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import harness  # noqa: E402

GOLDENS = HERE / "goldens.json"
WORK = HERE / ".work"


def parse_args(argv: list[str] | None, names) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(names))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path) -> None:
    """Keep the Spark session, its temp files and its core count inside
    the checkout and fixed for the run."""
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        path = work / sub
        path.mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(path)
    # Python workers run this interpreter; no JVM (the launcher's
    # included) writes its perf-data file to /tmp.
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def report(result: harness.RunResult, tracer: harness.Tracer,
           out_dir: Path) -> dict:
    """Write the detail record (and spans) and return the result line."""
    e2e = harness.e2e_metrics(result)
    if result.trace:
        metrics, units = harness.layer_metrics(result, tracer), \
            harness.LAYER_UNITS
    else:
        metrics, units = e2e, harness.E2E_UNITS
    failed_ratio = result.failed / result.attempted
    tag = f"{result.workload}-seed{result.seed}-trace{int(result.trace)}"
    detail = {
        "workload": result.workload, "seed": result.seed,
        "trace": result.trace, "setup": result.setup,
        "setup_s": result.setup_s, "e2e": e2e,
        "failed_ratio": failed_ratio,
        "latency_tail_pct": harness.tail_pct(
            sum(len(p.queries) for p in result.passes if not p.traced)),
        "passes": [{"idx": p.idx, "traced": p.traced, "wall_s": p.wall_s,
                    "cpu_s": p.cpu_s, "layers": p.layers,
                    "queries": [vars(q) for q in p.queries], **p.detail}
                   for p in [result.warm, *result.passes]],
        "checks": result.checks, "raised": result.raised,
        "mismatches": result.mismatches,
    }
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{tag}.json").write_text(json.dumps(detail, indent=1))
    if result.trace:
        (out_dir / f"{tag}-spans.json").write_text(
            json.dumps(tracer.as_json()))
    print(f"workload={result.workload} seed={result.seed} "
          f"trace={int(result.trace)} passes={len(result.passes)} "
          f"failed_ratio={failed_ratio:.4g} "
          f"({result.failed}/{result.attempted})")
    for name in units:
        print(f"  {name} = {metrics[name]:.6g} {units[name]}")
    for line in result.raised + result.mismatches:
        print(f"  FAILED {line}")
    print(f"  detail: {out_dir / (tag + '.json')}")
    return harness.result_line(result, metrics, units)


def main(argv: list[str] | None = None, workloads: dict | None = None,
         goldens: dict | None = None, work_root: Path = WORK) -> int:
    """Run one workload; `workloads`, `goldens` and `work_root` default
    to the Spark workloads, goldens.json and perfbench/.work."""
    if not (ROOT / "gpu_bdb_spark").is_dir():
        print(f"no gpu_bdb_spark package under {ROOT}: nothing to measure",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS, clean_dir

    workloads = workloads or WORKLOADS
    args = parse_args(argv, workloads)
    if goldens is None:
        goldens = json.loads(GOLDENS.read_text())[args.workload]
    work = clean_dir(work_root / args.workload)
    configure_env(work)
    wl = workloads[args.workload](work)
    try:
        result, tracer = harness.run_workload(
            wl, seconds=args.seconds, seed=args.seed,
            trace=bool(args.trace), goldens=goldens)
    finally:
        wl.close()
    line = report(result, tracer, work_root / "results")
    print(json.dumps(line))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
