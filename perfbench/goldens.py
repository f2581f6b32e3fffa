"""Regenerate the output fingerprints in perfbench/goldens.json.

    python3 perfbench/goldens.py            # every workload
    python3 perfbench/goldens.py --workload curation_power

For each workload this sets up the generated data, runs two passes,
fingerprints the outputs after each and requires them to agree (a result
that differs between two passes in one session cannot have a golden).
Registry entries that carry `oracle_sql` are cross-checked once against
DuckDB on the same generated parquet. Goldens are written only when
every check passes; otherwise the disagreements are printed and the
script exits 1.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
if str(HERE.parent) not in sys.path:
    sys.path.insert(0, str(HERE.parent))

from perfbench import harness  # noqa: E402
from perfbench.run import GOLDENS, WORK, configure_env  # noqa: E402


def duckdb_fingerprints(data_dir: str, names) -> dict[str, dict]:
    """Fingerprints of each named entry's oracle SQL run by DuckDB."""
    import duckdb

    from gpu_bdb_spark.queries.registry import oracle_sql
    from gpu_bdb_spark.testdata_gen import TESTDATA_TABLES

    oracles = oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{WORK / 'duckdb-tmp'}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    return {n: harness.arrow_fingerprint(con.execute(oracles[n]).arrow())
            for n in names if n in oracles}


def one(name: str) -> int:
    from perfbench.workloads import WORKLOADS, RegistryWorkload, clean_dir

    work = clean_dir(WORK / f"goldens-{name}")
    configure_env(work)
    wl = WORKLOADS[name](work)
    tracer = harness.Tracer(False)
    problems = []
    try:
        wl.setup(tracer, 0)
        checks = []
        for idx in (-1, -2):
            runs, _, _ = wl.run_pass(idx, list(wl.queries), tracer, False)
            problems += [f"{q.query} raised {q.error}" for q in runs
                         if q.error]
            checks.append(wl.check())
        first, second = checks
        problems += [f"{k}: {first[k]} then {second.get(k)}"
                     for k in first if first[k] != second.get(k)]
        problems += [f"{k}: {v['error']}" for k, v in first.items()
                     if "error" in v]
        if isinstance(wl, RegistryWorkload):
            oracle = duckdb_fingerprints(wl.data, wl.queries)
            for k, v in oracle.items():
                status = "oracle-ok" if v == first[k] else "ORACLE-MISMATCH"
                print(f"{name}/{k}: {status} spark={first[k]} duckdb={v}",
                      file=sys.stderr)
                if v != first[k]:
                    problems.append(f"{k}: spark {first[k]} duckdb {v}")
    finally:
        wl.close()
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    print(json.dumps({name: first}))
    return 0


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    if args.workload:
        return one(args.workload)
    goldens = {}
    for name in WORKLOADS:  # one Spark session per workload, as in a run
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name],
            stdout=subprocess.PIPE, text=True, check=False)
        if proc.returncode != 0:
            return proc.returncode
        goldens.update(json.loads(proc.stdout.strip().splitlines()[-1]))
    GOLDENS.write_text(json.dumps(goldens, indent=1, sort_keys=True) + "\n")
    print(f"wrote {GOLDENS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
