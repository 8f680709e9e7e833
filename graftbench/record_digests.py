#!/usr/bin/env python3
"""Re-records graftbench/board_digests.json, the per-query output digests
the query_board workload checks against.

  python3 graftbench/record_digests.py

Builds the harness, runs each board query over graftbench/data/sf0.01
once and writes its output as parquet, then checks every output that has
oracle SQL against DuckDB with scripts/check_oracle.py. The digests are
written only if every such query passes; queries without oracle SQL are
marked "no oracle" in the file. Re-record only when a query's output
changes on purpose, and say so in the change.
"""
import json
import re
import shutil
import subprocess
import sys

import run

OUT = run.HERE / "board_digests.json"


def main():
    classpath = run.build()
    work = run.BUILD / "record"
    shutil.rmtree(work, ignore_errors=True)
    try:
        out_dir = work / "out"
        run.run_main(classpath, work, trace=False,
                     cds=f"-XX:SharedArchiveFile={run.ARCHIVE}",
                     args=["--record", str(out_dir), "--data", str(run.BOARD_DATA)],
                     timeout=run.TRAIN_TIMEOUT_S)
        check = subprocess.run(
            [sys.executable, str(run.ROOT / "scripts" / "check_oracle.py"),
             str(run.BOARD_DATA), str(out_dir)], capture_output=True, text=True)
        print(check.stdout)
        oracle = json.loads((out_dir / "oracle_sql.json").read_text())
        passed = set(re.findall(r"^OK\s+(\S+)", check.stdout, re.M))
        if check.returncode != 0 or set(oracle) - passed:
            sys.exit(f"oracle check failed for {sorted(set(oracle) - passed)}; digests not written")
        recorded = json.loads((out_dir / "digests.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    recorded["oracle"] = {q: ("pass" if q in oracle else "no oracle")
                          for q in sorted(recorded["digests"])}
    OUT.write_text(json.dumps(recorded, indent=2) + "\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
