#!/usr/bin/env python3
"""Cross-check the query members' expected digests against the DuckDB oracle.

Usage, from the repo root (needs the fixture and the duckdb module):

    python3 perfbench/oracle_check.py [sf_dir]

Three steps, all on the same result files:
  1. graft.Verify writes each member's result as parquet, with the
     oracle SQL beside it;
  2. tools/local_verify.py compares those results with DuckDB running
     the oracle SQL (rows sorted, columns by name);
  3. the benchmark digests the same files and compares them with
     perfbench/expected.json.
A member passes when both comparisons do; the exit code is 0 only if
every member passes. Run it whenever expected.json is rewritten
(`graft.perfbench.Main --expect`).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import run as bench


def java(*args, work, sf):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return subprocess.run(bench.java_command(work, list(args)), cwd=work,
                          env=dict(os.environ, PERFBENCH_SF_DIR=sf),
                          stdout=subprocess.PIPE, text=True).stdout


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else os.path.expanduser("~/testdata/sf0.1")
    bench.build(time.time() + bench.BUILD_LIMIT_S)
    os.makedirs(os.path.join(bench.BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(bench.BENCH, ".work"))
    try:
        with open(os.path.join(bench.BENCH, "expected.json")) as fh:
            members = sorted(json.load(fh)["digests"])
        out = os.path.join(work, "verify")
        java("graft.Verify", sf, out, ",".join(members), work=work, sf=sf)
        oracle = subprocess.run(
            [sys.executable, os.path.join(bench.ROOT, "tools", "local_verify.py"), sf, out],
            stdout=subprocess.PIPE, text=True).stdout
        digests = java("graft.perfbench.Main", "--check-dir", out,
                       "--bench-dir", bench.BENCH, work=work, sf=sf)
        print(oracle.strip())
        print(digests.strip())

        def passed(text, tags):
            return {l.split()[1].rstrip(":") for l in text.splitlines() if l.startswith(tags)}
        ok = passed(oracle, ("PASS", "SKIP")) & passed(digests, ("PASS",))
        bad = [m for m in members if m not in ok]
        print(f"\n{len(members) - len(bad)}/{len(members)} members match the oracle and "
              f"their expected digest" + (f"; failing: {', '.join(bad)}" if bad else ""))
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
