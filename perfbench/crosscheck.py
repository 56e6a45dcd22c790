#!/usr/bin/env python3
"""Cross-check query_pack's expected outputs against the DuckDB twins.

    python3 perfbench/crosscheck.py [sf0.1|sf0.001]

The expected row counts and hashes in perfbench/expected/<scale>.tsv were
recorded from graft's own output (run.py --record). This script shows that
output is right where an oracle exists: it dumps every query of the
sampling pool with graft.Verify, compares each dump with its DuckDB twin
through tools/check_oracle.py, and compares each dump's row count with the
recorded one. Run it after the build (any run.py call builds).
"""
import csv
import glob
import os
import shutil
import subprocess
import sys

import pandas as pd

import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CANDIDATES, TOLERANCE = 3, 0.2  # QueryPack.Candidates / QueryPack.Tolerance


def pool(rows):
    """The sampling pool, by QueryPack.pool's rule."""
    packs = {}
    for r in rows:
        packs.setdefault(r["pack"], []).append((r["query"], float(r["ref_ms"])))
    out = []
    for qs in packs.values():
        cs = sorted(c for _, c in qs)
        pos = 0.25 * (len(cs) - 1)  # Stats.quantile: linear interpolation
        lo = int(pos)
        t = cs[lo] + (cs[min(lo + 1, len(cs) - 1)] - cs[lo]) * (pos - lo)
        near = sorted(qs, key=lambda q: (abs(q[1] - t), q[0]))[:CANDIDATES]
        out += [near[0][0]] + [q for q, c in near[1:] if abs(c - t) <= TOLERANCE * t]
    return out


def main(scale):
    with open(os.path.join(HERE, "expected", f"{scale}.tsv")) as fh:
        rows = list(csv.DictReader(fh, delimiter="\t"))
    expected = {r["query"]: r for r in rows}
    names = pool(rows)
    data = os.path.join(HERE, "data", scale)
    out = os.path.join(HERE, ".work", f"crosscheck-{scale}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}-tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names))
    subprocess.run(run.java(f"{out}-tmp") + ["graft.Verify", data, out],
                   env=env, check=True, stderr=subprocess.DEVNULL)
    bad = 0
    for n in names:
        got = sum(len(pd.read_parquet(f)) for f in glob.glob(f"{out}/{n}/*.parquet"))
        ok = got == int(expected[n]["rows"])
        bad += not ok
        print(f"{'ROWS OK' if ok else 'ROWS DIFFER'} {n}: dump {got}, "
              f"recorded {expected[n]['rows']}")
    # compare only the pool: every other query's twin is skipped
    skip = "(?!(?:" + "|".join(names) + ")$).*"
    rc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                         data, out], env=dict(os.environ, ORACLE_SKIP=skip)).returncode
    shutil.rmtree(f"{out}-tmp", ignore_errors=True)
    return 1 if bad or rc else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "sf0.1"))
