"""The benchmark's own tests, on the shrunk sf0.001 input.

    python3 -m pytest -q perfbench/test_bench.py

- smoke: every workload prints every end-to-end metric of BENCHMARK.json
  by name with its unit, passes every correctness check, and reports
  error_rate 0;
- traced runs print every per-layer metric of BENCHMARK.json by name with
  its unit, and two traced runs with the same seed replay the same op
  stream and repeat the per-layer counts exactly;
- a directory holding only BENCHMARK.json and perfbench/ (no graft sources)
  makes the command exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
# corpus_ingest is tested too although BENCHMARK.json does not list it
WORKLOADS = ["lake_mixed", "corpus_ingest", "query_pack"]
FIGURES = {
    "lake_mixed": ["commit_p50_ms", "commit_tail_ms", "read_p50_ms",
                   "read_tail_ms", "lake_bytes_per_row", "error_rate"],
    "corpus_ingest": ["ingest_neardup_rows_per_s", "ingest_semantic_rows_per_s",
                      "ingest_media_rows_per_s", "error_rate"],
    "query_pack": ["pack_s", "query_geomean_ms", "error_rate"],
}
# per-layer counts that must repeat exactly under one seed
COUNT_PREFIXES = ("lake.metaio.calls", "lake.metaio.bytes_written",
                  "sched.jobs_per_op", "lake.snapshot.", "operators.ingest.",
                  "lake.op.")


def run(workload, seed, trace, cwd=ROOT, cmd=None):
    cmd = cmd or SPEC["command"]
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", "1", "--trace", str(trace),
                              "--scale", "sf0.001", "--cycles", "1",
                              "--setup-rounds", "1"],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def parse(p):
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    figures = json.loads(next(l for l in lines if l.startswith("workload figures: "))
                         .split(": ", 1)[1])
    path = next(l for l in lines if l.startswith("result file: ")).split(": ", 1)[1]
    with open(path) as fh:
        full = json.load(fh)
    return result, figures, full


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload):
    result, figures, _ = parse(run(workload, 7, 0))
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert set(result["metrics"]) == set(want)
    for name, unit in want.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0, name
    assert set(FIGURES[workload]) <= set(figures)
    assert figures["error_rate"]["value"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat(workload):
    (r1, _, f1), (r2, _, f2) = [parse(run(workload, 11, 1)) for _ in range(2)]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    for r in (r1, r2):
        assert r["correct"]
        assert set(r["metrics"]) == set(want)
        for name, unit in want.items():
            assert r["metrics"][name]["unit"] == unit
    assert [o[0] for o in f1["ops"]] == [o[0] for o in f2["ops"]]
    counts = [k for k in f1["layers"]
              if k.startswith(COUNT_PREFIXES) and not k.endswith("ms")]
    assert counts
    for k in counts:
        assert f1["layers"][k] == f2["layers"][k], k


def test_refuses_without_sources(tmp_path_factory):
    bare = os.path.join(HERE, ".work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns(".work", "target", "project/target",
                                                      "__pycache__"))
    p = run(WORKLOADS[0], 1, 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    last = (p.stdout.strip().splitlines() or [""])[-1]
    assert '"metrics"' not in last


if __name__ == "__main__":
    sys.exit(pytest.main(["-q", __file__]))
