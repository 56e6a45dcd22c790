#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 15 --trace 0

Builds graft's main sources together with the benchmark harness (sbt, once
per checkout; later runs reuse the build while the sources are unchanged),
runs the workload in one JVM, and prints as the LAST stdout line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Lines before
it carry the workload's own named figures, the tail percentile used, and
the run qualification (cores, heap, load average, steal share).

Exit status: 0 when every op and every correctness check passed; 1 when a
check failed (the result line is still printed); 2 when the run could not
be made (no sources to build, build or JVM failure, timeout).

Extra flags, used by perfbench/test_bench.py and when recording expected
outputs: --scale sf0.001 (the shrunk smoke-test input), --cycles N (exactly
N decks/rounds/passes instead of --seconds), --setup-rounds N, --record F.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
RUN_LIMIT_S = 170
RECORD_LIMIT_S = 3600
BUILD_LIMIT_S = 840
WORKLOADS = ("lake_mixed", "corpus_ingest", "query_pack")

END_TO_END = {"setup_s": "s", "op_geomean_ms": "ms", "pass_s": "s", "peak_rss_mb": "MB"}

LAKE_KINDS = ("append", "delete", "merge", "upsert", "compact",
              "rewrite_deletes", "expire", "point", "range", "full",
              "timetravel")
METAIO_KINDS = ("read", "list", "create_exclusive", "write_replace",
                "publish", "stat", "delete")
PACKS = ("Relational", "Analytics", "TextOps", "Dedup", "Similarity",
         "Multimodal", "StreamingOps", "Sources", "Skew", "TypedOps", "AsOf",
         "Ranges", "Pipeline", "Selection", "Retrieval", "CorpusOps")


def per_layer_units():
    """The per-layer metrics of BENCHMARK.json, with their units: every
    traced run prints all of them, 0 where one does not apply to the
    workload. corpus_ingest's own layer metrics (per-scheme batch time and
    jobs, near-dup ingest steps) print on a line of their own."""
    u = {
        "lake.metaio.calls_per_commit": "calls",
        "lake.metaio.ms_per_commit": "ms",
        "lake.metaio.bytes_written_per_commit": "B",
        "lake.metaio.calls_per_read": "calls",
        "lake.metaio.ms_per_read": "ms",
        "lake.commit.lost_races": "count",
        "lake.catalog.load_table_calls_per_op": "calls",
        "lake.catalog.load_table_ms_per_op": "ms",
        "lake.snapshot.data_files": "files",
        "lake.snapshot.delete_files": "files",
        "lake.snapshot.manifest_chunks": "chunks",
        "lake.snapshot.metadata_bytes": "B",
        "lake.scan.files_read_per_read": "files",
        "lake.scan.rows_examined_per_row_returned": "rows/row",
        "lake.maintenance.compact_ms": "ms",
        "lake.maintenance.bytes_rewritten": "B",
        "lake.bytes_per_live_row": "B/row",
        "exec.bytes_written_per_user_byte": "B/B",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "sched.jobs_per_op": "jobs",
        "sched.stages_per_op": "stages",
        "sched.tasks_per_op": "tasks",
        "exec.task_ms_per_op": "ms",
        "exec.cpu_ms_per_op": "ms",
        "exec.gc_ms_per_op": "ms",
        "exec.shuffle_bytes_per_op": "B",
        "exec.spill_bytes_per_op": "B",
        "driver.self_ms_per_op": "ms",
        "self.spark_jobs_ms_per_op": "ms",
        "self.metaio_ms_per_op": "ms",
        "jvm.open_fds_delta": "fds",
        "jvm.block_manager_mb_delta": "MB",
        "jvm.driver_gc_ms": "ms",
        "trace.op_p50_ms": "ms",
        "trace.op_geomean_ms": "ms",
    }
    for k in METAIO_KINDS:
        u[f"lake.metaio.calls_per_commit.{k}"] = "calls"
    for k in LAKE_KINDS:
        u[f"lake.op.{k}.ms"] = "ms"
        u[f"lake.op.{k}.metaio_calls"] = "calls"
        u[f"lake.op.{k}.jobs"] = "jobs"
    for p in PACKS:
        u[f"operators.pack.{p}_s"] = "s"
    return u


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(SOURCES, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, out):
    """Run cmd in its own process group; kill the group and wait on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    submit = shutil.which("spark-submit")
    if "SPARK_HOME" not in env and submit:
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    log("[perfbench] building graft + harness with sbt ...")
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     HERE, env, BUILD_LIMIT_S, sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        log(f"[perfbench] build failed (exit {rc})")
        sys.exit(2)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"[perfbench] build done in {time.time() - t0:.0f} s")


def cpu_jiffies():
    """(steal, total) jiffies from the aggregate /proc/stat line."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return (f[7] if len(f) > 7 else 0), sum(f)
    except OSError:
        return 0, 0


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def java(tmpdir):
    """The JVM command prefix, classpath included, for graft + harness.
    Spark on JDK 17 needs the module openings spark-submit would add."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # a fixed, pre-touched heap: peak RSS then moves with off-heap and
    # native memory, not with when the collector chose to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={tmpdir}"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def java_cmd(args, work, out):
    cmd = java(os.path.join(work, "tmp")) + ["perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data", args.scale),
            "--work", work, "--out", out]
    if args.cycles:
        cmd += ["--cycles", str(args.cycles)]
    if args.setup_rounds:
        cmd += ["--setup-rounds", str(args.setup_rounds)]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    return cmd


def last_untraced(workload, scale):
    """Most recent untraced result of this workload in this checkout."""
    best = None
    for f in glob.glob(os.path.join(WORK, "*", "result.json")):
        try:
            with open(f) as fh:
                r = json.load(fh)
        except (OSError, ValueError):
            continue
        if (r.get("workload") == workload and r.get("scale") == scale
                and not r.get("trace")):
            m = os.path.getmtime(f)
            if best is None or m > best[0]:
                best = (m, r)
    return best[1] if best else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", default="sf0.1", choices=("sf0.1", "sf0.001"))
    ap.add_argument("--cycles", type=int, default=0)
    ap.add_argument("--setup-rounds", type=int, default=0)
    ap.add_argument("--record", default=None)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        log(f"[perfbench] graft sources not found under {SOURCES}: nothing to build")
        sys.exit(2)
    t_start = time.time()
    build()

    name = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")

    qual = {"nproc": os.cpu_count(), "heap": HEAP, "loadavg_before": loadavg()}
    st0 = cpu_jiffies()
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc = run_bounded(java_cmd(args, work, out), ROOT, dict(os.environ),
                         RECORD_LIMIT_S if args.record else RUN_LIMIT_S, jlog)
    st1 = cpu_jiffies()
    qual["loadavg_after"] = loadavg()
    qual["steal_share"] = round((st1[0] - st0[0]) / max(1, st1[1] - st0[1]), 4)
    qual["wall_s"] = round(time.time() - t0, 1)

    for d in ("warehouse", "spark-local", "spark-warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    if rc == 0 and args.record:
        log(f"[perfbench] recorded {args.record}")
        return
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        log(tail)
        log(f"[perfbench] JVM {'timed out' if rc is None else f'exited {rc}'} "
            f"after {time.time() - t_start:.0f} s; log in {work}/jvm.log")
        sys.exit(2)

    with open(out) as fh:
        r = json.load(fh)
    r["qualification"] = qual
    with open(out, "w") as fh:
        json.dump(r, fh)
    os.remove(os.path.join(work, "jvm.log"))

    print("result file: " + out)
    print("qualification: " + json.dumps(qual))
    print(f"setup rounds (s): {r['setup_rounds_s']}; cycles (s): {r['cycles_s']}; "
          f"op_tail_ms {r['e2e']['op_tail_ms']:.1f} ms is {r['tail']}")
    print("workload figures: " + json.dumps(r["details"]))
    if r["notes"]:
        print("notes: " + json.dumps(r["notes"]))
    for e in r["errors"]:
        print("CHECK FAILED: " + e)

    if args.trace:
        units = per_layer_units()
        layers = r["layers"]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
        extra = sorted(set(layers) - set(units))
        if extra:
            print("layer metrics not in BENCHMARK.json: " + json.dumps(
                {k: layers[k] for k in extra}))
        print(f"spans: {os.path.join(work, 'spans.jsonl')}")
        base = last_untraced(args.workload, args.scale)
        if base:
            for k in ("op_p50_ms", "op_geomean_ms"):
                t, u = layers[f"trace.{k}"], base["e2e"][k]
                print(f"tracing overhead on {k}: traced {t:.1f} vs untraced "
                      f"{u:.1f} (seed {base['seed']}): {100 * (t / u - 1):+.1f}%")
    else:
        metrics = {k: {"value": r["e2e"][k], "unit": u} for k, u in END_TO_END.items()}

    failed = r["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
