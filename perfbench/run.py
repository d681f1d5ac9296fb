#!/usr/bin/env python3
"""graft benchmark: runs one workload in its own JVM and prints its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 24 --trace 0

Workloads (see perfbench/METRICS.md):
  kg_build        in-memory staged construction (KgPipeline.runSyntheticStaged)
                  of a seeded CorpusGen corpus, repeated in a closed loop;
  kg_store_query  one checkpointed construction into a fresh on-disk root,
                  a simulated kill after 04_canonical_mentions, the resume,
                  and a read pass over the committed graph.

The program and the harness are compiled from source first (build.py). The
JVM writes raw records to .bench_work/<run>/events.jsonl; this script checks
the outputs, prints a summary on stderr and, as the last line of stdout, one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import metrics  # noqa: E402

# Corpus size and warm-up iterations of each workload. kg_store_query
# measures one cold batch job, so it has no warm-up.
WORKLOADS = {
    "kg_build": {"files": 6000, "warmups": 3},
    "kg_store_query": {"files": 500, "warmups": 0},
}
# kg_build measures one build per BUILD_ITERATION_S of --seconds, a fixed
# count, so a run in a slow host window measures the same builds as one in a
# fast window (builds keep getting faster for several builds after the
# warm-up).
BUILD_ITERATION_S = 6.0
HEAP = "3g"
# A fixed young generation: G1 would grow eden to most of the heap and
# collect only every few seconds, and peak_mem_mb is sampled after
# collections (on a 4-cpu host its spread across seeds of kg_store_query
# fell from 0.14 to 0.04 with this).
YOUNG = "512m"
JVM_TIMEOUT_S = 170
DATA = HERE / "data" / "sf0.01"
EXPECTED_ROWS = HERE / "expected_rows.json"

# Spark on JDK 17 outside spark-submit needs these (the list spark-submit
# injects, org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def git_commit():
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return res.stdout.strip() if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def iterations(workload, seconds):
    if workload == "kg_build":
        return max(1, round(seconds / BUILD_ITERATION_S))
    return 1


def run_jvm(args, cp, work):
    events = work / "events.jsonl"
    w = WORKLOADS[args.workload]
    jvm = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
              "-cp", ":".join(cp), "perfbench.Harness",
              "--workload", args.workload, "--seed", str(args.seed),
              "--iterations", str(iterations(args.workload, args.seconds)),
              "--trace", str(args.trace),
              "--out", str(events), "--work", str(work), "--data", str(DATA),
              "--files", str(w["files"]), "--warmups", str(w["warmups"])])
    env = dict(os.environ, GRAFT_LOCAL_DIR=str(work / "spark-local"))
    (work / "tmp").mkdir()
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(jvm, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not events.exists():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(f"harness JVM exited with {code}:\n{tail}")
    return metrics.load(events.read_text().splitlines())


def main():
    # a SIGTERM unwinds like an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not DATA.is_dir() or not EXPECTED_ROWS.exists():
        sys.exit(f"benchmark data missing under {HERE}")
    try:
        cp, source_sha = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    work = ROOT / ".bench_work" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        records = run_jvm(args, cp, work)
    except RuntimeError as e:
        sys.exit(str(e))
    finally:
        for scratch in ("spark-local", "tmp", "warehouse"):
            shutil.rmtree(work / scratch, ignore_errors=True)
        for ckpt in work.glob("ckpt_*"):
            shutil.rmtree(ckpt, ignore_errors=True)

    expected_rows = json.loads(EXPECTED_ROWS.read_text())
    attempted, failed, failures = metrics.checks(records, expected_rows)
    if args.trace:
        values = metrics.per_layer(records)
        units = dict(metrics.per_layer_names())
        with open(work / "spans.jsonl", "w") as f:
            for s in metrics.spans_with_self_time(records):
                f.write(json.dumps(s) + "\n")
    else:
        values = metrics.end_to_end(records)
        units = dict(metrics.END_TO_END)
    missing = [k for k, v in values.items() if v is None]
    for k in missing:
        failures.append((k, "metric not measured"))
        values[k] = 0.0
    failed += len(missing)
    attempted += len(missing)

    env = next(r for r in records if r["ev"] == "env")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {"nproc": os.cpu_count(), "jvm_nproc": env["nproc"], "heap_mb": env["heap_mb"],
                "shuffle_partitions": env["parts"], "files": env["files"],
                "git_commit": git_commit(), "source_sha256": source_sha,
                "python": platform.python_version()},
        "host": metrics.host_stamps(records),
        "counts": {r["name"]: r["value"] for r in records
                   if r["ev"] == "count" and r.get("iter", 0) >= 0},
        "stages": {r["name"]: {"bytes": r["bytes"], "manifest": json.loads(r["manifest"])}
                   for r in records if r["ev"] == "stage" and r["manifest"]},
        "ops": sorted({r["name"] for r in records if r["ev"] == "call"}),
        "op_latency": metrics.op_latency(records),
        "gcs": next((r["gcs"] for r in records if r["ev"] == "mem"), None),
        "failures": failures,
        "metrics": values,
    }
    (work / "record.json").write_text(json.dumps(record, indent=1))
    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={record['op_latency']} checks={attempted} failed={failed} "
          f"host={[(h['steal_permille'], h['cal_ms']) for h in record['host']]}",
          file=sys.stderr)
    for name, detail in failures:
        print(f"[perfbench] FAILED {name}: {detail}", file=sys.stderr)

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
