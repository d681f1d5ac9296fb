"""Pure helpers that turn the harness's raw records into benchmark metrics.

The JVM harness (perfbench/scala) writes one JSON object per line; this
module reads nothing from disk and starts nothing, so it is unit-tested on
its own (test_metrics.py).
"""
import json
import math
import statistics
from datetime import datetime, timezone

CORES = 4

# The four stages KgPipeline.runStaged laps, and the checkpoint stages of
# CheckpointedPipeline that do the same work, so both construction forms
# report the same stage metrics.
BUILD_STAGES = ["extract_dedup", "link_cc", "merge_build", "triple_set"]
CHECKPOINT_STAGES = [
    "00_corpus", "01_segments", "02_extracted", "02_errors", "02_mentions",
    "03_triples", "04_canonical_mentions", "05_nodes", "06_rewrite",
    "07_edges", "07_edges_bydst", "08_triple_set"]
CHECKPOINT_TO_BUILD_STAGE = {
    **{s: "extract_dedup" for s in CHECKPOINT_STAGES[:7]},
    "05_nodes": "link_cc", "06_rewrite": "link_cc",
    "07_edges": "merge_build", "07_edges_bydst": "merge_build",
    "08_triple_set": "triple_set"}
STAGE_SUFFIXES = [
    ("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("cpu_util", "ratio"),
    ("driver_idle_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("failed_tasks", "count"), ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("peak_exec_mem_mb", "MB")]
COUNTS = ["link.block_cap_dropped", "link.cc_rounds", "graphout.nodes",
          "graphout.edges", "pipeline.triples"]
QUERY_OPS = [
    "query.traverse", "query.findPath", "query.pagerank",
    "query.connectedComponents", "query.closenessCentrality",
    "query.topKByDegree", "reason.inferTransitive",
    "reason.detectContradictory", "graphout.verify", "graphout.stats"]
CATALOG_ENTRIES = ["q06_self_join_pairs", "q16_ann_brute", "q24_minhash_dedup",
                   "q29_langid", "q45_ngram_jaccard"]
MB = 1024.0 * 1024.0
BUILD_CALLS = ["pipeline.runSyntheticStaged", "pipeline.CheckpointedPipeline.run"]


def per_layer_names():
    """Every per-layer metric name with its unit, in a fixed order."""
    out = [(f"{st}.{suf}", unit) for st in BUILD_STAGES for suf, unit in STAGE_SUFFIXES]
    out += [(c, "count") for c in COUNTS]
    for st in CHECKPOINT_STAGES:
        out += [(f"checkpoint.{st}.wall_s", "s"), (f"checkpoint.{st}.mb", "MB")]
    out += [("checkpoint.resume_jobs", "count"), ("checkpoint.resume_s", "s"),
            ("checkpoint.bytes_per_triple", "B")]
    for op in QUERY_OPS:
        out += [(f"{op}.p50_ms", "ms"), (f"{op}.jobs", "count")]
    for e in CATALOG_ENTRIES:
        out += [(f"catalog.{e}.wall_s", "s"), (f"catalog.{e}.jobs", "count")]
    out += [("streaming.sessionize.wall_s", "s"), ("streaming.sessionize.jobs", "count"),
            ("trace.overhead_s", "s")]
    return out


END_TO_END = [
    ("setup_s", "s"), ("build_s", "s"), ("triples_per_s", "1/s"),
    ("triple_precision", "ratio"), ("triple_recall", "ratio"), ("pass_s", "s"),
    ("iteration_s", "s"), ("op_geomean_ms", "ms"), ("peak_mem_mb", "MB")]


# ---- small pure helpers -------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else None


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def percentile(xs, q, min_beyond=10):
    """The q-th percentile (nearest rank) of xs, or None when fewer than
    `min_beyond` samples lie above it: a tail is reported only where at
    least ten samples lie beyond it.
    """
    if not xs:
        return None
    s = sorted(xs)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n*q/100), nearest rank
    if len(s) - rank < min_beyond:
        return None
    return s[int(rank) - 1]


def steal_permille(stat0, stat1):
    """Steal time as a share (‰) of all cpu time between two `cpu ` lines
    of /proc/stat (fields: user nice system idle iowait irq softirq steal …).
    """
    a = [int(x) for x in stat0.split()[1:]]
    b = [int(x) for x in stat1.split()[1:]]
    total = sum(b) - sum(a)
    if total <= 0 or len(a) < 8:
        return 0.0
    return 1000.0 * (b[7] - a[7]) / total


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time (ms) of each span: its duration minus the part of its
    interval that its child spans cover. `spans` holds dicts with id,
    parent, start and end (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def lap_windows(start_ms, laps):
    """Consecutive windows [(name, start, end)] for the laps a staged run
    returns, laid end to end from the call's start."""
    out, t = [], start_ms
    for name, sec in laps:
        out.append((name, t, t + sec * 1000.0))
        t += sec * 1000.0
    return out


def attribute_jobs(jobs, windows):
    """Map job id -> index of the window whose [start, end) holds the job's
    start; jobs outside every window are left out."""
    out = {}
    for j in jobs:
        for k, (_, s, e) in enumerate(windows):
            if s <= j["start"] < e:
                out[j["job"]] = k
                break
    return out


def iso_ms(ts):
    """Epoch ms of an ISO-8601 UTC instant such as a manifest's `ts`."""
    head, _, frac = ts.rstrip("Z").partition(".")
    base = datetime.fromisoformat(head).replace(tzinfo=timezone.utc).timestamp()
    return base * 1000.0 + (float("0." + frac) * 1000.0 if frac else 0.0)


# ---- aggregation --------------------------------------------------------

def load(lines):
    return [json.loads(l) for l in lines if l.strip()]


def window_metrics(windows, jobs, tasks):
    """Spark metrics of the jobs that start in each window, with the tasks
    of those jobs' stages. Windows that share a name (one build stage made
    of several checkpoint stages) are summed. Returns {name: {suffix: v}}.
    """
    owner = attribute_jobs(jobs, windows)
    stage_job = {}
    for j in sorted(jobs, key=lambda j: j["job"]):
        for st in j.get("stages", []):
            stage_job.setdefault(st, j["job"])
    out = {}
    for k, (name, s, e) in enumerate(windows):
        m = out.setdefault(name, {suf: 0.0 for suf, _ in STAGE_SUFFIXES})
        mine = [t for t in tasks if owner.get(stage_job.get(t["stage"])) == k]
        m["wall_s"] += (e - s) / 1000.0
        m["jobs"] += sum(1 for v in owner.values() if v == k)
        m["tasks"] += len(mine)
        m["failed_tasks"] += sum(1 for t in mine if not t["ok"])
        m["cpu_s"] += sum(t.get("cpu_ns", 0) for t in mine) / 1e9
        m["gc_s"] += sum(t.get("gc_ms", 0) for t in mine) / 1000.0
        m["shuffle_read_mb"] += sum(t.get("sr", 0) for t in mine) / MB
        m["shuffle_write_mb"] += sum(t.get("sw", 0) for t in mine) / MB
        m["spill_mb"] += sum(t.get("spill", 0) for t in mine) / MB
        m["peak_exec_mem_mb"] = max([m["peak_exec_mem_mb"]] +
                                    [t.get("peak", 0) / MB for t in mine])
        busy = union_length([(t["start"], t["end"]) for t in mine], s, e)
        m["driver_idle_s"] += (e - s - busy) / 1000.0
    for m in out.values():
        m["cpu_util"] = m["cpu_s"] / (m["wall_s"] * CORES) if m["wall_s"] > 0 else 0.0
    return out


def measured(records, kind):
    """Records of one kind from the measured loop (iterations 0, 1, …)."""
    return [r for r in records if r["ev"] == kind and r.get("iter", 0) >= 0]


def build_windows(records, b):
    """Stage windows [(stage, start, end)] of one build record: the lap
    windows of a staged build, or the checkpoint stage windows (manifest
    end time minus its wall time) of a checkpointed run, named by the
    build stage they belong to."""
    if "laps" in b:
        return lap_windows(b["start"], b["laps"])
    out = []
    for st in measured(records, "stage"):
        if st["iter"] == b["iter"] and st["manifest"]:
            m = json.loads(st["manifest"])
            end = iso_ms(m["ts"])
            out.append((CHECKPOINT_TO_BUILD_STAGE[st["name"]],
                        end - m["wallSec"] * 1000.0, end))
    return out


def op_calls(records):
    """The measured calls of the workload's op mix: the builds of kg_build,
    the read pass of kg_store_query (not its construction and resume)."""
    return [c for c in measured(records, "call") if c["op"]]


def end_to_end(records):
    setup = sum(r["s"] for r in records if r["ev"] in ("setup", "warmup"))
    builds = measured(records, "build")
    build_s = median([b["s"] for b in builds])
    triples = median([b["triples"] for b in builds])
    counts = measured(records, "count")
    prec = [c["value"] for c in counts if c["name"] == "triple_precision"]
    rec = [c["value"] for c in counts if c["name"] == "triple_recall"]
    return {
        "setup_s": setup,
        "build_s": build_s,
        "triples_per_s": triples / build_s if build_s else None,
        "triple_precision": min(prec) if prec else None,
        "triple_recall": min(rec) if rec else None,
        "pass_s": median([r["s"] for r in measured(records, "pass")]),
        "iteration_s": median([r["s"] for r in measured(records, "iter")]),
        "op_geomean_ms": geomean([c["ms"] for c in op_calls(records)]),
        "peak_mem_mb": next((r["peak_mb"] for r in records if r["ev"] == "mem"), None),
    }


def per_layer(records):
    """Every per-layer metric from a traced run; a layer the workload does
    not call reports 0."""
    out = {name: 0.0 for name, _ in per_layer_names()}
    jobs = [r for r in records if r["ev"] == "job"]
    tasks = [r for r in records if r["ev"] == "task"]
    traced_iters = {r["iter"] for r in measured(records, "iter") if r["traced"]}

    # stage metrics of the traced builds
    per_build = [window_metrics(build_windows(records, b), jobs, tasks)
                 for b in measured(records, "build") if b["iter"] in traced_iters]
    for st in BUILD_STAGES:
        for suf, _ in STAGE_SUFFIXES:
            vals = [w[st][suf] for w in per_build if st in w]
            if vals:
                out[f"{st}.{suf}"] = median(vals)

    counts = measured(records, "count")
    for c in COUNTS:
        vals = [x["value"] for x in counts if x["name"] == c]
        if vals:
            out[c] = median(vals)

    stage_recs = measured(records, "stage")
    for st in CHECKPOINT_STAGES:
        recs = [r for r in stage_recs if r["name"] == st and r["manifest"]]
        if recs:
            out[f"checkpoint.{st}.wall_s"] = median([json.loads(r["manifest"])["wallSec"]
                                                     for r in recs])
            out[f"checkpoint.{st}.mb"] = median([r["bytes"] / MB for r in recs])

    spans = [r for r in records if r["ev"] == "span"]
    jobs_by_group = {}
    for j in jobs:
        jobs_by_group[j.get("group")] = jobs_by_group.get(j.get("group"), 0) + 1

    def op_stats(name):
        sp = [s for s in spans if s["name"] == name]
        return ([s["end"] - s["start"] for s in sp],
                median([jobs_by_group.get(s["id"], 0) for s in sp]))

    ms, nj = op_stats("pipeline.CheckpointedPipeline.resume")
    if ms:
        out["checkpoint.resume_s"] = median(ms) / 1000.0
        out["checkpoint.resume_jobs"] = nj
    stored = [c["value"] for c in counts if c["name"] == "stored_bytes"]
    triples = [c["value"] for c in counts if c["name"] == "pipeline.triples"]
    if stored and triples:
        out["checkpoint.bytes_per_triple"] = median(stored) / median(triples)
    read_ops = ([(op, "p50_ms", 1.0) for op in QUERY_OPS]
                + [(f"catalog.{e}", "wall_s", 1e-3) for e in CATALOG_ENTRIES]
                + [("streaming.sessionize", "wall_s", 1e-3)])
    for op, time_key, scale in read_ops:
        ms, nj = op_stats(op)
        if ms:
            out[f"{op}.{time_key}"] = median(ms) * scale
            out[f"{op}.jobs"] = nj

    all_builds = measured(records, "build")
    on = [b["s"] for b in all_builds if b["traced"]]
    off = [b["s"] for b in all_builds if not b["traced"]]
    if on and off:
        out["trace.overhead_s"] = median(on) - median(off)
    return out


def spans_with_self_time(records):
    """The traced run's spans, plus a child span for each stage window of a
    traced build, as JSON-ready dicts with their self time."""
    spans = [{k: r[k] for k in ("id", "name", "start", "end", "parent", "run")}
             for r in records if r["ev"] == "span"]
    by_start = {(s["name"], s["start"]): s for s in spans}
    for b in measured(records, "build"):
        call = next((by_start[(n, b["start"])] for n in BUILD_CALLS
                     if (n, b["start"]) in by_start), None)
        if call is None:
            continue
        for k, (name, s, e) in enumerate(build_windows(records, b)):
            spans.append({"id": f"{call['id']}/{k}", "name": f"stage.{name}", "start": s,
                          "end": e, "parent": call["id"], "run": call["run"]})
    selfs = self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    return spans


def op_latency(records):
    """Pooled latency of the op mix: the sample count, the median, and the
    highest of p99/p90/p75 that has ten samples beyond it."""
    ms = [c["ms"] for c in op_calls(records)]
    out = {"samples": len(ms), "p50_ms": median(ms)}
    for q in (99, 90, 75):
        v = percentile(ms, q)
        if v is not None:
            out[f"p{q}_ms"] = v
            break
    return out


def host_stamps(records):
    """Steal ‰ and calibration probe of every measured iteration."""
    return [{"iter": r["iter"], "s": r["s"], "cal_ms": r["cal_ms"],
             "steal_permille": steal_permille(r["stat0"], r["stat1"])}
            for r in measured(records, "iter")]


def checks(records, expected_rows):
    """(attempted, failed, failures): every harness check plus the row
    count of each catalog entry against its committed expected count."""
    results = [(r["name"], r["ok"], r.get("detail", "")) for r in records if r["ev"] == "check"]
    for c in records:
        if c["ev"] == "count" and c["name"].startswith("rows."):
            entry = c["name"][len("rows."):]
            want = expected_rows.get(entry)
            results.append((f"rows.{entry}", want is not None and c["value"] == want,
                            f"rows={c['value']:.0f} expected={want}"))
    failures = [(n, d) for n, ok, d in results if not ok]
    return len(results), len(failures), failures
