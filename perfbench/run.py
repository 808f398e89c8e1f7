#!/usr/bin/env python3
"""Repo benchmark: one workload per run against the engine's public calls.

    python3 perfbench/run.py --workload rating_stream --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver from source with sbt (offline) into `.bench_build/`;
later runs reuse that build while the sources are unchanged. Each run
reads the sf0.1 tables in `perfbench/data/sf0.1`, works in a per-run
directory under `.bench_build/`, runs the JVM driver (`perfbench.Main`)
on `local[nproc]`, checks every output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see BENCHMARK.json).
A human-readable summary and the run header go to stderr;
`--record FILE` appends the full run record to FILE as one JSON line
(input to `compare.py`).

Workloads:
  rating_stream  open loop: rating lines (the events whose event_id % 50
                 equals seed % 50) offered at RATE per second into
                 Streams.recommendLoop (decode, ALS refit, top-25 emit).
  table_rw       closed loop: seeded INSERT/MERGE/DELETE and point/range/
                 VERSION AS OF reads on a graft catalog table, with
                 compaction every 10 statements.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("rating_stream", "table_rw")
DATA = os.path.join(HERE, "data", "sf0.1")
# Offered rating rate for rating_stream, below where the backlog grows.
RATE = 5.0
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# table_rw's JVM compiles with C1 alone. Every statement there makes new
# generated classes, and with C2's profile-guided compilation on top the
# table scans settled, per JVM, at one of two speeds about 1.7x apart
# (point reads 0.11 s in some runs, 0.21 s in others, 4 vCPUs), which no
# statistic over one run can smooth. With C1 alone that split went away.
JIT_FLAGS = {"table_rw": ["-XX:TieredStopAtLevel=1"]}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(root, pat), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(("%s %d %d\n" % (os.path.relpath(p, root), st.st_size,
                                          st.st_mtime_ns)).encode())
    return h.hexdigest()


def build(root):
    """Compiles the engine and the driver; returns the runtime classpath."""
    out = os.path.join(root, BUILD_DIR)
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    log("perfbench: building with sbt ...")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if "perfbench/target" in l and ":" in l]
    if p.returncode != 0 or not lines:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    log("perfbench: built in %.0f s" % (time.time() - t0))
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_jvm(cp, args, run_dir, out_json):
    # the whole heap is touched at start-up, so the page faults of its
    # first use, whose price varies from run to run on a virtual machine,
    # fall in set-up and not in the window
    cmd = ["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseG1GC"]
    cmd += JIT_FLAGS.get(args.workload, [])
    cmd += ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--run", run_dir, "--cores", str(cores()),
            "--rate", str(RATE), "--out", out_json]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "w") as lf:
        cmd += ["--launched", repr(time.time())]
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_json):
        log(open(logf).read()[-4000:])
        raise SystemExit("perfbench: driver failed (%s)" % rc)
    return json.load(open(out_json))


# ------------------------------------------------------------- metrics

def tags_of(rec, prefix=""):
    tr = rec.get("trace") or {}
    return {k: v for k, v in (tr.get("tags") or {}).items() if k.startswith(prefix)}


def tag_sum(tags, key):
    return sum(t.get(key, 0) for t in tags.values())


def summarize_ops(ops, kinds_of_latency):
    """Latency samples (a failed op counts as a miss) and each kind's median."""
    lat = [o["seconds"] if o["ok"] else None for o in ops if o["kind"] in kinds_of_latency]
    per_kind = {}
    for o in ops:
        if o["kind"] in kinds_of_latency:
            per_kind.setdefault(o["kind"], []).append(o["seconds"] if o["ok"] else stats.MISSED_S)
    return stats.with_misses(lat), {k: stats.median(v) for k, v in per_kind.items()}


def stream_metrics(rec):
    batches = rec["batches"]
    emit_end = {e["batch"]: e["end"] for e in rec["emits"]}
    events = rec["events"]
    # a wrong answer misses every limit too: drop the events of batches
    # whose answers failed the check
    bad = set(rec["bad_batches"])
    ok = [b for b in batches if b["id"] not in bad]
    lat = stats.open_loop_latencies(events, ok, emit_end)
    failed = sum(1 for v in lat if v is None)
    if rec["check_failures"] and not failed:
        failed = 1  # a failure no single event owns still fails the run
    samples = stats.with_misses(lat)
    window = rec["window_s"]
    e2e = {
        "latency_s.p50": stats.percentile(samples, 0.5),
        "latency_s.p90": stats.percentile(samples, 0.9),
        "ops_per_s": stats.answered_rate(events, lat),
        "op_geomean_s": stats.geomean(samples),
    }
    first_measured = events[0]["offset"] if events else 0
    timed = [b for b in batches if b["end"] >= first_measured]
    ends_by_batch = {b["id"]: emit_end.get(b["id"]) for b in timed}
    backlog = sum(1 for e, v in zip(events, lat)
                  if v is None or e["due"] + v > window)
    probes = rec.get("probes") or {}
    ml = tags_of(rec, "ml/")
    layer = {
        "streaming.trigger_ms.p50": stats.median([b["trigger_ms"] for b in timed]),
        "streaming.add_batch_ms.p50": stats.median([b["add_batch_ms"] for b in timed]),
        "streaming.overhead_ms.p50": stats.median([b["trigger_ms"] - b["add_batch_ms"] for b in timed]),
        "streaming.batches": len([b for b in timed if ends_by_batch.get(b["id"]) is not None]),
        "streaming.events_per_batch.p50": stats.median([b["end"] - max(b["start"], first_measured - 1)
                                                         for b in timed]),
        "streaming.backlog_events": backlog,
        "streaming.generator_late_s.max": max((e["late"] for e in events), default=0.0),
        "ml.train_s": probes.get("train_s", 0.0),
        "ml.topk_s": probes.get("topk_s", 0.0),
        "ml.topk_users": probes.get("topk_users", 0),
        "ml.jobs": tag_sum(ml, "jobs"),
        "ml.shuffle_bytes": tag_sum(ml, "shuffle_read_bytes") + tag_sum(ml, "shuffle_write_bytes"),
        "functions.decode_s": probes.get("decode_s", 0.0),
    }
    extras = {
        "rec_latency_s.p50": e2e["latency_s.p50"],
        "rec_latency_s.p90": e2e["latency_s.p90"],
        "ratings_per_s": e2e["ops_per_s"],
        "offered_per_s": rec["rate"],
        "batches": [{"id": b["id"], "events": b["end"] - b["start"], "trigger_ms": b["trigger_ms"],
                     "emit_end_s": emit_end.get(b["id"])} for b in timed],
        "p90_samples_beyond": stats.samples_beyond(len(samples), 0.9),
        "check_failures": rec["check_failures"],
    }
    return e2e, layer, extras, len(events), failed


def operator_layer(ops, tags, cores):
    """operators.* from query executions (`ops`) and their traced tags:
    seconds are summed per-query medians, counters are per pass."""
    kinds = sorted({o["kind"] for o in ops})
    passes = max(1, len({o["pass"] for o in ops}))
    cons = {k: v for k, v in tags.items() if k.endswith("/construct")}
    wall = sum(o["seconds"] for o in ops)

    def med(k, key):
        return stats.median([o[key] for o in ops if o["kind"] == k])

    layer = {
        "operators.construct_s": sum(med(k, "construct_s") for k in kinds),
        "operators.construct_jobs": tag_sum(cons, "jobs") / passes,
        "operators.exec_s": sum(med(k, "exec_s") for k in kinds),
        "operators.stages": tag_sum(tags, "stages") / passes,
        "operators.tasks": tag_sum(tags, "tasks") / passes,
        "operators.shuffle_read_bytes": tag_sum(tags, "shuffle_read_bytes") / passes,
        "operators.shuffle_write_bytes": tag_sum(tags, "shuffle_write_bytes") / passes,
        "operators.spill_bytes": tag_sum(tags, "spill_bytes") / passes,
        "operators.core_busy_share": tag_sum(tags, "run_ms") / 1e3 / max(1e-9, wall * cores),
        "operators.task_failures": tag_sum(tags, "task_failures"),
    }
    per_query = {}
    for k in kinds:
        layer["operators.query_s." + k] = med(k, "seconds")
        mine = {t: v for t, v in tags.items() if t.startswith(k + "#")}
        per_query[k] = {
            "median_s": med(k, "seconds"), "construct_s": med(k, "construct_s"),
            "exec_s": med(k, "exec_s"),
            "construct_jobs": tag_sum({t: v for t, v in mine.items() if t.endswith("/construct")},
                                      "jobs") / passes,
            **{c: tag_sum(mine, c) / passes
               for c in ("jobs", "stages", "tasks", "exchanges", "codegen_fallbacks",
                         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                         "conf_changes")}}
    return layer, per_query


def query_tags(rec):
    return {k: v for k, v in tags_of(rec).items() if k.endswith(("/construct", "/exec"))}


def plan_layer(tags, n_ops):
    return {
        "plans.plan_s": tag_sum(tags, "plan_ms") / 1e3 / max(1, n_ops),
        "plans.exchanges": tag_sum(tags, "exchanges") / max(1, n_ops),
        "plans.codegen_fallbacks": tag_sum(tags, "codegen_fallbacks") / max(1, n_ops),
        "plans.conf_changes": tag_sum(tags, "conf_changes"),
    }


READS = ("point", "range", "asof")
WRITES = ("insert", "merge", "delete")


def table_metrics(rec):
    ops = rec["ops"]
    # failed set-up statements and a final table that differs from the
    # model fail the run as well
    checks = [{"kind": "check", "seconds": 0.0, "ok": False, "error": "set-up: " + e}
              for e in rec["warm_errors"]]
    if not rec["final_table_ok"]:
        checks.append({"kind": "check", "seconds": 0.0, "ok": False,
                       "error": "final table differs from the model"})
    ops += checks
    lat, per_kind = summarize_ops(ops, READS + WRITES)
    window = rec["window_s"]
    e2e = {
        "latency_s.p50": stats.percentile(lat, 0.5),
        "latency_s.p90": stats.percentile(lat, 0.9),
        "ops_per_s": sum(1 for o in ops if o["kind"] != "check") / window,
        "op_geomean_s": stats.geomean(list(per_kind.values())),
    }
    reads, _ = summarize_ops(ops, READS)
    writes, _ = summarize_ops(ops, WRITES)
    tags = tags_of(rec)
    rtags = {k: v for k, v in tags.items() if k.split("#")[0] in READS}
    wtags = {k: v for k, v in tags.items() if k.split("#")[0] in WRITES}
    n_reads = max(1, len(reads))
    n_writes = max(1, len(writes))
    read_wall = sum(o["seconds"] for o in ops if o["kind"] in READS)
    returned = sum(o.get("matched", 0) for o in ops if o["kind"] in READS)
    compact = [o["seconds"] for o in ops if o["kind"] == "compact"]
    layer = {
        "sources.read_plan_s": tag_sum(rtags, "plan_ms") / 1e3 / n_reads,
        "sources.read_exec_s": max(0.0, read_wall - tag_sum(rtags, "plan_ms") / 1e3) / n_reads,
        "sources.rows_read_per_row_returned": tag_sum(rtags, "scan_rows") / max(1, returned),
        "sources.bytes_read_per_read": tag_sum(rtags, "input_bytes") / n_reads,
        "sources.bytes_written_per_write": (sum(rec["write_bytes"]) / len(rec["write_bytes"])
                                            if rec["write_bytes"] else 0.0),
        "sources.jobs_per_write": tag_sum(wtags, "jobs") / n_writes,
        "sources.data_files": rec["data_files"],
        "sources.snapshots": rec["snapshots"],
        "sources.compact_s": stats.median(compact),
        "sources.stored_bytes_ratio": rec["stored_bytes_ratio"],
        "sources.write_s.p50": stats.percentile(writes, 0.5) if writes else 0.0,
        "sources.read_s.p50": stats.percentile(reads, 0.5) if reads else 0.0,
    }
    layer.update(plan_layer(rtags | wtags, len(reads) + len(writes)))
    probe = rec.get("probe_ops") or []
    if probe:
        timed = [o for o in probe if not o["warm"]]
        op_layer, per_query = operator_layer(timed, query_tags(rec), rec["header"]["cores"])
        layer.update(op_layer)
    extras = {
        "write_s.p50": stats.percentile(writes, 0.5) if writes else 0.0,
        "write_s.p90": stats.percentile(writes, 0.9) if writes else 0.0,
        "read_s.p50": stats.percentile(reads, 0.5) if reads else 0.0,
        "read_s.p90": stats.percentile(reads, 0.9) if reads else 0.0,
        "table_ops_per_s": e2e["ops_per_s"],
        "stored_bytes_ratio": rec["stored_bytes_ratio"],
        "stored_bytes": rec["stored_bytes"],
        "live_rows": rec["live_rows"],
        "p90_samples_beyond": {"read": stats.samples_beyond(len(reads), 0.9),
                               "write": stats.samples_beyond(len(writes), 0.9)},
        "per_kind_median_s": per_kind,
        "errors": [o["error"] for o in ops + probe if not o["ok"]][:10],
        "operator_probe": per_query if probe else {},
    }
    failed = sum(1 for o in ops + probe if not o["ok"])
    return e2e, layer, extras, len(ops) + len(probe), failed


def zero_layer():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: 0 for m in spec["per_layer"]}, spec


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full run record to this file")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "BENCHMARK.json",
                 "perfbench/data/sf0.1/events.parquet"):
        if not os.path.exists(os.path.join(root, need)):
            log("perfbench: %s not found; run from the repository root" % need)
            return 2
    cp = build(root)
    run_dir = os.path.join(root, BUILD_DIR, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        rec = run_jvm(cp, args, run_dir, os.path.join(run_dir, "record.json"))
        if args.workload == "rating_stream":
            e2e, layer, extras, attempted, failed = stream_metrics(rec)
        else:
            e2e, layer, extras, attempted, failed = table_metrics(rec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e["setup_s"] = rec["setup_s"]
    e2e["heap_live_mb"] = rec["heap_live_mb"]
    all_layer, spec = zero_layer()
    all_layer.update(layer)
    all_layer["jvm.gc_s"] = rec["gc_s"]
    all_layer["jvm.calib_s"] = rec["calib_s"]
    hook = (rec.get("trace") or {}).get("hook_s", 0.0)
    all_layer["trace.overhead_share"] = hook / rec["window_s"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    header = dict(rec["header"], git_sha=git_sha(root), nproc=cores(),
                  workload=args.workload, seconds=args.seconds, trace=args.trace,
                  calib_s=rec["calib_s"], load_avg=os.getloadavg()[0],
                  run_s=time.time() - T_START)
    correct = failed == 0
    fail_share = failed / max(1, attempted)
    full = {"header": header, "correct": correct, "attempted": attempted, "failed": failed,
            "fail_share": fail_share,
            "end_to_end": e2e, "per_layer": all_layer, "workload_metrics": extras}
    log("perfbench header: " + json.dumps(header, sort_keys=True))
    for k in sorted(e2e):
        log("  %-34s %12.4f %s" % (k, e2e[k], units.get(k, "")))
    log("  %-34s %12.4f share" % ("fail_share", fail_share))
    for k, v in sorted(extras.items()):
        if isinstance(v, (int, float)):
            log("  %-34s %12.4f" % (k, v))
    for k in ("check_failures", "errors"):
        for msg in (extras.get(k) or [])[:10]:
            log("  FAILED: %s" % msg)
    if args.trace:
        for k in sorted(all_layer):
            log("  %-34s %16.4f %s" % (k, all_layer[k], units.get(k, "")))
    if args.record:
        with open(args.record, "a") as f:
            f.write(json.dumps(full, sort_keys=True) + "\n")
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    source = all_layer if args.trace else e2e
    metrics = {n: {"value": float(source[n]), "unit": units[n]} for n in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
