#!/usr/bin/env python3
"""Compare two sets of benchmark runs (files written by `run.py --record`).

    python3 perfbench/compare.py PARENT.jsonl CHILD.jsonl

Per workload it prints, in this order:
1. counters from traced runs (jobs, stages, tasks, bytes, files, ...):
   these do not drift with the box, so they are the first signal;
2. the calibration job's median time on each side, whose ratio tells box
   drift apart from a code change;
3. every end-to-end metric under the pair rule: runs are paired by seed
   (or by order); the child is "better" when it wins at least 9 of 10
   pairs and the gap between the medians exceeds the parent's quartile
   spread, "worse" in the mirror case, "no change" otherwise, and
   "unresolved" when the parent's spread already exceeds the metric's
   bound;
4. the tracing overhead: traced against untraced runs of the same side.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

COUNTER_UNITS = ("count", "bytes")
WIN_SHARE = 0.9


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def verdict(spec, parent, child):
    """Pair rule for one metric; `parent` and `child` are paired lists."""
    n = min(len(parent), len(child))
    parent, child = parent[:n], child[:n]
    pm, cm = statistics.median(parent), statistics.median(child)
    spread = stats.quartile_spread(parent) if n >= 2 and pm else 0.0
    gap = (cm - pm) / pm if pm else 0.0
    lower = spec["better"] == "lower"
    wins = sum(1 for p, c in zip(parent, child) if (c < p if lower else c > p))
    losses = sum(1 for p, c in zip(parent, child) if (c > p if lower else c < p))
    detail = {"parent": pm, "child": cm, "gap": gap, "spread": spread,
              "wins": wins, "pairs": n}
    if spread > spec["bound"]:
        return "unresolved", detail
    if abs(gap) > spread:
        if wins >= WIN_SHARE * n:
            return "better", detail
        if losses >= WIN_SHARE * n:
            return "worse", detail
    return "no change", detail


def paired(parent, child, name, section):
    """Values of metric `name` for runs present on both sides, paired by
    seed when seeds overlap and by order otherwise."""
    ps = {r["header"]["seed"]: r[section][name] for r in parent}
    cs = {r["header"]["seed"]: r[section][name] for r in child}
    common = sorted(set(ps) & set(cs))
    if common:
        return [ps[s] for s in common], [cs[s] for s in common]
    return [r[section][name] for r in parent], [r[section][name] for r in child]


def med(records, section, name):
    vals = [r[section][name] for r in records if name in r[section]]
    return statistics.median(vals) if vals else None


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    parent_all, child_all = load(argv[1]), load(argv[2])
    workloads = sorted({r["header"]["workload"] for r in parent_all}
                       & {r["header"]["workload"] for r in child_all})
    for w in workloads:
        pa = [r for r in parent_all if r["header"]["workload"] == w]
        ca = [r for r in child_all if r["header"]["workload"] == w]
        pt, ct = [r for r in pa if r["header"]["trace"]], [r for r in ca if r["header"]["trace"]]
        pu, cu = [r for r in pa if not r["header"]["trace"]], [r for r in ca if not r["header"]["trace"]]
        print("== %s: parent %d untraced + %d traced runs, child %d + %d"
              % (w, len(pu), len(pt), len(cu), len(ct)))

        if pt and ct:
            print("-- counters (traced runs, medians)")
            for m in spec["per_layer"]:
                if m["unit"] in COUNTER_UNITS:
                    p, c = med(pt, "per_layer", m["name"]), med(ct, "per_layer", m["name"])
                    if p or c:
                        flag = "" if p == c else "  CHANGED %+.1f%%" % (100 * (c - p) / p if p else 100)
                        print("   %-40s %16.1f %16.1f%s" % (m["name"], p or 0, c or 0, flag))
            print("-- layer timings (traced runs, medians)")
            for m in spec["per_layer"]:
                if m["unit"] not in COUNTER_UNITS:
                    p, c = med(pt, "per_layer", m["name"]), med(ct, "per_layer", m["name"])
                    if p or c:
                        print("   %-40s %12.4f %12.4f %s" % (m["name"], p or 0, c or 0, m["unit"]))

        pcal = statistics.median([r["header"]["calib_s"] for r in pa])
        ccal = statistics.median([r["header"]["calib_s"] for r in ca])
        print("-- calibration: parent %.4f s, child %.4f s, ratio %.3f (wall-clock "
              "gaps within this ratio may be box drift)" % (pcal, ccal, ccal / pcal))

        if pu and cu:
            print("-- end to end (pair rule)")
            for m in spec["end_to_end"]:
                p, c = paired(pu, cu, m["name"], "end_to_end")
                v, d = verdict(m, p, c)
                print("   %-16s %12.4f -> %12.4f %-4s gap %+6.1f%% spread %5.1f%% "
                      "wins %d/%d  %s" % (m["name"], d["parent"], d["child"], m["unit"],
                                          100 * d["gap"], 100 * d["spread"], d["wins"],
                                          d["pairs"], v))
            fails = sum(r["failed"] for r in cu)
            if fails:
                print("   child runs report %d failed operations" % fails)

        for side, traced, untraced in (("parent", pt, pu), ("child", ct, cu)):
            if traced and untraced:
                shares = []
                for m in spec["end_to_end"]:
                    t, u = med(traced, "end_to_end", m["name"]), med(untraced, "end_to_end", m["name"])
                    if t and u and m["name"] != "setup_s":
                        shares.append("%s %+.1f%%" % (m["name"], 100 * (t - u) / u))
                print("-- tracing overhead (%s, traced vs untraced medians): %s"
                      % (side, ", ".join(shares)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
