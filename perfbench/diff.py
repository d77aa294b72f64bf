#!/usr/bin/env python3
"""Layer-by-layer comparison of two sets of benchmark results.

    python3 perfbench/diff.py BEFORE_DIR [AFTER_DIR]

Each directory holds result files written by run.py (`.bench_out/*.json`).
Per workload it prints every end-to-end metric's median and quartiles over
the untraced runs, the change, and a verdict against the metric's bound in
BENCHMARK.json: `unresolved` when either side's run-to-run spread
(quartile distance over median) exceeds the bound. Then every per-layer
metric from the traced runs, per-template medians, the tracing overhead
(traced minus untraced end-to-end numbers) and whether the traced and
untraced runs of one seed returned the same result digests.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def stats(values):
    values = sorted(values)
    med = statistics.median(values)
    # the default method extrapolates past the data for very few runs
    method = "exclusive" if len(values) >= 4 else "inclusive"
    q = statistics.quantiles(values, n=4, method=method) if len(values) >= 2 else [med] * 3
    return med, q[0], q[2], (q[2] - q[0]) / med if med else 0.0


def fmt(s):
    return "%10.4g [%.4g, %.4g]" % (s[0], s[1], s[2]) if s else "%10s" % "-"


def section(title, names, sides, better, bounds):
    print("\n  %s" % title)
    print("    %-28s %-34s %-34s %8s  %s" % ("metric", "A median [q1, q3]",
                                          "B median [q1, q3]", "change", "verdict"))
    for n in names:
        ss = [stats(v[n]) if v.get(n) else None for v in sides]
        a, b = ss[0], ss[1] if len(ss) > 1 else None
        change, verdict = "", ""
        if a and b and a[0]:
            rel = (b[0] - a[0]) / a[0]
            change = "%+7.1f%%" % (100 * rel)
            if n in bounds:
                worse = rel if better.get(n) == "lower" else -rel
                if max(a[3], b[3]) > bounds[n]:
                    verdict = "unresolved (spread %.2f > bound %.2f)" % (
                        max(a[3], b[3]), bounds[n])
                elif worse > bounds[n]:
                    verdict = "worse than bound %.2f" % bounds[n]
                elif -worse > a[3]:
                    verdict = "better than spread"
                else:
                    verdict = "within bound"
        print("    %-28s %-34s %-34s %8s  %s" % (n, fmt(a), fmt(b) if b else "",
                                               change, verdict))


def values(runs, trace, group):
    out = {}
    for r in runs:
        if r["trace"] == trace:
            for k, v in r[group].items():
                out.setdefault(k, []).append(v["value"])
    return out


def main():
    dirs = sys.argv[1:]
    if not 1 <= len(dirs) <= 2:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    sets = [load(d) for d in dirs]
    for w in sorted(set().union(*sets)):
        sides = [s.get(w, []) for s in sets]
        print("== %s  (%s)" % (w, ", ".join(
            "%s: %d untraced / %d traced runs" % (
                "AB"[i], sum(1 for r in rs if not r["trace"]),
                sum(1 for r in rs if r["trace"])) for i, rs in enumerate(sides))))
        e2e = [values(rs, 0, "end_to_end") for rs in sides]
        section("end to end (untraced)", [m["name"] for m in bench["end_to_end"]],
                e2e, better, bounds)
        layer = [values(rs, 1, "per_layer") for rs in sides]
        section("per layer (traced)", [m["name"] for m in bench["per_layer"]],
                layer, better, {})

        print("\n  per-template median latency, ms (untraced)")
        for i, rs in enumerate(sides):
            per = {}
            for r in rs:
                if not r["trace"]:
                    for t, v in r["per_template"].items():
                        per.setdefault(t, []).append(v["ms"])
            print("    %s: %s" % ("AB"[i], "  ".join(
                "%s %.0f" % (t, statistics.median(v)) for t, v in sorted(per.items()))))

        for i, rs in enumerate(sides):
            t_lat = layer[i].get("trace.latency_p50_ms")
            t_qps = layer[i].get("trace.throughput_qps")
            if t_lat and e2e[i].get("latency_p50_ms"):
                print("\n  %s tracing overhead: latency_p50 %+.1f ms, throughput %+.4f 1/s"
                      % ("AB"[i], statistics.median(t_lat)
                         - statistics.median(e2e[i]["latency_p50_ms"]),
                         statistics.median(t_qps)
                         - statistics.median(e2e[i]["throughput_qps"])))
            by_seed = {}
            for r in rs:
                by_seed.setdefault(r["seed"], {})[r["trace"]] = r
            same = total = 0
            for pair in by_seed.values():
                if 0 in pair and 1 in pair:
                    d0 = {s["i"]: s["digest"] for s in pair[0]["statements"]}
                    for s in pair[1]["statements"]:
                        if s["i"] in d0:
                            total += 1
                            same += d0[s["i"]] == s["digest"]
            if total:
                print("  %s traced vs untraced result digests: %d of %d equal"
                      % ("AB"[i], same, total))
        print()


if __name__ == "__main__":
    main()
