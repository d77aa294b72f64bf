#!/usr/bin/env python3
"""Closed-loop Cypher benchmark of the graft engine: one client, one
statement at a time, `local[nproc]`.

    python3 perfbench/run.py --workload ldbc_interactive --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. The first run builds the engine and the
runner with sbt (offline) and keeps a copy of the compiled classes, keyed
by a hash of the sources, under `.bench_build/` (or `$CARGO_TARGET_DIR`).
Each run generates its inputs from the seed, sets up the engine several
times, warms up, runs the timed stream, checks every executed statement
against an oracle computed outside the engine, saves a result file under
`.bench_out/` and prints, as its last line, one JSON object: end-to-end
metrics with `--trace 0`, per-layer metrics from the layer-by-layer run
with `--trace 1`. See BENCHMARK.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import ldbc  # noqa: E402
import pokec  # noqa: E402
from compare import digest  # noqa: E402

WORKLOADS = {
    "ldbc_interactive": lambda: ldbc.LdbcWorkload("ldbc_interactive", 1500),
    "ldbc_mixed_rw": lambda: ldbc.LdbcWorkload("ldbc_mixed_rw", 1500),
    "pokec_analytics": lambda: pokec.PokecWorkload(
        users=10000, edges=120000, cutover=100000),
}
# a run stops early only if the engine runs this many cycles in --seconds
MAX_CYCLES = 20
HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# per-layer metrics: name -> (unit, statement-record key); each is the mean
# per timed statement unless computed separately below
PER_STMT = {
    "cypher.parse_ms": ("ms", "parse_ms"),
    "cypher.plan_ms": ("ms", "plan_ms"),
    "cypher.plan_jobs": ("count", "plan_jobs"),
    "cypher.plan_job_ms": ("ms", "plan_job_ms"),
    "cypher.plan_self_ms": ("ms", "self_plan_ms"),
    "catalyst.analysis_ms": ("ms", "analysis_ms"),
    "catalyst.optimization_ms": ("ms", "optimization_ms"),
    "catalyst.planning_ms": ("ms", "planning_ms"),
    "catalyst.plan_nodes": ("count", "plan_nodes"),
    "exec.ms": ("ms", "collect_ms"),
    "exec.self_ms": ("ms", "self_collect_ms"),
    "exec.jobs": ("count", "exec_jobs"),
    "exec.stages": ("count", "exec_stages"),
    "exec.tasks": ("count", "exec_tasks"),
    "exec.task_busy_ms": ("ms", "exec_task_busy_ms"),
    "exec.shuffle_read_mb": ("MB", "exec_shuffle_read_mb"),
    "exec.shuffle_write_mb": ("MB", "exec_shuffle_write_mb"),
    "exec.spill_mb": ("MB", "exec_spill_mb"),
    "exec.task_gc_ms": ("ms", "exec_task_gc_ms"),
    "exec.task_failures": ("count", "exec_task_failures"),
    "jobs.total": ("count", "jobs_total"),
    "jobs.checkpoint": ("count", "jobs_checkpoint"),
    "jobs.operators": ("count", "jobs_operators"),
    "jobs.procedures": ("count", "jobs_procedures"),
    "jobs.core": ("count", "jobs_core"),
    "jobs.cypher": ("count", "jobs_cypher"),
    "jobs.sources": ("count", "jobs_sources"),
    "jobs.client": ("count", "jobs_client"),
    "jobs.async": ("count", "jobs_async"),
}


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(build_dir, stamp):
    """Compiles the engine and the runner with sbt; returns the runtime
    classpath. The compiled class directories are copied into
    `<build_dir>/<stamp>/`, and the cached classpath names those copies,
    so a cached classpath can only run classes built from `stamp`'s
    sources, whatever was compiled into `target/` since."""
    out = os.path.join(build_dir, stamp)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Xmx2g", "-Dsbt.offline=true", "-Djava.io.tmpdir=" + tmp]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines()
             if l and not l.startswith("[") and "classes" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("build failed")
    staging = "%s.tmp%d" % (out, os.getpid())
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    classpath = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(staging, "classes%d" % i))
            entry = os.path.join(out, "classes%d" % i)
        classpath.append(entry)
    classpath = os.pathsep.join(classpath)
    with open(os.path.join(staging, "classpath.txt"), "w") as f:
        f.write(classpath)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return classpath


def percentile(xs, q):
    """Linear interpolation between closest ranks, q in [0, 100]."""
    s = sorted(xs)
    k = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


def end_to_end(res, stmts, datagen_s):
    ms = [s["ms"] for s in stmts]
    by_template = {}
    for s in stmts:
        by_template.setdefault(s["template"], []).append(s["ms"])
    reps = [a + b for a, b in zip(res["load_s"], res["adjacency_s"])]
    return {
        "setup_s": (datagen_s + res["session_s"] + statistics.median(reps)
                    + res["warmup_s"], "s"),
        "throughput_qps": (len(stmts) / res["timed_s"], "1/s"),
        "latency_p50_ms": (percentile(ms, 50), "ms"),
        "latency_p90_ms": (percentile(ms, 90), "ms"),
        "latency_geomean_ms": (math.exp(statistics.mean(
            math.log(statistics.median(v)) for v in by_template.values())),
            "ms"),
    }


def per_layer(res, stmts, cores, e2e, verdicts, mixed):
    n = len(stmts)

    def mean(key):
        return sum(float(s.get(key, 0.0)) for s in stmts) / n

    m = {name: (mean(key), unit) for name, (unit, key) in PER_STMT.items()}
    busy = sum(s.get("exec_task_busy_ms", 0.0) for s in stmts)
    wall = sum(s.get("collect_ms", 0.0) for s in stmts)
    m.update({
        "exec.core_busy_ratio": (busy / (wall * cores) if wall else 0.0, "ratio"),
        "exec.result_rows": (mean("nrows"), "count"),
        "storage.blocks": (res["storage_blocks_end"], "count"),
        "storage.mb": (res["storage_mb_end"], "MB"),
        "storage.mb_per_stmt": ((res["storage_mb_end"] - res["storage_mb_start"])
                                / n, "MB"),
        "jvm.gc_ms": (res["gc_ms"] / n, "ms"),
        "jvm.peak_heap_mb": (res["peak_heap_mb"], "MB"),
        "sources.load_s": (statistics.median(res["load_s"]), "s"),
        "sources.adjacency_s": (statistics.median(res["adjacency_s"]), "s"),
        "trace.latency_p50_ms": (e2e["latency_p50_ms"][0], "ms"),
        "trace.throughput_qps": (e2e["throughput_qps"][0], "1/s"),
        "error_rate": (sum(1 for ok, _ in verdicts if not ok) / n, "ratio"),
        "statements": (n, "count"),
    })
    if mixed:
        # the write path: only a read/write mix has it
        writes = [s["ms"] for s in stmts if s["kind"] in ("write", "update")]
        reads = [s["ms"] for s in stmts if s["kind"] == "read"]
        m.update({
            "core.versions": (res["versions"], "count"),
            "read_p50_ms": (percentile(reads, 50), "ms"),
            "write_p50_ms": (percentile(writes, 50), "ms"),
        })
    return m


def template_medians(stmts, keys):
    out = {}
    for t in sorted({s["template"] for s in stmts}):
        ss = [s for s in stmts if s["template"] == t]
        out[t] = {k: statistics.median(float(s.get(k, 0.0)) for s in ss)
                  for k in keys}
        out[t]["count"] = len(ss)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load_start = os.getloadavg()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources (build.sbt, src/main/scala) not found beside "
             "the benchmark; run from a checkout of the repository", 2)

    os.chdir(ROOT)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    stamp = source_digest()
    classpath = build(build_dir, stamp)
    started = time.time()  # the build has its own, longer limit

    cores = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload]()
    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (
        wl.name, args.seed, os.getpid()))
    data_dir = os.path.join(run_dir, "data")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(data_dir)
    os.makedirs(tmp)
    try:
        t0 = time.time()
        wl.generate(data_dir, args.seed)
        datagen_s = time.time() - t0
        wl.prepare(data_dir, args.seed)
        graph_dirs = []
        for i in range(wl.setup_reps):
            d = os.path.join(run_dir, "rep%d" % i)
            os.symlink(data_dir, d)
            graph_dirs.append(d)
        warm, timed = wl.streams(MAX_CYCLES)
        conf = {"cores": cores, "trace": args.trace, "seconds": args.seconds,
                "cycle": wl.cycle, "graph": wl.graph,
                "graph_dirs": ",".join(graph_dirs), "spark.local.dir": tmp}
        conf.update(wl.conf)
        with open(os.path.join(run_dir, "run.conf"), "w") as f:
            f.writelines("%s=%s\n" % kv for kv in conf.items())
        for name, stream in (("warmup.tsv", warm), ("stream.tsv", timed)):
            with open(os.path.join(run_dir, name), "w") as f:
                for kind, template, params in stream:
                    f.write("%s\t%s\t%s\n" % (kind, template,
                                              wl.cypher(template, params)))

        cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", classpath, "graftbench.Main", run_dir])
        log_path = os.path.join(run_dir, "runner.log")
        jvm_start = time.time()
        with open(log_path, "w") as log:
            try:
                proc = subprocess.run(
                    cmd, stdout=log, stderr=subprocess.STDOUT,
                    timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
                code = proc.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        jvm_s = time.time() - jvm_start
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.isfile(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail("runner exited with %s" % code)
        with open(result_path) as f:
            res = json.load(f)

        stmts = res["statements"]
        if not stmts:
            fail("no statement completed in the timed phase")
        executed = [(s["kind"], s["template"], timed[s["i"]][2],
                     None if s["error"] else s["rows"]) for s in stmts]
        verdicts = wl.check(executed)
        for s, (ok, why) in zip(stmts, verdicts):
            s["ok"], s["why"] = ok, why or s["error"] or ""
            s["digest"] = digest(s["rows"])
            s["nrows"] = len(s["rows"])
        checks = res.get("equivalence_checks", [])
        equivalent = all(c["same"] for c in checks)
        failed = sum(1 for ok, _ in verdicts if not ok)

        e2e = end_to_end(res, stmts, datagen_s)
        layer = (per_layer(res, stmts, cores, e2e, verdicts, wl.mixed)
                 if args.trace else {})
        report = e2e if not args.trace else layer
        keys = ["ms"] + [k for _, k in PER_STMT.values()] if args.trace else ["ms"]
        saved = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds,
            "provenance": {
                "git_commit": git_commit(), "source_digest": stamp,
                "nproc": cores, "loadavg_start": load_start,
                "loadavg_end": os.getloadavg(),
                "max_heap_mb": res["max_heap_mb"],
                "spark_version": res["spark_version"],
                "java_version": res["java_version"],
                "node_counts": res["node_counts"],
                "edge_counts": res["edge_counts"],
                "graft_conf": res["graft_conf"],
                "datagen_s": datagen_s, "session_s": res["session_s"],
                "load_s": res["load_s"], "adjacency_s": res["adjacency_s"],
                "warmup_s": res["warmup_s"], "timed_s": res["timed_s"],
                "runner_s": jvm_s, "counts_s": res["counts_s"],
                "run_s": time.time() - started,
                "jobs_outside_statements": res.get("jobs_outside"),
            },
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
            "per_template": template_medians(stmts, keys),
            "equivalence_checks": checks,
            "statements": [{k: v for k, v in s.items() if k != "rows"}
                           for s in stmts],
        }
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        base = os.path.join(out_dir, "%s-seed%d-trace%d-%s" % (
            wl.name, args.seed, args.trace, time.strftime("%Y%m%dT%H%M%S")))
        with open(base + ".json", "w") as f:
            json.dump(saved, f, indent=1)
        if args.trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), base + ".spans.jsonl")

        for s in stmts:
            if not s["ok"]:
                print("MISMATCH %s #%d: %s" % (s["template"], s["i"], s["why"][:300]))
        if not equivalent:
            print("MISMATCH layer-by-layer path differs from Cypher.execute: %s"
                  % [c["template"] for c in checks if not c["same"]])
        samples = len(stmts)
        print("%s seed=%d trace=%d statements=%d (p90 has %d samples above it)"
              % (wl.name, args.seed, args.trace, samples, samples // 10))
        for name, (v, unit) in report.items():
            print("  %-28s %14.4f %s" % (name, v, unit))
        print("saved %s.json" % os.path.relpath(base, ROOT))
        print(json.dumps({
            "correct": failed == 0 and equivalent,
            "attempted": samples, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
