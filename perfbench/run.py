#!/usr/bin/env python3
"""graft refresh benchmark.

Usage, from the root of a checkout:

  python3 perfbench/run.py --workload refresh-daily --seed 1 --seconds 12 --trace 0

Builds the engine from the checkout's sources (once; the build is cached in
.bench_build/ and redone when a source changes), generates the workload's
inputs from the seed, runs one JVM with `local[<cores>]` Spark, checks the
outputs and prints a report followed by one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
of BENCHMARK.json. The exit code is non-zero when any check fails.

The timed work is a fixed set of units (workloads.json: `timed_cycles`,
`timed_rounds`), sized to about --seconds on a 4-core host, so every commit
times the same cycles and ops; --seconds does not cut the loop.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with the benchmark's own sbt
    project unless the cached build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; "
             "run from the root of a graft checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "printClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_jvm(classpath, workload, inputs, work, trace):
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", workload, inputs, work,
            str(trace), result]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with {proc.returncode}")
    with open(result) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

SERVE_KINDS = ("analytics_ms", "ann_probe_ms", "bm25_probe_ms", "write_ms")


def cycle_s(s):
    """Median refresh cycle. For serve-mix, a round's time: the sum of its
    ops' measured latencies, so every probe counts, the one after a write
    too; the check work between ops (recall, raw-store write) stays out."""
    if "analytics_ms" not in s:
        return M.median(s["cycle_s"])
    rounds = len(s["cycle_s"])
    return sum(sum(s.get(k, [])) for k in SERVE_KINDS) / rounds / 1e3


def end_to_end(res):
    v, s = res["values"], res["samples"]
    return {
        "setup_s": (v["setup_s"], "s"),
        "cycle_s": (cycle_s(s), "s"),
        "live_heap_mb": (v["live_heap_mb"], "MB"),
        "store_bytes_per_live_byte": (v["store_bytes"] / v["live_bytes"], "ratio"),
    }


def report_latency(s, key, label):
    """Per-op-type latency percentiles, where the sample rule allows."""
    xs = s.get(key, [])
    out = []
    for q in (0.5, 0.9):
        p = M.percentile(xs, q)
        shown = f"{p:.1f} ms" if p is not None else \
            f"n/a (needs {M.MIN_BEYOND} samples beyond p{int(q * 100)})"
        out.append(f"{label}_p{int(q * 100)}_ms = {shown}  [n={len(xs)}]")
    return out


def per_layer(res, workload):
    v, s = res["values"], res["samples"]
    trace = res["trace"]
    lay = M.layer_breakdown(trace, exclude=("check", "rebuild"))
    traced_cycles = s.get("traced_cycle_s", [])
    # serve-mix times single ops; its unit for per-cycle totals is a round,
    # scaled by the share of its ops that were traced
    if workload == "serve-mix":
        n_traced = sum(len(s.get("traced_" + k, [])) for k in SERVE_KINDS)
        n_ops = n_traced + sum(len(s.get(k, [])) for k in SERVE_KINDS)
        units = len(s.get("cycle_s", [])) * n_traced / n_ops if n_ops else 0
    else:
        units = len(traced_cycles)
    units = units or 1

    def per_unit(x):
        return x / units

    def g(name, field):
        return lay.get(name, {}).get(field, 0)

    def mean_self_ms(name):
        d = lay.get(name)
        return d["self_ms"] / d["count"] if d and d["count"] else 0.0

    measured = res["counts"]  # the last timed refresh cycle

    def cmean(k):
        xs = [c[k] for c in measured if k in c]
        return sum(xs) / len(xs) if xs else 0

    n_all = len(s.get("cycle_s", [])) + len(traced_cycles)
    reqs, miss = v.get("enrich_requests", 0), v.get("enrich_misses", 0)
    stages = ["cdc", "upsert", "docpipe", "enrich", "export", "publish",
              "ann.write", "ann.probe", "bm25.probe", "queries"]
    all_names = [n for n in lay if n != "cycle"]
    tot = {f: sum(g(n, f) for n in all_names) for f in
           ("jobs", "stages", "tasks", "task_ms", "shuffle_write_b",
            "shuffle_read_b", "spill_b", "failed_tasks", "gap_ms", "schema_jobs")}
    out = {
        "cdc.self_s": (per_unit(g("cdc", "self_ms")) / 1e3, "s"),
        "cdc.rows_in": (cmean("listing") + cmean("catalog_in"), "rows"),
        "cdc.rows_out": (cmean("process") + cmean("delete"), "rows"),
        "upsert.self_s": (per_unit(g("upsert", "self_ms")) / 1e3, "s"),
        "upsert.jobs": (per_unit(g("upsert", "jobs")), "count"),
        "docpipe.self_s": (per_unit(g("docpipe", "self_ms")) / 1e3, "s"),
        "docpipe.pages_in": (cmean("pages"), "rows"),
        "docpipe.chunks_out": (cmean("chunks"), "rows"),
        "enrich.self_s": (per_unit(g("enrich", "self_ms")) / 1e3, "s"),
        "enrich.calls": (reqs / max(1, n_all), "count"),
        "enrich.cache_hit_ratio": (1 - miss / reqs if reqs else 0.0, "ratio"),
        "export.self_s": (per_unit(g("export", "self_ms")) / 1e3, "s"),
        "export.rows": (cmean("export_out"), "rows"),
        "publish.self_s": (per_unit(g("publish", "self_ms")) / 1e3, "s"),
        "publish.bytes_written": (cmean("publish_bytes"), "bytes"),
        "ann.write_self_s": (mean_self_ms("ann.write") / 1e3, "s"),
        "ann.write_bytes": (cmean("ann_write_bytes"), "bytes"),
        "ann.touched_cells": (cmean("ann_touched_cells"), "count"),
        "ann.chain_depth": (v.get("ann_chain_depth", cmean("ann_chain_depth")), "count"),
        "ann.probe_self_ms": (mean_self_ms("ann.probe"), "ms"),
        "ann.recall_at_k": (v.get("recall_at_k", 0.0), "ratio"),
        "ann.stale_vectors": (v.get("stale_vectors", 0), "count"),
        "bm25.probe_self_ms": (mean_self_ms("bm25.probe"), "ms"),
        "queries.construct_ms": (mean_self_ms("queries.construct"), "ms"),
        "queries.plan_ms": (mean_self_ms("queries.plan"), "ms"),
        "queries.exec_ms": (mean_self_ms("queries.exec"), "ms"),
        "staging.staged_frames": (max(s.get("staged_frames", [0])), "count"),
        "staging.pending_transients": (max(s.get("pending_transients", [0])), "count"),
        "sources.schema_jobs": (per_unit(tot["schema_jobs"]), "count"),
        "spark.jobs": (per_unit(tot["jobs"]), "count"),
        "spark.stages": (per_unit(tot["stages"]), "count"),
        "spark.tasks": (per_unit(tot["tasks"]), "count"),
        "spark.task_busy_s": (per_unit(tot["task_ms"]) / 1e3, "s"),
        "spark.shuffle_write_mb": (per_unit(tot["shuffle_write_b"]) / 1048576, "MB"),
        "spark.shuffle_read_mb": (per_unit(tot["shuffle_read_b"]) / 1048576, "MB"),
        "spark.spill_mb": (per_unit(tot["spill_b"]) / 1048576, "MB"),
        "spark.failed_tasks": (per_unit(tot["failed_tasks"]), "count"),
        "spark.driver_gap_s": (per_unit(tot["gap_ms"]) / 1e3, "s"),
        "jvm.gc_s": (v.get("gc_s", 0.0) / max(1, n_all), "s"),
        "ops.failed_ratio": (v.get("failed", 0) / max(1, v.get("attempted", 1)), "ratio"),
        "trace.stage_coverage": (M.coverage(trace) or 0.0, "ratio"),
        "rebuild.full_s": (v.get("rebuild_full_s", 0.0), "s"),
        "rebuild.busy_share": (M.busy_share(trace, "rebuild") or 0.0, "ratio"),
        "trace.overhead_ratio": (overhead(s), "ratio"),
    }
    for st in stages:
        # a stage's own spans plus its sub-spans (queries.construct, ...)
        parts = [n for n in lay if n == st or n.startswith(st + ".")]
        for field in ("gap", "busy"):
            ms = sum(g(n, field + "_ms") for n in parts)
            out[f"{st}.{field}_s"] = (per_unit(ms) / 1e3, "s")
    return out


def overhead(s):
    """Traced over untraced time of the same kind of unit, minus one."""
    pairs = [(k, "traced_" + k) for k in ("cycle_s", "ann_probe_ms",
                                          "bm25_probe_ms", "analytics_ms",
                                          "write_ms")]
    ratios = []
    for plain, traced in pairs:
        a, b = M.median(s.get(plain, [])), M.median(s.get(traced, []))
        if a and b and not (plain == "cycle_s" and "traced_analytics_ms" in s):
            ratios.append(b / a)
    return sum(ratios) / len(ratios) - 1 if ratios else 0.0


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        gen.generate(a.workload, a.seed, inputs)
        res = run_jvm(classpath, a.workload, inputs, work, a.trace)
        problems = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
        expected = json.load(open(os.path.join(inputs, "refresh", "expected.json")))
        for c in res["counts"]:
            problems += checks.conservation_failures(c, expected[c["cycle"]])
        v, s = res["values"], res["samples"]
        if a.workload == "serve-mix" and "oracle_sql" in v:
            problems += checks.oracle_failures(
                os.path.join(inputs, "sf"), v["analytics_dir"], v["oracle_sql"],
                [n for n in os.listdir(v["analytics_dir"])])
        attempted = int(v.get("attempted", len(s.get("cycle_s", [])) +
                              len(s.get("traced_cycle_s", []))))
        failed = int(v.get("failed", 0))
        lines = [f"workload {a.workload} seed {a.seed} cores {v['cores']} "
                 f"(closed loop, 1 client)"]
        if a.trace:
            ms = per_layer(res, a.workload)
        else:
            ms = end_to_end(res)
            for key in ("cycle_s",) + SERVE_KINDS:
                if key in s:
                    lines.append(f"{key} samples n={len(s[key])}: " +
                                 " ".join(f"{x:.4g}" for x in s[key]))
            for key, label in (("probe_ms", "probe"), ("analytics_ms", "analytics"),
                               ("write_ms", "write")):
                if key in s:
                    lines += report_latency(s, key, label)
            lines.append(f"failed_ratio = {failed / max(1, attempted):.4f} "
                         f"[{failed} of {attempted}]")
            lines.append(f"phases: set-up {v['setup_s']:.1f} s, timed loop "
                         f"{v['measure_s']:.1f} s, checks "
                         f"{v['jvm_s'] - v['setup_s'] - v['measure_s']:.1f} s")
            lines.append(f"live_heap_mb is the peak of {v['heap_samples']} "
                         f"post-GC samples ({v['heap_sample_s']:.2f} s, untimed)")
        for k, (val, unit) in ms.items():
            lines.append(f"{k} = {val:.6g} {unit}")
        for p in problems:
            lines.append(f"CHECK FAILED {p}")
        print("\n".join(lines))
        out = {"correct": not problems, "attempted": max(1, attempted),
               "failed": failed,
               "metrics": {k: {"value": float(val), "unit": unit}
                           for k, (val, unit) in ms.items()}}
        print(json.dumps(out))
        return 0 if not problems else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
