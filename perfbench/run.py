#!/usr/bin/env python3
"""graft benchmark: one command that builds graft, generates a
workload's inputs from a seed, runs graft on them in one JVM, checks
every output, and prints the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(and writes spans and per-layer sums to perfbench/work/trace-*.json).
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the benchmark writes stays under perfbench/work/ (inputs
cached per workload and seed, the Spark scratch space, the outputs it
checks) and the build directories of the two sbt projects.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 150
# A fixed heap and young generation: with G1's adaptive sizing the
# JVM's peak RSS varied by up to 20% between runs on the same input.
# No perf-data file: the JVM would write it outside the checkout.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData"]
# Spark 4 on JDK 17 outside spark-submit needs these (the set graft's
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath():
    """Builds graft and the benchmark with sbt (once per source state)
    and returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found ({need}); run from a checkout")
    stamp = source_stamp()
    cache = os.path.join(HERE, "target", "bench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c["stamp"] == stamp:
            return c["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building graft and the benchmark with sbt ...")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# ------------------------------------------------------------------ run

def run_jvm(cp, workload, inputs, seconds, trace, cpus):
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens",
                                                      f"{p}=ALL-UNNAMED")]
           + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Runner",
              "--workload", workload, "--inputs", inputs, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(cpus), "--out", out])
    with open(os.path.join(WORK, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("graft JVM timed out")
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(WORK, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail(f"graft JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f), work


def tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    11th largest sample (the largest one when there are at most ten)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


# Metric names, units and order come from BENCHMARK.json.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
PER_LAYER = [(m["name"], m["unit"]) for m in BENCH["per_layer"]]


def layer_metrics(rec, outcomes):
    """Per-layer sums of one warm pass: the mean over the traced passes.
    The tracing overhead is the traced passes' mean wall time minus that
    of the untraced passes after the first (the warm-up) of the run."""
    traced = [p for p in rec["warm"] if p["traced"]]
    untraced = [p for p in rec["warm"][1:] if not p["traced"]]
    vals = {}
    for k, unit in PER_LAYER:
        if k in outcomes:
            vals[k] = outcomes[k]
        elif traced and k in traced[0]["layers"]:
            vals[k] = statistics.mean(p["layers"][k] for p in traced)
        else:
            vals[k] = 0.0
    vals["trace.overhead_s"] = statistics.mean(
        p["wall_s"] for p in traced) - statistics.mean(
        p["wall_s"] for p in untraced)
    return {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    # the generator's own hash is part of the cache key, so a changed
    # generator never reads inputs cached by an older one
    with open(gen.__file__, "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    inputs = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}-{gen_hash}")
    gen.generate(inputs, a.workload, a.seed)
    with open(os.path.join(inputs, "props.json")) as f:
        props = json.load(f)
    cpus = os.cpu_count() or 1

    rec, work = run_jvm(cp, a.workload, inputs, a.seconds, a.trace, cpus)

    # ---- checks: a wrong output fails every execution of its step ----
    bad, outcomes = checks.check(a.workload, inputs, work, rec)
    passes = [rec["cold"]] + rec["warm"]
    attempted = sum(len(p["steps"]) for p in passes)
    failed = sum(1 for i, p in enumerate(passes) for s in p["steps"]
                 if not s["ok"] or (None, s["name"]) in bad
                 or (i, s["name"]) in bad)
    for e in rec["errors"]:
        log("error:", e)
    for pass_index, name in sorted(bad, key=str):
        log(f"check failed: {name}" + ("" if pass_index is None
                                      else f" (pass {pass_index})"))

    warm = [p for p in rec["warm"] if not p["traced"]]
    walls = [p["wall_s"] for p in warm]
    wall = statistics.median(walls)
    per_step = {}
    for p in warm:
        for s in p["steps"]:
            per_step.setdefault(s["name"], []).append(s["s"])
    lat = [x for v in per_step.values() for x in v]
    t_val, t_pct, t_n = tail(lat)
    rows = props["main_table_rows"]
    e2e = {
        "setup_s": statistics.median(rec["setup_s"]),
        "cold_wall_s": rec["cold"]["wall_s"],
        "wall_s": wall,
        "rows_per_s": rows / wall,
        "step_p50_s": statistics.median(
            statistics.median(v) for v in per_step.values()),
        "step_tail_s": t_val,
        "peak_rss_mb": rec["peak_rss_mb"],
        "ok_ratio": (attempted - failed) / attempted,
    }
    metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
               for m in BENCH["end_to_end"]}

    # ---- human-readable report (stdout, before the result line) ----
    print(f"workload {a.workload} seed {a.seed}: {len(warm)} warm passes, "
          f"{len(lat)} step samples, {rec['cores']} cores, "
          f"closed loop with one client")
    for k, m in metrics.items():
        extra = {"rows_per_s": f"  (main table {rows} rows)",
                 "step_tail_s": f"  (p{t_pct:.1f} of {t_n} samples)"}
        print(f"  {k:<14} {m['value']:14.4f} {m['unit']}{extra.get(k, '')}")
    print(f"  fail_ratio     {failed / attempted:14.4f} ratio"
          f"  ({failed} of {attempted} steps)")
    print("input properties: " + json.dumps(props, sort_keys=True))
    if "planted_dup_share" in props:
        print(f"planted duplicate share {props['planted_dup_share']:.4f}, "
              f"dedup.keep_ratio {outcomes.get('dedup.keep_ratio', 0):.4f}")
    if a.workload == "ingest_ticks":
        sf = rec["store_files"]
        print(f"cross-tick copy share {props['cross_tick_copy_share']:.4f}, "
              f"history copy share {props['history_copy_share']:.4f}, "
              f"ingest.accept_ratio {outcomes['ingest.accept_ratio']:.4f}, "
              f"ingest.bloom_precision {outcomes['ingest.bloom_precision']:.4f}")
        print(f"store files per probe: first tick {sf[0]}, last tick "
              f"{sf[props['ticks'] - 1]}")

    if a.trace:
        metrics = layer_metrics(rec, outcomes)
        with open(os.path.join(work, "spans.json")) as f:
            spans = json.load(f)
        path = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        traced = [p["layers"] for p in rec["warm"] if p["traced"]]
        uncovered = {k[len("uncovered."):]: statistics.mean(t[k] for t in traced)
                     for k in traced[0] if k.startswith("uncovered.")}
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "per_layer": metrics,
                       "uncovered_by_step_s": uncovered, "spans": spans}, f)
        ov = metrics["trace.overhead_s"]["value"]
        print(f"tracing overhead: {ov:.4f} s per pass "
              f"({100 * ov / wall:.1f}% of wall_s {wall:.4f} s); "
              f"trace written to {os.path.relpath(path, ROOT)}")
        print("step wall time no span covers (s, mean of traced passes): "
              + ", ".join(f"{k} {v:.4f}" for k, v in sorted(uncovered.items())))
        for k, m in metrics.items():
            print(f"  {k:<26} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
