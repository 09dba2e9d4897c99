#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into the usual `target/`
directories; later runs reuse that build while the sources are unchanged.
Each run gets its own empty working directory under `perfbench/work/runs/`,
generates its inputs from the seed, drives the workload in one engine JVM
at `local[2]` with a 2 GB heap, checks the outputs with DuckDB, prints a
readable summary and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones (from traced passes of the same run).
Workloads, metrics and their meaning: perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import checks  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("streamflow_pipeline", "query_mix")
TABLES_SF = 0.01
HEAP = "2g"
CORES = 2
JVM_TIMEOUT_S = 160
with open(os.path.join(HERE, "mixes.json")) as _f:
    MIXES = json.load(_f)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames[:] = sorted(x for x in dirnames if x not in ("target", "project"))
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def ensure_build():
    """Compile engine + harness with sbt unless the build is current;
    return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] engine sources not found: {need} "
                             "(run from a full checkout of the repository)")
    build_dir = os.path.join(WORK, "build")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("[perfbench] sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    proc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (exit {proc.returncode})")
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") and "scala-2.13/classes" in ln]
    if not lines:
        raise SystemExit("[perfbench] build printed no classpath")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return lines[-1].strip()


# ------------------------------------------------------------------ run

def run_engine(classpath, args, run_dir, result_path, spans_path):
    java = shutil.which("java")
    if java is None:
        raise SystemExit("[perfbench] java not found on PATH")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JVM sizes its GC and JIT thread pools for the reference worker's
    # two cores; sized for the whole VM they raise the steal time under load
    cmd += [f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CORES}",
            f"-Djava.io.tmpdir={tmp}", f"-Duser.dir={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--tables", os.path.join(run_dir, "tables"),
            "--queries", ",".join(MIXES.get(args.workload, [])),
            "--result", result_path, "--spans", spans_path]
    log_path = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as logf:
        launch_ms = time.time() * 1000.0
        proc = subprocess.Popen(cmd + ["--launch-ms", repr(launch_ms)], cwd=run_dir,
                                stdin=subprocess.DEVNULL, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"[perfbench] engine timed out after {JVM_TIMEOUT_S} s; log: {log_path}")
    if code != 0 or not os.path.exists(result_path):
        raise SystemExit(f"[perfbench] engine exited {code}; log: {log_path}")
    with open(result_path) as f:
        return json.load(f)


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo, hi = int(i), min(int(i) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = ensure_build()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload != "streamflow_pipeline":
            gen_tables.write(os.path.join(run_dir, "tables"), args.seed, TABLES_SF)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        spans_path = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.spans.jsonl")
        res = run_engine(classpath, args, run_dir, os.path.join(run_dir, "result.json"), spans_path)
        problems = checks.run(args.workload, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report(args, res, problems)


def report(args, res, problems):
    samples = res["samples"]
    # op statistics over whole passes only, so every op counts equally often
    whole = {p["pass"] for p in res["passes"]}
    ok = [s["wall_s"] for s in samples if s["error"] is None and s["pass"] in whole]
    op_failures = len(res["cold_errors"]) + sum(1 for s in samples if s["error"] is not None)
    attempted = len(res["cold_ops"]) + len(samples)
    failed = min(attempted, op_failures + len(problems))
    passes = [p["wall_s"] for p in res["passes"]]
    op_p50 = statistics.median(ok) if ok else 0.0
    op_medians = per_op_medians(res)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "op_s_geomean": (statistics.geometric_mean(op_medians.values())
                         if op_medians else float("nan"), "s"),
        "pass_s": (statistics.median(passes) if passes else float("nan"), "s"),
    }
    host = res["host"]
    print(f"workload {res['workload']} seed {args.seed}: {attempted} ops attempted "
          f"({len(res['cold_ops'])} cold, {len(samples)} timed in {len(passes)} passes over "
          f"{res['window_s']:.1f} s), {failed} failed, failed_share {failed / attempted:.4f}")
    print(f"setup: {res['setup_s']:.2f} s = session {res['session_s']:.2f} s + fixtures "
          f"{res['fixtures_s']:.2f} s + cold pass {res['cold_s']:.2f} s")
    print(f"host: steal_share {host['steal_share']:.4f}, other_cpu_share "
          f"{host['other_cpu_share']:.4f}, nproc {os.cpu_count()}, cores {host['cores']}, "
          f"heap {host['heap_mb']:.0f} MB")
    slow = sorted(res["cold_ops"], key=lambda o: -o["wall_s"])[:5]
    print("slowest cold ops: " + ", ".join(f"{o['name']} {o['wall_s']:.2f} s" for o in slow))
    modes = res["checks"].get("mv_modes")
    if modes:
        inc = sum(1 for m in modes if m["mode"].startswith("incremental"))
        print(f"mv refreshes: {len(modes)}, incremental {inc} "
              f"({', '.join(sorted({m['mv'] + '=' + m['mode'] for m in modes}))})")
    for e in res["cold_errors"]:
        print(f"cold op failed: {e['op']}: {e['error']}")
    for s in samples:
        if s["error"] is not None:
            print(f"op failed: {s['name']} (pass {s['pass']}): {s['error']}")
    for p in problems:
        print(f"check failed: {p}")
    n_ok = len(ok)
    print("timed op walls (s), pass by pass: " + " ".join(
        f"{s['name'].split('_')[0]}:{s['wall_s']:.3f}/{s['cpu_s']:.3f}cpu"
        for s in samples if s["error"] is None))
    print("per-op medians (s): " + " ".join(f"{k} {v:.3f}" for k, v in sorted(op_medians.items())))
    print(f"op_s_geomean over {len(op_medians)} ops; op_s_p50 {op_p50:.4f} s "
          f"and op_s_p90 {quantile(ok, 0.9):.4f} s over {n_ok} timed ops "
          f"({'>= 10 samples beyond it' if n_ok >= 100 else 'fewer than 10 samples beyond it'}); "
          f"pass_s over {len(passes)} passes")
    print(f"cold_s {res['cold_s']:.3f} s, peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    events_per_s = 0.0
    if res["workload"] == "streamflow_pipeline":
        warm = sum(ok)
        events_per_s = res["checks"]["items_per_batch"] * n_ok / warm if warm else 0.0
        print(f"pipeline: cold_batch_s {res['cold_s']:.3f}, batch_s_p50 {op_p50:.3f}, "
              f"events_per_s {events_per_s:.0f} (events + transactions over warm-batch time)")

    if args.trace:
        metrics = per_layer(res, ok, op_p50, failed / attempted, events_per_s)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"  {k:42s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def per_op_medians(res):
    """Median wall time of each op of the mix, over whole passes."""
    whole = {p["pass"] for p in res["passes"]}
    walls = {}
    for s in res["samples"]:
        if s["error"] is None and s["pass"] in whole:
            walls.setdefault(s["name"], []).append(s["wall_s"])
    return {k: statistics.median(v) for k, v in walls.items()}


def per_layer(res, ok, op_p50, failed_share, events_per_s):
    units = {"_per_s": "1/s", "_s": "s", "_p50": "s", "_p90": "s", "_ms": "ms", "_mb": "MB",
             "_share": "share", "_byte": "ratio"}

    def unit(name):
        for suf, u in units.items():
            if name.endswith(suf):
                return u
        return "count"

    layers = dict(res["layers"])
    layers["sources.fact_files"] = float(res["checks"].get("fact_files", 0))
    layers["failed_share"] = failed_share
    layers["cold_s"] = res["cold_s"]
    layers["peak_rss_mb"] = res["peak_rss_mb"]
    layers["jobs.events_per_s"] = events_per_s
    layers["op_s_p50"] = op_p50
    layers["op_s_p90"] = quantile(ok, 0.9)
    whole = {p["pass"] for p in res["passes"]}
    samples = [s for s in res["samples"] if s["error"] is None and s["pass"] in whole]
    cpu = [s["cpu_s"] for s in samples]
    layers["jvm.cpu_s"] = statistics.median(cpu) if cpu else 0.0
    traced = [s["wall_s"] for s in samples if s["traced"]]
    untraced = [s["wall_s"] for s in samples if not s["traced"]]
    layers["trace.overhead_op_s"] = (statistics.median(traced) - statistics.median(untraced)
                                     if traced and untraced else 0.0)
    tp = [p["wall_s"] for p in res["passes"] if p["traced"]]
    up = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    layers["trace.overhead_pass_s"] = (statistics.median(tp) - statistics.median(up)
                                       if tp and up else 0.0)
    for q in MIXES["query_mix"]:
        xs = [s["wall_s"] for s in samples if s["name"] == q]
        layers[f"query.{q.split('_')[0]}_s"] = statistics.median(xs) if xs else 0.0
    return {k: {"value": v, "unit": unit(k)} for k, v in sorted(layers.items())}


if __name__ == "__main__":
    main()
