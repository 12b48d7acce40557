#!/usr/bin/env python3
"""Run one benchmark workload against the product built from this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload NAME --steadiness RUNS [--same-seed] [--seed N]

The first form builds the product and the harness (sbt, offline) when
their sources changed, starts one JVM that generates the seeded inputs,
sets up, runs the closed loop for S seconds and checks outputs, then
prints every metric with its unit and, as the last stdout line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics (from
the Chrome trace written under .bench_build/out) with --trace 1. It exits
non-zero when any output check fails.

The second form runs the workload RUNS times, with seeds 1..RUNS or,
with --same-seed, RUNS times with seed N, and prints each end-to-end
metric's median, quartile spread and max/min against its bound. It
exits 1 when any spread exceeds its bound, the most a metric's median
may move before a change counts as a regression; a spread at or above a
third of the bound is flagged as noisy.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 890
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, limit, env=None, stdout=None):
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build(deadline):
    """Compile product + harness when their sources changed; return the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        cp_file = os.path.join(BUILD, "classpath.txt")
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as f:
                        return f.read().strip(), False
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        print("perfbench: building product and harness (sbt)", file=sys.stderr)
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       HERE, max(1, deadline - time.time()), env=env, stdout=sys.stderr)
        if rc != 0:
            fail("build failed" if rc is not None else "build timed out", 3)
        shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        with open(cp_file) as f:
            return f.read().strip(), True


def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except Exception:
        return None


def run_once(workload, seed, seconds, trace):
    """One run; returns (result object, report lines)."""
    start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("product sources (src/main/scala/graft) not found in this checkout")
    spec = bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    if workload not in names:
        fail(f"unknown workload {workload}; one of {', '.join(names)}")
    cp, built = build(start + BUILD_LIMIT_S)
    limit = (BUILD_LIMIT_S + 5 if built else RUN_LIMIT_S) - (time.time() - start)

    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(ROOT, ".bench_build", "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_build", "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # a fixed heap and young generation: the JVM's adaptive sizing would
    # otherwise move peak_rss_mb from run to run
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work]
    try:
        rc = run_group(cmd, work, limit, stdout=sys.stderr)
        raw_path = os.path.join(work, "raw.json")
        if rc != 0 or not os.path.exists(raw_path):
            fail(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}", 1)
        raw = analyze.load(raw_path)
        shutil.copy(raw_path, os.path.join(out_dir, f"raw-{tag}.json"))
        checks = list(raw["checks"])
        ex = raw["extra"]
        if "oracle_sql" in ex:
            for q, ok, detail in oracle.check(ex["data_dir"], ex["oracle_sql"], ex["fingerprints"]):
                checks.append({"name": f"{q}.oracle", "ok": ok, "detail": "" if ok else detail})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for o in raw["ops"] if o["phase"] == ("traced" if trace else "untraced")]
    failed = sum(1 for o in ops if not o["ok"])
    bad_ops = [o for o in raw["ops"] if not o["ok"]]  # warm-up ops included
    bad_checks = [c for c in checks if not c["ok"]]
    correct = not bad_ops and not bad_checks and len(ops) > 0
    e2e = analyze.e2e(raw)
    lines = [f"workload {workload}  seed {seed}  seconds {seconds}  trace {trace}"]
    with open(os.path.join(BUILD, "stamp")) as f:
        env = dict(raw["env"], git_commit=git_commit(), source_sha256=f.read())
    lines.append("env " + json.dumps(env, sort_keys=True))
    for name, (v, unit, note) in e2e.items():
        lines.append(f"  {name:<16} {v:>14.6g} {unit:<6} {note}")
    for c in bad_checks:
        lines.append(f"  CHECK FAILED {c['name']}: {c['detail']}")
    for o in bad_ops:
        lines.append(f"  OP FAILED ({o['phase']}) {o['name']}: {o['err']}")
    lines.append(f"  checks {len(checks) - len(bad_checks)}/{len(checks)} passed")
    if trace:
        tr = analyze.build_trace(raw)
        tpath = os.path.join(out_dir, f"trace-{tag}.json")
        with open(tpath, "w") as f:
            json.dump(tr, f)
        layer = analyze.per_layer(analyze.load(tpath), [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": v, "unit": units[n]} for n, v in layer.items()}
        lines.append(f"  trace written to {os.path.relpath(tpath, ROOT)}")
        for n, v in layer.items():
            lines.append(f"  {n:<34} {v:>14.6g} {units[n]}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    result = {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
        json.dump({"result": result, "e2e": {k: v[0] for k, v in e2e.items()}, "env": env,
                   "checks": checks}, f, indent=1)
    return result, lines


def spread(xs):
    """Quartile distance over the median, as statistics.quantiles gives them."""
    med = statistics.median(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return (q[2] - q[0]) / med if med else float("inf")


def steadiness(workload, runs, seconds, seed=None):
    spec = bench_spec()
    vals = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(1, runs + 1):
        s = seed if seed is not None else i
        res, _ = run_once(workload, s, seconds, 0)
        print(f"run {i} seed {s}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
        if not res["correct"]:
            return 1
        for k, v in res["metrics"].items():
            vals[k].append(v["value"])
    print(f"{'metric':<16} {'median':>12} {'iqr/med':>9} {'max/min':>9} {'bound':>7}")
    ok = True
    for m in spec["end_to_end"]:
        xs = vals[m["name"]]
        sp = spread(xs)
        ok &= sp <= m["bound"]
        verdict = "OVER BOUND" if sp > m["bound"] else "noisy" if sp >= m["bound"] / 3 else "ok"
        print(f"{m['name']:<16} {statistics.median(xs):>12.6g} {sp:>9.4f} "
              f"{max(xs) / min(xs):>9.4f} {m['bound']:>7} {verdict}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", type=int, metavar="RUNS")
    ap.add_argument("--same-seed", action="store_true",
                    help="with --steadiness: every run uses --seed")
    a = ap.parse_args()
    seconds = a.seconds if a.seconds is not None else bench_spec()["run_seconds"]
    if a.steadiness:
        sys.exit(steadiness(a.workload, a.steadiness, seconds, a.seed if a.same_seed else None))
    result, lines = run_once(a.workload, a.seed, seconds, a.trace)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
