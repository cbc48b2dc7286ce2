#!/usr/bin/env python3
"""Run one benchmark workload end to end and print its metrics.

    python3 perfbench/run.py --workload museum_daily --seed 1 --seconds 10 --trace 0

Steps, from the root of a checkout:
  1. build the engine and the harness (perfbench/build.sbt) unless the
     sources are unchanged since the last build;
  2. generate the workload's inputs from --seed (gen.py), cached per
     (seed, scale, copies) under .bench_build/data;
  3. run the harness (perfbench.Main) in one fresh JVM at local[nproc];
  4. outside the timed region: compare every op's cold-pass result with the
     catalog's DuckDB oracle on the same input (oracle answers are cached
     per input), and every warm call's fingerprint with the cold pass's;
  5. print the per-op cold/warm table, then one JSON line with the metrics
     BENCHMARK.json declares (end-to-end with --trace 0, per-layer with
     --trace 1). Exits 1 if any op failed or returned a wrong result.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# Workload -> (scale factor of the generated inputs, MintScale-style copies).
INPUTS = {"museum_daily": (0.01, 1), "curation_x10": (0.005, 10)}
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when the sources changed; returns (classpath, digest)."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached["digest"] == digest:
            return cached["classpath"], digest
    log("building (sbt printClasspath)")
    proc = subprocess.run(["sbt", "-batch", "printClasspath"], cwd=HERE,
                          capture_output=True, text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("CLASSPATH=")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1][len("CLASSPATH="):]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp, digest


def inputs(workload, seed):
    import gen
    sf, copies = INPUTS[workload]
    d = os.path.join(BUILD, "data", f"seed{seed}-sf{sf}-k{copies}")
    if not os.path.isdir(d):
        os.makedirs(os.path.dirname(d), exist_ok=True)
        gen.write(seed, sf, copies, d)
    return d


def run_jvm(cp, workload, seed, seconds, trace, data, rundir):
    if os.path.exists(rundir):
        shutil.rmtree(rundir)
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(rundir, "out")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
              "-XX:ReservedCodeCacheSize=512m", "-Dfile.encoding=UTF-8",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
              "--workload", workload, "--data", data, "--seconds", str(seconds),
              "--trace", str(trace), "--seed", str(seed), "--out", out])
    env = dict(os.environ, LC_ALL="C.utf8")
    with open(os.path.join(rundir, "jvm.log"), "w") as logf:
        proc = subprocess.run(cmd, cwd=rundir, env=env, stdout=logf,
                              stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        with open(os.path.join(rundir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness exited with {proc.returncode}")
    with open(os.path.join(out, "run.json")) as f:
        return json.load(f), out


def metrics_of(run):
    """End-to-end metrics: (value, sample count)."""
    warm = run["warm"]
    return {
        "setup_s": (statistics.median(run["setup_s"]), len(run["setup_s"])),
        "cold_s": (run["cold"]["wall_s"], 1),
        "warm_s": (statistics.median(p["wall_s"] for p in warm), len(warm)),
        "cpu_s": (statistics.median(p["cpu_s"] for p in warm), len(warm)),
    }


def check(run, out, data):
    """Oracle + fingerprint checks; returns (attempted, failed, lines)."""
    import oracle
    cold = {o["op"]: o for o in run["cold"]["ops"]}
    verdict = oracle.compare_all(run["oracle_sql"], os.path.join(out, "results"),
                                 data, os.path.join(BUILD, "oracle"))
    for op in run["rows_only"]:
        verdict[op] = (cold[op]["rows"] > 0 and not cold[op]["error"],
                       f"ROWS_ONLY rows={cold[op]['rows']}")
    calls = [o for p in [run["cold"]] + run["warm"] for o in p["ops"]]
    failed, lines = 0, []
    for o in calls:
        bad = o["error"] or o["fingerprint"] != cold[o["op"]]["fingerprint"] \
            or not verdict[o["op"]][0]
        failed += bool(bad)
    for op, (ok, why) in verdict.items():
        lines.append(f"{'OK ' if ok else 'BAD'} {op}: {why}"
                     + (f" error={cold[op]['error']}" if cold[op]["error"] else ""))
    return len(calls), failed, lines


def op_table(run):
    warm = {}
    for p in run["warm"]:
        for o in p["ops"]:
            warm.setdefault(o["op"], []).append(o["s"])
    rows = [f"{'op':32s} {'cold_s':>8s} {'warm_med_s':>10s} {'n_warm':>6s} {'rows':>7s}"]
    for o in run["cold"]["ops"]:
        w = warm.get(o["op"], [])
        med = f"{statistics.median(w):10.3f}" if w else f"{'-':>10s}"
        rows.append(f"{o['op']:32s} {o['s']:8.3f} {med} {len(w):6d} {o['rows']:7d}")
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    t0 = time.time()
    cp, digest = classpath()
    t1 = time.time()
    data = inputs(a.workload, a.seed)
    t2 = time.time()
    rundir = os.path.join(BUILD, "runs", f"{a.workload}-trace{a.trace}")
    run, out = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, rundir)
    t3 = time.time()
    attempted, failed, verdict_lines = check(run, out, data)
    log(f"build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, harness {t3 - t2:.1f} s, "
        f"checks {time.time() - t3:.1f} s")

    e2e = metrics_of(run)
    print("host: " + json.dumps(run["host"], sort_keys=True))
    print("\n".join(op_table(run)))
    print("\n".join(verdict_lines))
    for name, (v, n) in e2e.items():
        print(f"{name:16s} {v:12.4f}  n={n}")
    summary_dir = os.path.join(BUILD, "results")
    os.makedirs(summary_dir, exist_ok=True)
    if a.trace:
        layer = {k: float(v) for k, v in run["trace"]["layer"].items()}
        layer["process.cpu_s"] = e2e["cpu_s"][0]
        base = os.path.join(summary_dir, f"{a.workload}-seed{a.seed}-trace0.json")
        untraced = None
        if os.path.exists(base):
            with open(base) as f:
                prior = json.load(f)
            if prior.get("digest") == digest:
                untraced = prior["metrics"]["warm_s"]
        if untraced is None:
            print("tracing overhead: no untraced run of this seed and build yet")
        else:
            print(f"tracing overhead: traced warm_s {layer['trace.warm_s']:.4f} - "
                  f"untraced warm_s {untraced:.4f} = "
                  f"{layer['trace.warm_s'] - untraced:+.4f} s")
        for k, v in run["trace"]["queries"].items():
            print(f"queries.{k}: {json.dumps(v)}")
        for k, v in run["trace"]["spans"].items():
            print(f"span {k}: {json.dumps(v)}")
        for k, v in run["trace"]["splits"].items():
            print(f"split {k}: {json.dumps(v)}")
            if "fingerprint_matches" in v:  # a split that drifted from its op
                attempted += 1
                failed += not v["fingerprint_matches"]
        chosen = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                  for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                  for m in spec["end_to_end"]}
    print(f"failed_ratio     {failed / attempted:12.4f}  n={attempted}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": chosen}
    with open(os.path.join(summary_dir,
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"digest": digest, "run": run,
                   "metrics": {k: v for k, (v, _) in e2e.items()}, "result": result}, f)
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
