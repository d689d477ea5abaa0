#!/usr/bin/env python3
"""Benchmark of the QCEW pipeline and the query registry.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/spec.json for sizes and the layer map):
  qcew_ingest   passes over the paper's pipeline on a seeded raw extract:
                Ingest.ingestAll, NaicsAgg, Wages, Resample, Series
  registry_mix  passes over a frozen list of SparkEntry.queries, in
                seeded order, over generated registry tables

Each run: the workload's warm-up passes, then a fixed number of timed
passes, --seconds over the workload's nominal pass time, at least one
(both in spec.json); the count does not depend on the host's speed.
With --trace 1 untraced and traced passes alternate, half the count of
each rounded up, and the per-layer metrics come from the traced ones.

The first run in a checkout builds the program and the harness with sbt
(classes under target/; the classpath is recorded per source tree in
$CARGO_TARGET_DIR or .bench_build). Inputs and oracle answers are
cached by seed under .bench_cache/; every run leaves its raw timings in
.bench_cache/results/ and traced runs their spans in .bench_cache/spans/.
Answers are checked outside the timed region; the last stdout line is
the JSON result.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------

def _tree_key():
    h = hashlib.sha1()
    for base in ("src", "project", os.path.join("perfbench", "harness")):
        for dp, dns, fns in os.walk(os.path.join(ROOT, base)):
            dns[:] = sorted(d for d in dns if d != "target")
            for fn in sorted(fns):
                if fn.endswith((".scala", ".sbt", ".properties", ".java")) or "META-INF" in dp:
                    p = os.path.join(dp, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    h.update(open(p, "rb").read())
    h.update(open(os.path.join(ROOT, "build.sbt"), "rb").read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source tree; returns the classpath."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; nothing to build")
    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    # one stamp per source tree: checkouts sharing bdir do not rebuild
    # each other's
    key = _tree_key()
    stamp = os.path.join(bdir, f"classpath-{key}.json")
    if os.path.exists(stamp):
        return json.load(open(stamp))["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building program and harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export harness/Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if "perfbench/harness/target" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    json.dump({"key": key, "classpath": cp}, open(stamp + ".tmp", "w"))
    os.replace(stamp + ".tmp", stamp)
    return cp


# ---- inputs -------------------------------------------------------------

def cached(path, make):
    """Build `path` once via make(tmpdir); concurrent-safe by rename."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def operations(workload, seed, manifest, plain, traced):
    """The seeded operation sequence, one '<pass> <op>' per line: passes
    w0.. are the warm-up, p0.. the untraced and t0.. the traced passes."""
    rng = random.Random(seed * 1000003 + 17)
    names = ([f"w{k}" for k in range(SPEC["warmup_passes"][workload])] +
             [f"p{k}" for k in range(plain)] + [f"t{k}" for k in range(traced)])
    if workload == "registry_mix":
        lines = []
        for p in names:
            order = SPEC["registry_queries"][:]
            rng.shuffle(order)
            lines += [f"{p} q {n}" for n in order]
        return lines
    # head industries (described, not invalid) carry most records
    n4 = [c for j, c in enumerate(manifest["naics4"][:16])
          if j % 5 != 4 and c not in manifest["invalid"]]
    i = rng.randrange(0, 8)
    x = n4[i]
    pipeline = ["ingest", "aggall", f"series {x}", "picklist", f"resample monthly {x}",
                f"resample quarterly {x}", f"resample yearly {x}", "diffs " + " ".join(n4[i:i + 3])]
    return [f"{p} {op}" for p in names for op in pipeline]


# ---- metrics ------------------------------------------------------------

def pass_seconds(ops):
    """Program time of each complete pass."""
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    return [sum(o["ms"] for o in p) / 1e3 for p in by.values() if all(o["ok"] for o in p)]


def end_to_end(res, failed, attempted):
    """Each call at its best time over the run's timed passes, summed
    over the pass as graft.Bench sums its per-query best warm runs."""
    best = {}
    for o in res["ops"]:
        if o["ok"]:
            best[o["key"]] = min(o["ms"], best.get(o["key"], math.inf))
    return {
        "setup_s": res["setup_s"],
        "pass_s": sum(best.values()) / 1e3 if best else math.nan,
        "op_p50_ms": statistics.median(best.values()) if best else math.nan,
        "answers_ok_ratio": (attempted - failed) / attempted,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    import check
    import gen

    cache = os.path.join(ROOT, ".bench_cache")
    os.makedirs(cache, exist_ok=True)
    if a.workload == "registry_mix":
        sf = SPEC["registry_sf"]
        inputs = cached(os.path.join(cache, f"tables-sf{sf}"),
                        lambda d: gen.tables(d, SPEC["registry_data_seed"], sf))
        manifest = None
    else:
        records = SPEC["qcew_records"]
        inputs = cached(os.path.join(cache, f"qcew-s{a.seed}-n{records}"),
                        lambda d: gen.qcew(d, a.seed, records))
        manifest = json.load(open(os.path.join(inputs, "manifest.json")))

    work = os.path.join(cache, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    os.makedirs(os.path.join(work, "tmp"))
    os.symlink(inputs, os.path.join(work, "tables" if manifest is None else "qcew"))
    with open(os.path.join(work, "ops.txt"), "w") as fh:
        passes = max(1, round(a.seconds / SPEC["nominal_pass_s"][a.workload]))
        plain, traced = ((passes + 1) // 2,) * 2 if a.trace else (passes, 0)
        fh.write("\n".join(operations(a.workload, a.seed, manifest, plain, traced)) + "\n")

    cpus = str(len(os.sched_getaffinity(0)))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", f"-Xmx{SPEC['jvm_heap']}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--work", work, "--cpus", cpus]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        launch_ms = int(time.time() * 1000)
        proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], cwd=ROOT,
                                stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    result_path = os.path.join(work, "out", "result.json")
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM failed (exit {rc})")
    res = json.load(open(result_path))
    os.makedirs(os.path.join(cache, "results"), exist_ok=True)
    shutil.copy(result_path, os.path.join(cache, "results", f"{a.workload}-{a.seed}-t{a.trace}.json"))

    # answer checks: every op whose key has a wrong answer fails
    answers = os.path.join(work, "out", "answers")
    if a.workload == "registry_mix":
        errs = check.check_registry(answers, inputs, inputs + "-oracle")
    else:
        import duckdb
        con = duckdb.connect()
        check.qcew_records(con, inputs, os.path.join(inputs, "records.parquet"))
        errs = check.check_qcew(con, answers)
    for k, e in errs.items():
        if e:
            log(f"wrong answer: {k}: {e}")
    all_ops = res["warm_ops"] + res["ops"] + res["traced_ops"]
    failed = sum(1 for o in all_ops if not o["ok"] or errs.get(o["key"]))
    attempted = len(all_ops)

    if a.trace:
        m = dict(res["layers"])
        plain, traced = pass_seconds(res["ops"]), pass_seconds(res["traced_ops"])
        m["trace.overhead_ratio"] = (statistics.median(traced) / statistics.median(plain) - 1
                                     if plain and traced else 0.0)
        qcew = a.workload == "qcew_ingest" and plain
        m["qcew.ingest_mb_per_s"] = (manifest["raw_bytes"] / 1e6 / statistics.median(plain)
                                     if qcew else 0.0)
        m["qcew.lake_bytes_per_raw_byte"] = (m["ingest.lake_mb"] * 1e6 / manifest["raw_bytes"]
                                             if qcew else 0.0)
        units = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    else:
        m = end_to_end(res, failed, attempted)
        units = {x["name"]: x["unit"] for x in BENCH["end_to_end"]}
    metrics = {k: {"value": m[k], "unit": u} for k, u in units.items()}
    if a.trace:
        os.makedirs(os.path.join(cache, "spans"), exist_ok=True)
        shutil.copy(os.path.join(work, "out", "spans.jsonl"),
                    os.path.join(cache, "spans", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    log(f"{a.workload} seed={a.seed}: {attempted} ops, {failed} failed, "
        f"setup {res['setup_s']:.2f}s (session {res['session_s']:.2f}s, "
        f"warm-up {res['warmup_s']:.2f}s), loop {res['loop_s']:.2f}s, passes "
        f"{[round(x, 2) for x in pass_seconds(res['ops'] + res['traced_ops'])]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
