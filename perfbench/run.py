#!/usr/bin/env python3
"""graft benchmark: one command runs one workload for one seed.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, into the build directory named by
CARGO_TARGET_DIR, default .bench_build); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed
and cached per seed, and so are the DuckDB oracle answers.

One run is one driver JVM under local[nproc] with one closed-loop
client (perfbench/harness). After a warm-up on a smaller fixture it
issues the workload's queries serially, in registry order, one pass
after another until --seconds are spent; every pass reads a fresh copy
of the fixture. Every timed query's output is checked against its
oracle after the JVM exits, outside every timed window.

The last stdout line is one JSON object: correct, attempted, failed
and the metrics — the end-to-end ones with --trace 0, the per-layer
ones with --trace 1 (a run that adds the listener and writes spans).
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import inputs  # noqa: E402
from oracle import Oracle  # noqa: E402

WORKLOADS = ("olap_mix", "curate_cold", "mr_wordcount")
# Input sizes, chosen so that a run (JVM start, warm-up, one or more
# passes, output check) averages about 40 s on 4 cores, which fits a
# round of 70 runs in under an hour. See workloads.json.
CURATE_COPIES = 1          # document/embedding copy multiplier
CORPUS_MB, CORPUS_FILES = 15, 60
JVM_HEAP = "2g"
RUN_LIMIT_S = 170          # one run, build excluded
BUILD_LIMIT_S = 800

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "harness")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, bb):
    """Compile program + harness; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(bb, "classpath.txt")
    stamp_file = os.path.join(bb, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness (sbt)")
    t0 = time.time()
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                        "export harness/Runtime/fullClasspath"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    lines = [x for x in p.stdout.splitlines() if x.strip() and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(bb, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def prepare_inputs(workload, seed, fixtures, bb):
    """(warm-up dir, timed dir, input properties), generated once per seed."""
    base = os.path.join(bb, "inputs", workload)
    timed = os.path.join(base, f"seed{seed}")
    warm = os.path.join(base, f"warm{seed}")
    props_file = os.path.join(base, f"seed{seed}.json")
    if os.path.exists(props_file):
        with open(props_file) as f:
            return warm, timed, json.load(f)
    for d in (timed, warm):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if workload == "olap_mix":
        props = inputs.olap(f"{fixtures}/sf0.01", timed, seed)
        inputs.olap(f"{fixtures}/sf0.01", warm, seed + 1)
    elif workload == "curate_cold":
        props = inputs.curate(f"{fixtures}/sf0.01", timed, seed, CURATE_COPIES)
        inputs.curate(f"{fixtures}/sf0.001", warm, seed, 1, limit=100)
    else:
        props = inputs.corpus(f"{fixtures}/sf0.1", timed, seed, CORPUS_MB, CORPUS_FILES)
        inputs.corpus(f"{fixtures}/sf0.001", warm, seed, 1, 8)
    with open(props_file + ".tmp", "w") as f:
        json.dump(props, f)
    os.replace(props_file + ".tmp", props_file)
    return warm, timed, props


def run_jvm(cp, args, run_dir, deadline):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_DRIVER_MEM"}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("driver JVM exceeded the run time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"driver JVM exited with {code}")


def check_outputs(result, queries_sql, oracle):
    """Per timed query: None if correct, else the reason."""
    verdicts = []
    for p in result["passes"]:
        for q in p["queries"]:
            if q.get("error"):
                verdicts.append((p["pass"], q["name"], q["error"]))
                continue
            try:
                if q["pkg"] == "mr":
                    why = oracle.check_text("index" if q["name"] == "inverted_index"
                                            else "wordcount", q["out"])
                else:
                    why = oracle.check_query(queries_sql[q["name"]], q["out"])
            except Exception as e:  # an unreadable output is a failed check
                why = f"check raised {type(e).__name__}: {e}"
            verdicts.append((p["pass"], q["name"], why))
    return verdicts


def p90(values):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def main():
    # a terminated run still stops its child processes (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    started = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "TESTDATA.md", "BENCHMARK.json",
                 os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    fixtures = inputs.fixture_root(root)
    if not os.path.isdir(f"{fixtures}/sf0.1"):
        fail(f"fixture directory {fixtures}/sf0.1 not found")
    bb = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)

    cp = build(root, bb)
    started_run = time.time()
    warm, timed, props = prepare_inputs(a.workload, a.seed, fixtures, bb)

    # only the latest run's outputs and spans are kept
    shutil.rmtree(os.path.join(bb, "runs"), ignore_errors=True)
    run_dir = os.path.join(bb, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    spawn_ms = int(time.time() * 1000)
    run_jvm(cp, [a.workload, warm, timed, os.path.join(run_dir, "work"), str(a.seconds),
                 str(a.trace), str(spawn_ms), result_path],
            run_dir, started_run + RUN_LIMIT_S)
    with open(result_path) as f:
        result = json.load(f)
    if result["guard_failures"]:
        fail("cold-state guard failed, no numbers published: "
             + "; ".join(result["guard_failures"]))

    oracle = Oracle(timed, os.path.join(bb, "oracle", a.workload, f"seed{a.seed}"))
    verdicts = check_outputs(result, result["oracle_sql"], oracle)
    failed = [v for v in verdicts if v[2]]
    for pass_no, name, why in failed:
        log(f"FAIL pass {pass_no} {name}: {why[:300]}")

    untraced = [p for p in result["passes"] if not p["traced"]]
    traced = [p for p in result["passes"] if p["traced"]]
    lat = [q["construct_s"] + q["plan_s"] + q["execute_s"]
           for p in untraced for q in p["queries"]]
    walls = [p["wall_s"] for p in untraced]
    e2e = {"setup_s": result["setup_s"], "wall_s": statistics.median(walls),
           "query_p50_s": statistics.median(lat), "query_p90_s": p90(lat),
           "peak_rss_mb": result["peak_rss_mb"]}
    info = {"workload": a.workload, "seed": a.seed, "cores": result["cores"],
            "loop": "closed, one client, local[nproc]",
            "queries_per_pass": len(untraced[0]["queries"]),
            "passes": len(result["passes"]), "latency_samples": len(lat),
            "failed_frac": len(failed) / max(1, len(verdicts)),
            "warm_errors": result["warm_errors"], "inputs": props,
            "run_s": round(time.time() - started, 1)}
    if a.trace:
        metrics = {n: statistics.median(p["layers"][n] for p in traced)
                   for n in traced[0]["layers"]}
        metrics["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - e2e["wall_s"]
        info["spans"] = result.get("spans")
        info["untraced_end_to_end"] = e2e
        wanted = declared["per_layer"]
    else:
        metrics = e2e
        wanted = declared["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}")
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    print("# " + json.dumps(info))
    print(json.dumps({"correct": not failed, "attempted": len(verdicts),
                      "failed": len(failed), "metrics": out}))


if __name__ == "__main__":
    main()
