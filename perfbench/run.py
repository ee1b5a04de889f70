#!/usr/bin/env python3
"""Benchmark entry point: build graft and the benchmark from source, run one
workload in a fresh JVM, and print its result as the last line of stdout.

    python3 perfbench/run.py --workload build_incr --seed 1 --seconds 16 --trace 0

Run it from the root of a graft checkout. The first run compiles the engine
and the benchmark with sbt (perfbench/build.sbt); later runs reuse the build
while no source under src/main, perfbench/src or either build file changes.
Everything a run writes stays under .bench_build/ in the checkout; the spans
of a traced run are left in .bench_build/spans/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("build_incr", "serve_mixed")
HEAP = "3g"
# A heap of fixed size with a young generation of fixed size: with the
# collector free to grow both, the peak RSS of runs of the same code spread
# by 20 %, following when collections happened to run.
JVM_MEMORY = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless .bench_build/launch.json matches the sources."""
    digest = source_digest()
    launch = os.path.join(BUILD, "launch.json")
    if os.path.isfile(launch):
        with open(launch) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached
    log("building graft and the benchmark with sbt")
    env = dict(os.environ)
    env.pop("GRAFT_JAVA_OPTS", None)
    env["COURSIER_MODE"] = "offline"
    t0 = time.time()
    # sbt's temporary files (its server socket among them) stay in the checkout
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "launchFile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=700)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("sbt build failed")
    with open(os.path.join(HERE, "target", "launch.txt")) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    # the engine's JVM options minus its heap size; the benchmark sets its own
    opts = [o for o in lines[1:] if not o.startswith("-Xmx")]
    cached = {"digest": digest, "classpath": lines[0], "java_options": opts}
    os.makedirs(BUILD, exist_ok=True)
    with open(launch, "w") as fh:
        json.dump(cached, fh)
    log(f"build done in {time.time() - t0:.0f} s")
    return cached


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources next to perfbench/ (expected build.sbt and src/main/scala/graft); "
            "run this from the root of a graft checkout")
        return 2

    launch = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    spans = os.path.join(BUILD, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    result = os.path.join(run_dir, "result.json")
    for d in (run_dir, os.path.join(run_dir, "tmp"), os.path.dirname(spans)):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={run_dir}/tmp"] + launch["java_options"]
           + ["-cp", launch["classpath"], "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--cores", str(cores), "--heap", HEAP,
              "--dir", run_dir, "--result", result, "--spans", spans])
    try:
        # the JVM's own output goes to stderr: stdout carries only results
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s")
            return 3
        if not os.path.isfile(result):
            log(f"benchmark JVM exited with {code} and no result")
            return code or 4
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"settings": res["settings"]}))
    if "traced_end_to_end" in res:
        print(json.dumps({"traced_end_to_end": res["traced_end_to_end"]}))
    if res["problems"]:
        print(json.dumps({"problems": res["problems"][:20]}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
