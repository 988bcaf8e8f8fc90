#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the benchmark client and the repo
sources with sbt (once per source state; later runs reuse the build),
generates the workload's inputs from the seed, runs the client for
`--seconds` of measured operations, checks every output and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (and writes the span trace to .perfbench/traces/). Everything it
writes stays under .perfbench/ in the repository root. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("curate_index", "ann_serve", "stream_dedup")
# JDK 17 module opens Spark needs outside spark-submit (the same list as
# the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
HEAP = "-Xmx4g"
# Per-workload JVM flags. `ann_serve`'s searches are short and
# driver-bound, and their latency kept falling for minutes while the JIT
# compiled Spark's large code base, so a short run measured a point on
# that slope that moved with the host's speed. Compiling hot methods after
# a twentieth of the default invocation counts brings them to a plateau
# within the set-up's warm-up. The other workloads' ops are long enough
# that the flag only made their set-up slower.
JVM_FLAGS = {"ann_serve": ["-XX:CompileThresholdScaling=0.05"]}
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build compiles, so a rebuild happens exactly
    when a source or build file changed."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a full checkout")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_f) and os.path.exists(stamp_f):
        with open(stamp_f) as f, open(cp_f) as g:
            same, cp = f.read() == stamp, g.read()
        # reuse only while the compiled classes are still in place
        if same and any(os.path.exists(os.path.join(e, "perfbench", "Main.class"))
                        for e in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # keep sbt's scratch files in the checkout too
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    log("building (sbt)")
    t0 = time.perf_counter()
    with open(os.path.join(bdir, "sbt.log"), "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=800)
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    with open(os.path.join(bdir, "sbt.log"), "a") as out:
        out.write(p.stdout)
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"sbt build failed (exit {p.returncode}); see {bdir}/sbt.log")
    cp = lines[-1].strip()
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return cp


def run_client(cp, workload, inputs, out, seconds, trace, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", HEAP, *JVM_FLAGS.get(workload, []), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--inputs", inputs, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace)]
    with open(os.path.join(out, "client.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"client exceeded its time limit; see {out}/client.log")
    if code != 0:
        with open(os.path.join(out, "client.log")) as f:
            tail = [l for l in f.read().splitlines() if " INFO " not in l][-30:]
        log("\n".join(tail))
        fail(f"client exited {code}; see {out}/client.log")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    cp = build()
    # a run's own limit starts after a build: the first run in a checkout
    # may spend most of its time compiling
    deadline = time.monotonic() + RUN_LIMIT_S - min(30.0, time.monotonic() - started)
    inputs, truth, gen_s = gen.ensure(WORK, a.workload, a.seed)
    log(f"inputs {os.path.relpath(inputs, ROOT)} (generated in {gen_s:.2f} s)")
    out = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run_client(cp, a.workload, inputs, out, a.seconds, a.trace, deadline)
    res = check.evaluate(a.workload, truth, out, a.trace == 1)
    for reason in res["failures"][:20]:
        log(f"check failed: {reason}")
    if a.trace:
        res["layers"]["bench.gen_s"] = gen_s
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{a.workload}-s{a.seed}.json")
        with open(tpath, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "metrics": res["layers"], "spans": res["spans"]}, f)
        log(f"trace written to {os.path.relpath(tpath, ROOT)}")
        names = check.PER_LAYER
        values = res["layers"]
    else:
        names = check.END_TO_END
        values = res["end_to_end"]
    if res["correct"]:
        shutil.rmtree(out, ignore_errors=True)
    else:
        log(f"outputs kept in {os.path.relpath(out, ROOT)}")
    metrics = {n: {"value": values[n], "unit": u} for n, u in names.items()}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
