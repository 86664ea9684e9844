"""Benchmark command: one run of one workload of the graft engine.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the harness from source with sbt (the harness build in
perfbench/harness depends on the engine's own build), then every run
starts one JVM with one warm local[nproc] Spark session. Inputs are
generated from the seed and cached under perfbench/.work/inputs.

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A human-readable report with sample counts goes to stderr.
The exit code is non-zero when a correctness check fails or the run
cannot be made.
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
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, ".work")
RUN_DIR = os.path.join(WORK, "run")
INPUTS = os.path.join(WORK, "inputs")
KEEP_INPUT_SETS = 8

sys.path.insert(0, HERE)
import gen  # noqa: E402
import workloads  # noqa: E402

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_DEADLINE_S = 175
BUILD_DEADLINE_S = 840


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] if d == top else \
                [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness if the sources changed; return
    the run classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources at {ROOT} (expected build.sbt and src/main/scala)")
    target = os.path.join(HARNESS, "target")
    stamp_file, cp_file = os.path.join(target, "stamp.txt"), os.path.join(target, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "compile", "writeClasspath"],
                       cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_DEADLINE_S)
    if p.returncode != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(p.stdout[-6000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(target, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def inputs_for(wl_name, seed):
    d = os.path.join(INPUTS, f"{wl_name}-{seed}")
    gen.write_inputs(d, workloads.WORKLOADS[wl_name]["sizes"], seed)
    os.utime(d)
    sets = sorted((os.path.join(INPUTS, x) for x in os.listdir(INPUTS)), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_jvm(cp, wl_name, args, inputs, deadline):
    out = os.path.join(RUN_DIR, "result.json")
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", wl_name, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--inputs", inputs, "--work", RUN_DIR, "--out", out]
    if args.corrupt:
        cmd += ["--corrupt", "1"]
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=RUN_DIR, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf)
        try:
            p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its deadline; see {log}")
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"engine run failed with exit code {p.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="perturb every expected output (the benchmark's own tests)")
    args = ap.parse_args()
    deadline = time.time() + RUN_DEADLINE_S
    wl = workloads.WORKLOADS[args.workload]
    cp = build()
    deadline = max(deadline, time.time() + RUN_DEADLINE_S - 60)  # a build ran: its own allowance
    os.makedirs(INPUTS, exist_ok=True)
    inputs = inputs_for(args.workload, args.seed)
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)
    try:
        res = run_jvm(cp, args.workload, args, inputs, deadline)
        if args.trace:
            os.replace(os.path.join(RUN_DIR, "spans.json"), os.path.join(WORK, "spans.json"))
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    bad = [c for c in res["checks"] if not c["ok"]]
    failed = res["failed"]
    correct = not bad and failed == 0
    declared = workloads.declared_metrics()
    undeclared = sorted((set(res["e2e"]) - set(declared["end_to_end"])) |
                        (set(res["layer"]) - set(declared["per_layer"])))
    if undeclared:
        fail(f"the harness computed metrics BENCHMARK.json does not declare: {undeclared}")
    src = res["layer"] if args.trace else res["e2e"]
    names = declared["per_layer"] if args.trace else declared["end_to_end"]
    metrics = {n: {"value": float(src.get(n, 0.0)), "unit": u} for n, u in names.items()}
    rep = res["report"]
    print(f"perfbench: {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
          file=sys.stderr)
    for n, m in metrics.items():
        alias = wl["aliases"].get(n)
        print(f"  {n:45s} {m['value']:.6g} {m['unit']}  (n={rep['samples']})"
              + (f"  = {alias}" if alias else ""), file=sys.stderr)
    for k, v in rep.items():
        print(f"  report.{k:38s} {v}", file=sys.stderr)
    for c in bad:
        print(f"  CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
