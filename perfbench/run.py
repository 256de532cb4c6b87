#!/usr/bin/env python3
"""Runs one perfbench workload against the graft engine and prints the result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--conf key=value]...

The first run builds the engine and the benchmark from source with sbt into
the checkout (`target/`, `perfbench/target/`) and records the classpath under
`.bench_build/`; later runs reuse it until a source file changes. Each run
starts one JVM (`perfbench.Main`), which writes its result file; this script
then checks the metric queries against DuckDB, prints a detail line, and
prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output
import oracle  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
MANIFEST = os.path.join(ROOT, "manifests", "semantic_manifest.yml")
JVM_TIMEOUT_S = 150


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


_child = None


def _stop_child(signum, _frame):
    """Kills the running child's process group and waits for it, then exits."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    finally:
        _child = None


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    out = []
    for base in (ROOT, BENCH):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                out.append(p)
        for sub in (os.path.join("project"), os.path.join("src", "main")):
            top = os.path.join(base, sub)
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                out.extend(os.path.join(d, f) for f in sorted(files)
                           if f.endswith((".scala", ".sbt", ".java")))
    return sorted(set(out))


def digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark; returns the runtime classpath
    and the JVM flags the engine's build sets (Spark's --add-opens)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(MANIFEST)):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala, manifests)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "build.stamp")
    outputs = [os.path.join(BUILD, n) for n in ("classpath", "jvmopts")]
    stamp = digest(source_files())
    if all(os.path.isfile(p) for p in outputs + [stamp_path]):
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                return [read(p) for p in outputs]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], 700,
                       cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (rc {rc}); see {log}")
    built = [read(os.path.join(BENCH, "target", "perfbench." + n)) for n in ("classpath", "jvmopts")]
    for path, text in zip(outputs, built):
        with open(path, "w") as f:
            f.write(text)
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return built


def read(path):
    with open(path) as f:
        return f.read().strip()


def run_jvm(cp, jvm_opts, args, out_dir):
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # UTC, so the presented timestamps read as the DuckDB check reads them
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
    # A class-data archive of the engine's classpath, written by the first
    # run after a build, cuts JVM and Spark start-up in later runs.
    jsa = os.path.join(BUILD, "classes.jsa")
    cmd.append(f"-XX:SharedArchiveFile={jsa}" if os.path.isfile(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd += jvm_opts.split()
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out_dir, "--manifest", MANIFEST]
    for c in args.conf:
        cmd += ["--conf", c]
    rc = run_child(cmd, JVM_TIMEOUT_S, cwd=out_dir, stdout=sys.stderr)
    if rc != 0:
        fail(f"the JVM exited with code {rc}", 3)
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--conf", action="append", default=[],
                    help="Spark setting key=value; {cores} stands for the core count")
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_child)

    cp, jvm_opts = build()
    out_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        res = run_jvm(cp, jvm_opts, args, out_dir)
        t0 = time.time()
        failed = set(res["failed_ops"])
        messages = list(res["messages"])
        checked = oracle.check(res.get("oracle") or {}, out_dir)
        failed |= checked["failed_ops"]
        messages += checked["messages"]
        detail = res["detail"]
        detail["oracle_shapes_checked"] = checked["shapes"]
        detail["oracle_check_s"] = round(time.time() - t0, 3)
        detail["failed_share"] = len(failed) / res["attempted"]
        if args.trace:
            spans = os.path.join(out_dir, "spans.jsonl")
            if os.path.isfile(spans):
                keep = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl")
                os.makedirs(os.path.dirname(keep), exist_ok=True)
                shutil.copyfile(spans, keep)
                detail["spans_file"] = os.path.relpath(keep, ROOT)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    names = expected_metrics(args.trace)
    metrics = res["metrics"]
    if sorted(names) != sorted(metrics):
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(names) ^ set(metrics))}", 4)
    bad = [n for n in names if not math.isfinite(metrics[n]["value"])]
    if bad:
        fail(f"metrics without a finite value: {bad}", 4)
    for m in messages:
        print(f"perfbench: {m}", file=sys.stderr)
    print("perfbench detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": not failed, "attempted": res["attempted"],
                      "failed": len(failed), "metrics": {n: metrics[n] for n in names}}))


if __name__ == "__main__":
    main()
