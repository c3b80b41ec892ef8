#!/usr/bin/env python3
"""End-to-end pipeline benchmark: build, run one workload (or all), report.

Usage (from the repository root):

    python3 perfbench/run.py --workload wds_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use
(the build is keyed by a hash of every source and build file), then runs
one JVM per workload. Human-readable `name value unit` lines go to
stdout, and the last stdout line is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.

Generated inputs are cached under perfbench/.cache, keyed by
(workload, seed, scale); traced runs write their spans to
perfbench/traces/. Everything the benchmark writes stays inside the
checkout. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["wds_pipeline", "text_curate", "media_dedup"]
RUN_LIMIT_S = 170  # per workload: one run must end within 180 s once built
BUILD_LIMIT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the same list the
# engine's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build depends on, repository-relative, sorted."""
    out = []
    for top in ["build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"]:
        if os.path.isfile(os.path.join(ROOT, top)):
            out.append(top)
    for tree in ["src/main", "perfbench/src/main"]:
        for d, _, files in os.walk(os.path.join(ROOT, tree)):
            for f in files:
                out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(out)


def build_id():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def ensure_built(bid):
    """Compile engine + benchmark; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", f"classpath-{bid}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building engine and benchmark with sbt ...")
    t0 = time.time()
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = out.splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"[perfbench] sbt build failed (exit {code})")
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if not cps:
        raise SystemExit("[perfbench] sbt printed no runtime classpath")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1].strip()


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_workload(cp, bid, workload, seed, seconds, trace, deadline):
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java_bin()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dgraft.scratch.root={os.path.join(work, 'scratch')}",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cache", os.path.join(HERE, ".cache"),
            "--work", work, "--build-id", bid,
            "--trace-out",
            os.path.join(HERE, "traces", f"{workload}-seed{seed}.json")]
    errlog = os.path.join(work, "stderr.log")
    try:
        with open(errlog, "w") as err:
            code, out, _ = run_group(
                cmd, max(1, deadline - time.time()), cwd=work,
                stdout=subprocess.PIPE, stderr=err, text=True)
    except subprocess.TimeoutExpired:
        tail(errlog)
        raise SystemExit(f"[perfbench] {workload}: run exceeded its time limit")
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict):
        tail(errlog)
        raise SystemExit(f"[perfbench] {workload}: JVM exit {code}, no result")
    if not result.get("correct"):
        tail(errlog)
    else:
        for l in open(errlog):
            if l.startswith("[perfbench]"):
                sys.stderr.write(l)
    shutil.rmtree(work, ignore_errors=True)
    return lines[:-1], result


def tail(path, n=60):
    try:
        with open(path) as f:
            sys.stderr.write("".join(f.readlines()[-n:]))
    except OSError:
        pass


def main():
    # a terminated benchmark still stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("[perfbench] engine sources not found next to "
                         "perfbench/ (expected build.sbt and src/main/scala)")
    bid = build_id()
    cp = ensure_built(bid)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        lines, result = run_workload(cp, bid, w, a.seed, a.seconds, a.trace,
                                     time.time() + RUN_LIMIT_S)
        for l in lines:
            print(l if len(names) == 1 else f"{w}.{l}")
        results.append((w, result))
    if len(names) == 1:
        final = results[0][1]
    else:
        final = {
            "correct": all(r["correct"] for _, r in results),
            "attempted": sum(r["attempted"] for _, r in results),
            "failed": sum(r["failed"] for _, r in results),
            "metrics": {f"{w}.{k}": v for w, r in results
                        for k, v in r["metrics"].items()},
        }
    sys.stdout.flush()
    print(json.dumps(final), flush=True)


if __name__ == "__main__":
    main()
