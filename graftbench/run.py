#!/usr/bin/env python3
"""Runs one graftbench measurement.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark package (graft's sources one directory up, compiled
together with the benchmark's) with sbt when its inputs changed, then runs
the workload in a fresh JVM with a fixed heap and a fresh scratch directory
under graftbench/.work, and prints the JVM's result line last. A traced run
also writes its spans under graftbench/.results and prints the tracing
overhead against the untraced runs of the same workload recorded there.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rag_serve", "cdc_apply", "corpus_prep")
# -Xms = -Xmx: a fixed heap, so GC behaviour does not depend on how far
# the heap happened to grow
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "graftbench.classpath")
STAMP = os.path.join(BUILD_DIR, "graftbench.stamp")
RESULTS = os.path.join(HERE, ".results")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads from the checkout, in a fixed order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "VectorDB.scala")):
        die("graft's sources (src/main/scala next to graftbench/) are missing; nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build and run the benchmark")
    stamp = digest(build_inputs())
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH) as fh:
                    return fh.read()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def overhead(workload, traced):
    """Traced e2e values against the median of recorded untraced runs."""
    path = os.path.join(RESULTS, f"{workload}.jsonl")
    if not os.path.exists(path):
        print("# trace overhead: no untraced run of this workload recorded yet")
        return
    with open(path) as fh:
        runs = [json.loads(l)["metrics"] for l in fh if l.strip()]
    for name, m in traced.items():
        base = statistics.median(r[name]["value"] for r in runs if name in r)
        pct = 100.0 * (m["value"] - base) / base if base else 0.0
        print(f"# trace overhead {name}: traced {m['value']:.6g} untraced {base:.6g} "
              f"({pct:+.1f}%, {len(runs)} untraced runs)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default=0, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")

    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(RESULTS, exist_ok=True)
    spans = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}.spans.jsonl")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.bench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--spans", spans]
    try:
        out = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.stdout.splitlines()
    if out.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out.stderr[-4000:])
        sys.stderr.write(out.stdout[-2000:])
        die(f"{a.workload} exited with {out.returncode} and no result", 3)
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    if a.trace:
        traced = next((json.loads(l[len("# e2e_traced "):]) for l in lines
                       if l.startswith("# e2e_traced ")), {})
        overhead(a.workload, traced)
    elif result["correct"]:
        with open(os.path.join(RESULTS, f"{a.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps({"seed": a.seed, "metrics": result["metrics"]}) + "\n")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
