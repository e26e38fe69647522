#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 kgbench/run.py --workload kg_entities --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run compiles the engine and the
benchmark with sbt (the classpath is kept under kgbench/target/ and reused
while the sources are unchanged); every run then starts one JVM that prints,
as its last stdout line, the JSON result. Scratch data lives under
kgbench/work/ and is removed at the end; the full record of a run (host,
per-iteration samples, spans of a traced run) goes to kgbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["kg_entities", "kg_incremental"]
DEFAULT_SEED = 1
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the engine's build and main sources, and
    the benchmark's build and main sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt and return the runtime classpath; reuse it while the
    source hash is unchanged."""
    cache = os.path.join(HERE, "target", "kgbench-classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building engine and benchmark with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export kgbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout)
        raise SystemExit("kgbench: sbt build failed")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def git_commit():
    """HEAD of the checkout, or "unknown" when the checkout is not itself a
    git work tree (an enclosing repository's HEAD would be misleading)."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    out = p.stdout.split()
    if p.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return "unknown"
    return out[1]


def main():
    # turn SIGTERM into SystemExit so the cleanup below runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(engine)):
        raise SystemExit(f"kgbench: no engine sources at {ROOT} (expected build.sbt and "
                         "src/main/scala/graft); run from a checkout of the repository")

    files = sources()
    stamp = source_hash(files)
    cp = build(stamp)

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    cmd = (["java", HEAP, "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "kgbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out,
              "--commit", git_commit(), "--source-hash", stamp])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"kgbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        # also reached on SIGTERM: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    sys.stdout.flush()
    if proc.returncode != 0:
        raise SystemExit(f"kgbench: benchmark JVM exited with {proc.returncode}")


if __name__ == "__main__":
    main()
