#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload transit_history --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run starts one JVM, prints one
`[perfbench] metric <name> = <value> <unit>` line per metric, and ends with
one JSON line: {"correct", "attempted", "failed", "metrics"}. A failed
output check, build or run exits non-zero without that line. Everything
the run writes stays under .bench_build/ in the repository.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("transit_history", "transit_daily", "graph_fixpoint", "taxi_mapmatch")
# A fixed, pre-touched heap: peak_rss_mb then moves with the JVM's native
# memory (metaspace, code cache, threads, buffers), not with how much of
# the heap the collector happened to touch. No perf-data file in /tmp.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads: build definitions and the
    library's and the benchmark's main sources."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for d, _, fs in os.walk(os.path.join(base, "src", "main")):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group
    and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Returns the JVM arguments (options and classpath) for the benchmark."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(HERE, "target", "launch.digest")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(launch) as fh:
                    return fh.read().split("\n")[:-1]
    log("building library and benchmark")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    code, out = run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                     "-J-XX:-UsePerfData", "launch"],
                    BUILD_TIMEOUT_S, cwd=HERE, env=env,
                    stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0 or not os.path.exists(launch):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (exit {code})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(launch) as fh:
        return fh.read().split("\n")[:-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("no library sources next to perfbench/: run from a repository checkout")

    jvm = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(OUT, "run", f"{tag}-{os.getpid()}")
    spans = os.path.join(OUT, "spans", f"{tag}.jsonl")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm[:jvm.index("-cp")] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
           + jvm[jvm.index("-cp"):]
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
           + (["--spans", spans] if a.trace == "1" else []))
    try:
        # two malloc arenas: the JVM's native footprint, part of
        # peak_rss_mb, otherwise varies with how threads hit the arenas
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        code, out = run(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                        text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        subprocess.run(["rm", "-rf", work])
    lines = out.strip().split("\n") if out.strip() else []
    if code != 0 or not lines:
        sys.stdout.write(out if code == 0 else "".join(l + "\n" for l in lines if not l.startswith("{")))
        raise SystemExit(f"run failed (exit {code})")
    result = json.loads(lines[-1])
    if result.get("correct") is not True:
        raise SystemExit("output checks failed")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
