#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <ingest|query|curate> --seed <n> \
        --seconds <s> --trace <0|1>

Run it from the root of a source checkout. The first run compiles the
engine from the checkout's sources together with the benchmark (an sbt
build of its own, in this directory), then runs a little of every workload
once to record a class-data archive. Both are cached under
`.bench_build/perfbench`, keyed by a hash of every source and build file;
later runs start the JVM straight from them.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones. The
full record of the run (environment, workload detail, and for a traced run
every span) is written to `.bench_build/perfbench/results/<run_id>*.json`.
Every other line the run prints carries its run id.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("ingest", "query", "curate")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# the whole run, build excluded, must end well inside three minutes
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 850
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (which normally injects them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build depends on, as paths relative to ROOT."""
    out = []
    for rel in ("build.sbt", "perfbench/build.sbt", "perfbench/project/build.properties"):
        if os.path.isfile(os.path.join(ROOT, rel)):
            out.append(rel)
    project = os.path.join(ROOT, "project")
    if os.path.isdir(project):
        out += [os.path.join("project", f) for f in sorted(os.listdir(project))
                if f.endswith((".sbt", ".properties", ".scala"))]
    for tree in ("src/main", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, tree))):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(cp, *extra):
    # a fixed heap size: a heap that shrinks after a full collection and
    # grows again slows the first ops after it
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + list(extra)
            + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main"])


def build():
    """Compile if the sources changed since the cached build.

    Returns the classpath (jars only) and the class-data archive. The
    archive holds the classes a short run of every workload loads, so each
    benchmark JVM starts without parsing and verifying them again.
    """
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    archive = os.path.join(BUILD, "classes.jsa")
    want = stamp()
    if all(os.path.isfile(f) for f in (cp_file, stamp_file, archive)):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip(), archive
    os.makedirs(BUILD, exist_ok=True)
    for f in (cp_file, stamp_file, archive):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_BUDGET_S)
        log.write(proc.stdout)
        lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
        cp = lines[-1] if lines else ""
        if proc.returncode != 0 or not all(e.endswith(".jar") for e in cp.split(os.pathsep)):
            fail(f"build failed (exit {proc.returncode}); see {log_path}")
        work = os.path.join(BUILD, "work", "train")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        try:
            train = subprocess.run(
                java_cmd(cp, f"-XX:ArchiveClassesAtExit={archive}",
                         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
                + ["--train", "1", "--run-id", "train", "--work", work],
                cwd=work, stdout=log, stderr=log, timeout=BUILD_BUDGET_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if train.returncode != 0 or not os.path.isfile(archive):
        fail(f"class-data training run failed (exit {train.returncode}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp, archive


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources beside the benchmark (expected build.sbt and src/main/scala in {ROOT})")

    cp, archive = build()
    started = time.monotonic()
    run_id = "%s-s%d-t%d-%s-%d" % (a.workload, a.seed, a.trace,
                                    time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()), os.getpid())
    work = os.path.join(BUILD, "work", run_id)
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (java_cmd(cp, f"-XX:SharedArchiveFile={archive}",
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
           + ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--run-id", run_id, "--work", work, "--out", results])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(max(10.0, RUN_BUDGET_S - (time.monotonic() - started)), kill)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail(f"run {run_id} exceeded {RUN_BUDGET_S} s")
    if code != 0:
        fail(f"run {run_id} failed (exit {code})")
    with open(os.path.join(results, f"{run_id}.json")) as f:
        r = json.load(f)
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
