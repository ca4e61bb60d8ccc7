#!/usr/bin/env python3
"""Served-path benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_headline --seed 1 --seconds 24 --trace 0

The first run builds the engine and the harness from source with the
sbt build in perfbench/, which depends on the repository's own build, and
caches the classpath under the scratch directory ($CARGO_TARGET_DIR,
default .bench_build). Each run then starts
one JVM (perfbench.Main) that serves the catalog over
graft.engine.Transport and drives it with closed-loop rpc clients. The
last stdout line is the JSON result; see perfbench/README.md.

Extra modes:
    --pin write   send every query of the workload once and (re)write
                  perfbench/answers.tsv and the full per-query ledger
    --pin check   the same pass, checked against the pinned answers
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
WORKLOADS = ("serve_headline", "serve_wide", "catalog_walk")
RUN_LIMIT_S = 170      # a run must end within 180 s
BUILD_LIMIT_S = 840    # the first run in a checkout also builds (900 s)

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# the repository's build.sbt).
ADD_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", f"{pkg}=ALL-UNNAMED")
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def scratch_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "perfbench") if not os.path.isabs(d) else os.path.join(d, "perfbench")


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group. The whole group is killed when
    it overruns limit_s or when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def on_term(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, on_term) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=limit_s), p
    except subprocess.TimeoutExpired:
        kill()
        return None, p
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def sources_fingerprint():
    """Size and mtime of every file the build compiles."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(out):
    """Build when the sources changed. Returns the runtime classpath and
    whether this call built it."""
    cp_file = os.path.join(out, "classpath.txt")
    fp = sources_fingerprint()
    if os.path.exists(cp_file):
        cached_fp, _, cp = open(cp_file).read().strip().partition("\n")
        if cached_fp == fp and cp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp, False
    if shutil.which("sbt") is None:
        die("sbt is not on PATH; it is needed to build the engine")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        rc, _ = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    lines = open(log_path).read().splitlines()
    cps = [l.strip() for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cps:
        tail = "\n".join(lines[-20:])
        die(f"build failed (rc={rc}); see {log_path}\n{tail}", 1)
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cps[-1] + "\n")
    return cps[-1], True


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", choices=("write", "check"))
    a = ap.parse_args()

    t_start = time.monotonic()
    engine_src = os.path.join(ROOT, "src", "main", "scala", "graft", "engine", "Transport.scala")
    data = os.path.join(HERE, "data")
    answers = os.path.join(HERE, "answers.tsv")
    if not os.path.isfile(engine_src):
        die(f"engine sources not found under {ROOT}; run from the root of a checkout")
    if not os.path.isdir(data) or not os.path.isfile(answers):
        die("perfbench/data or perfbench/answers.tsv is missing")

    out = scratch_dir()
    os.makedirs(out, exist_ok=True)
    cp, built_here = classpath(out)

    # Everything the engine writes stays in the scratch directory:
    # Spark shuffle/spill, the streaming queries' scratch trees
    # (java.io.tmpdir) and the session's warehouse (the JVM's cwd).
    tmp = os.path.join(out, "tmp")
    local = os.path.join(out, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = local
    env["SPARK_LOCAL_DIRS"] = local
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace),
           "--data", data, "--out", out, "--answers", answers]
    if a.pin:
        cmd += ["--pin", a.pin]
    log_path = os.path.join(out, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    limit = (BUILD_LIMIT_S + 50 if built_here else RUN_LIMIT_S) - (time.monotonic() - t_start)
    if a.pin:
        limit = max(limit, 1500)
    stdout_path = log_path + ".out"
    with open(log_path, "w") as err, open(stdout_path, "w") as so:
        rc, _ = run_bounded(cmd, limit, cwd=out, env=env, stdout=so, stderr=err,
                            stdin=subprocess.DEVNULL)
    lines = open(stdout_path).read().splitlines()
    result = None
    for line in lines:
        if line.startswith("# "):
            print(line)
        elif line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
    sys.stdout.flush()
    if rc != 0 or (result is None and not a.pin):
        tail = "\n".join(open(log_path).read().splitlines()[-30:])
        die(f"run failed (rc={rc}); log {log_path}\n{tail}", 1)
    if result is not None:
        print(json.dumps(result))


if __name__ == "__main__":
    main()
