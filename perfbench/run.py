#!/usr/bin/env python3
"""Same-box benchmark of the graft engine: one JVM, local[4], one closed-loop
client, workload seed as an argument.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the engine through the
repository's own build and the benchmark on top of it (sbt, offline, see
perfbench/build.sbt) and records the classpath under .bench_build/; later runs
reuse the build until a source or build file changes. The first run of each
workload on a build also dumps the classes it loaded into a class-data-sharing
archive under .bench_build/, which later runs of that workload map instead of
loading the classes from the jars. Each run works in a fresh directory under
.bench_build/ and deletes it on exit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; every metric is also printed
on its own "metric" line with its unit and sample count. See NOTES.md.

--dump DIR writes the generated inputs, each query's output and its oracle
SQL under DIR instead of timing (used by make_pins.py).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def sources():
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (ENGINE, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when any source changed; return the classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == want:
                return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    # class-data-sharing archives need jars, not class directories
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    # results and archives of the previous build describe other code
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--dump")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE}")
    cp = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a --dump run loads other classes than a timed run, so it writes no archive
    jsa = os.path.join(BUILD, f"cds-{a.workload}.jsa")
    dump = not os.path.exists(jsa) and not a.dump
    cds = ([f"-XX:ArchiveClassesAtExit={jsa}.tmp"] if dump
           else [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    cmd = (["java", "-Xmx3g"] + cds + ["-Xlog:disable", "-Xlog:all=warning,cds*=error:stderr",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--bench-dir", BENCH,
              "--work-dir", work]
           + (["--dump", os.path.abspath(a.dump)] if a.dump else []))
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if dump and proc.returncode == 0 and os.path.exists(f"{jsa}.tmp"):
        os.replace(f"{jsa}.tmp", jsa)
    lines = out.splitlines()
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if proc.returncode != 0 or (not a.dump and len(result) != 1):
        raise SystemExit(f"perfbench: run failed (exit {proc.returncode})")
    if result:
        overhead(a, lines)
        print(result[0], flush=True)


def overhead(a, lines):
    """Tracing overhead: this run's pass_s against the other mode's run of
    the same workload and seed, when one has been made in this checkout."""
    pass_s = [float(l.split()[3]) for l in lines if l.startswith(f"metric {a.workload} pass_s ")]
    if not pass_s:
        return
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    def path(t):
        return os.path.join(results, f"{a.workload}-seed{a.seed}-trace{t}.pass_s")
    with open(path(a.trace), "w") as f:
        f.write(str(pass_s[0]))
    other = path("1" if a.trace == "0" else "0")
    if os.path.exists(other):
        with open(other) as f:
            base = float(f.read())
        traced, untraced = (pass_s[0], base) if a.trace == "1" else (base, pass_s[0])
        print(f"metric {a.workload} trace.overhead_frac {traced / untraced - 1:.6f} ratio n=2")


if __name__ == "__main__":
    main()
