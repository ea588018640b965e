#!/usr/bin/env python3
"""Run one benchmark workload against the gateway and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and the benchmark with sbt (perfbench/build.sbt) and generates the table
data; later runs reuse both while the sources are unchanged. Everything
the benchmark builds, generates or writes stays under perfbench/out.

Workloads: serve_hot, ingest_mixed, suite (see perfbench/README.md).
The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The exit code is non-zero when a correctness gate fails.
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
OUT = os.path.join(HERE, "out")
WORKLOADS = ("serve_hot", "ingest_mixed", "suite")
# table data is generated once from this seed; --seed drives the
# request and write streams
DATA_SEED = 42
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# a run with fewer successful-or-failed reads than this is refused: its
# tail percentile would rest on too few samples
MIN_READS = 10

# the module openings Spark needs on JDK 17 outside spark-submit (the
# same list the engine's build passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: the engine and benchmark sources
    and both build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`, and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill_group(p)
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        kill_group(p)
        raise
    # anything the command left running in its group goes too
    kill_group(p)
    return p.returncode, out


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    stamp_file = os.path.join(OUT, "build", "stamp")
    cp_file = os.path.join(OUT, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building the engine and the benchmark with sbt")
    log_path = os.path.join(OUT, "build", "sbt.log")
    with open(log_path, "wb") as lf:
        rc, _ = run_group(["sbt", "--batch", "--no-server",
                           "-Dsbt.log.noformat=true",
                           "compile", "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env,
                          stdout=lf, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
    with open(log_path, errors="replace") as lf:
        lines = lf.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l
           and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log: {log_path}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def ensure_data(sf):
    """The table directory at `sf`. Generated once per version of the
    generator; the directory only counts once its marker file holds the
    generator's hash."""
    d = os.path.join(OUT, "data", f"sf{sf}")
    marker = os.path.join(d, "_complete")
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest()
    have = None
    if os.path.exists(marker):
        with open(marker) as f:
            have = f.read()
    if have != stamp:
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        log(f"generating {os.path.relpath(d, ROOT)}")
        cmd = [sys.executable, gen, d + ".tmp", str(sf), str(DATA_SEED)]
        rc, _ = run_group(cmd, 600, stdout=subprocess.DEVNULL)
        if rc != 0:
            fail(f"data generation failed: {' '.join(cmd)}")
        os.rename(d + ".tmp", d)
        with open(marker, "w") as f:
            f.write(stamp)
    return os.path.dirname(d)


def main():
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # self-test knobs: a small table scale, a lower read floor for short
    # runs, and a planted wrong expectation
    ap.add_argument("--sf", default="0.1")
    ap.add_argument("--min-reads", type=int, default=MIN_READS)
    ap.add_argument("--plant-mismatch", action="store_true")
    # writes the suite's expected results from this run instead of
    # checking them; a builder runs it once per table scale
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a source checkout: {need} is missing under {ROOT}")

    cp = build()
    data = ensure_data(a.sf)
    expected = os.path.join(HERE, "expected", f"suite-sf{a.sf}.tsv")
    run_dir = os.path.join(OUT, "run")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            "-Dio.netty.tryReflectionSetAccessible=true",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", data, "--out", run_dir, "--sf", a.sf,
              "--min-reads", str(a.min_reads), "--expected", expected]
           + (["--plant-mismatch"] if a.plant_mismatch else [])
           + (["--record-expected"] if a.record_expected else []))
    rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir,
                        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    lines = [l for l in out.decode(errors="replace").splitlines()
             if l.startswith("{")]
    if not lines:
        fail(f"the run printed no result (exit {rc})")
    print(lines[-1], flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
