#!/usr/bin/env python3
"""Build graft and its benchmark from source, then run one workload.

Run from the repository root:

    python3 perfbench/run.py --workload chain-iterate --seed 1 --seconds 10 --trace 0

The first run builds (`sbt writeClasspath` in perfbench/, which compiles the
engine at the root as a dependency); later runs reuse the build while no
source or build file has changed. The workload runs in one JVM with Spark at
local[nproc]. Standard output ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. Everything the run writes
stays under .bench_work/ and the sbt target/ directories.
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
WORK = ROOT / ".bench_work"
BUILD = WORK / "build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Returns (classpath, jvm options), building first when sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft are missing)")
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    tmp.mkdir(exist_ok=True)
    stamp, cp_file, opts_file = BUILD / "fingerprint", BUILD / "classpath.txt", BUILD / "jvm-options.txt"
    fp = fingerprint()
    if not (stamp.is_file() and stamp.read_text() == fp and cp_file.is_file() and opts_file.is_file()):
        # keep the build tool's temporary files and JVM perf data inside the
        # checkout as well
        env = dict(os.environ, TMPDIR=str(tmp), JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        env.setdefault("COURSIER_MODE", "offline")
        log = BUILD / "sbt.log"
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "-batch", f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false",
                                     "writeClasspath"], cwd=BENCH, env=env, stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"build failed (exit {rc}); log in {log}")
        target = BENCH / "target"
        cp_file.write_text((target / "runtime-classpath.txt").read_text())
        opts_file.write_text((target / "jvm-options.txt").read_text())
        stamp.write_text(fp)
    return cp_file.read_text().strip(), opts_file.read_text().split()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    classpath, jvm_opts = build()
    tmp, logs = WORK / "tmp", WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-{a.seed}-{a.trace}.log"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", str(WORK)])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}")
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run exited {proc.returncode} without a result; log in {log}")
    if proc.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run exited {proc.returncode}; log in {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
