#!/usr/bin/env python3
"""Run graft's benchmark once.

    python3 perfbench/run.py --workload tpc --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first call builds the engine and the
harness from source with sbt (perfbench/build.sbt) and generates the `tpc`
workload's inputs into .bench_build/; later calls reuse both while the
sources are unchanged. Each run starts one harness JVM on local[N], N =
min(available cpus, 4), writes its record under .bench_runs/<run id>/ and
prints, as the last stdout line, one JSON object with the keys correct,
attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_runs"
WORKLOADS = ("tpc", "gen-convert")
HEAP = "2g"
MAX_CORES = 4
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when it is not started through spark-submit
# (the same list as the engine's build.sbt).
ADD_OPENS = [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]

_child = None


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stop_child(*_):
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    sys.exit(3)


def call(cmd, cwd, timeout, stdout, log):
    """Run cmd in its own process group; kill the whole group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=log,
                              start_new_session=True, text=True)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        die(f"{cmd[0]} timed out after {timeout:.0f} s")
    code = _child.returncode
    _child = None
    return code, out


def source_digest():
    """Digest of everything the build and the generated data depend on."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".properties", ".sbt"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def harness(classpath, args, run_dir, timeout, stdout):
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java(), *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", classpath, "graftbench.Main", *args]
    with open(run_dir / "harness.log", "w") as log:
        return call(cmd, ROOT, timeout, stdout, log)


def build(digest, deadline):
    """Compile (sbt) and prepare the data once per source digest."""
    BUILD.mkdir(exist_ok=True)
    stamp, cp = BUILD / "build.stamp", BUILD / "classpath.txt"
    if not (stamp.exists() and stamp.read_text() == digest and cp.exists()):
        with open(BUILD / "build.log", "w") as log:
            code, _ = call(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           HERE, deadline - time.time(), log, subprocess.STDOUT)
        if code != 0:
            die("build failed; see .bench_build/build.log")
        shutil.copy(HERE / "target" / "classpath.txt", cp)
        stamp.write_text(digest)
    classpath = cp.read_text().strip()
    data = BUILD / "data"
    dstamp = data / "stamp"
    if not (dstamp.exists() and dstamp.read_text() == digest):
        shutil.rmtree(data, ignore_errors=True)
        data.mkdir(parents=True)
        prep = BUILD / "prepare-run"
        shutil.rmtree(prep, ignore_errors=True)
        code, _ = harness(classpath, ["--mode", "prepare", "--cores", str(cores()),
                                      "--data-dir", str(data), "--run-dir", str(prep)],
                          prep, deadline - time.time(), subprocess.DEVNULL)
        if code != 0:
            die("data preparation failed; see .bench_build/prepare-run/harness.log")
        shutil.rmtree(prep / "local", ignore_errors=True)
        shutil.rmtree(prep / "tmp", ignore_errors=True)
        dstamp.write_text(digest)
    return classpath, data


def cores():
    return max(1, min(len(os.sched_getaffinity(0)), MAX_CORES))


def commit():
    if not (ROOT / ".git").exists():
        return "unknown"
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        die(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala)")
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_child)

    start = time.time()
    digest = source_digest()
    classpath, data = build(digest, start + BUILD_TIMEOUT_S)

    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_dir = RUNS / f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    run_dir.mkdir(parents=True)
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores()),
            "--data-dir", str(data), "--run-dir", str(run_dir),
            "--expected", str(HERE / "expected.json"),
            "--commit", f"{commit()} src:{digest[:16]}"]
    code, out = harness(classpath, args, run_dir, RUN_TIMEOUT_S, subprocess.PIPE)
    for d in ("local", "tmp", "gc"):
        shutil.rmtree(run_dir / d, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        die(f"harness exited with {code}; see {run_dir / 'harness.log'}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result line: {lines[-1]}")
    for line in lines[:-1]:
        print(line)
    print(f"[perfbench] record {run_dir.relative_to(ROOT)}/record.json")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
