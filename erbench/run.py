#!/usr/bin/env python3
"""Benchmark of the graft ER engine (see BENCHMARK.json and erbench/workloads.json).

    python3 erbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0
    python3 erbench/run.py --smoke

Run from the root of a checkout. The first call builds the runner together
with the engine's sources (sbt, in erbench/); later calls reuse the build
while no source file has changed. Each call runs one workload in one JVM
(local[4] Spark) and prints one JSON result line last on stdout; with
--trace 1 it also writes the traced run's spans to .erbench/traces/.
--smoke runs every workload at its smoke size, untraced and traced, and
fails unless every run is correct and reports every declared metric.
"""
import argparse
import ctypes
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
ENGINE = ROOT / "src" / "main" / "scala"
BUILD = HERE / "target"
STAMP = BUILD / "erbench-build.stamp"
CLASSPATH = BUILD / "erbench-classpath.txt"
WORK = ROOT / ".erbench"

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# what spark-submit adds for Spark on JDK 17
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"[erbench] {msg}", file=sys.stderr)
    sys.exit(2)


def _die_with_parent():
    # Linux prctl(PR_SET_PDEATHSIG, SIGKILL): the child dies if this script is killed
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    interruption, and always wait for it. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, preexec_fn=_die_with_parent, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        print(f"[erbench] timed out after {timeout:.0f} s: {cmd[0]}", file=sys.stderr)
        return -1, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def fingerprint():
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the runner and the engine; return the runtime classpath."""
    if not (ENGINE / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE.relative_to(ROOT)}; run from a checkout")
    fp = fingerprint()
    if STAMP.is_file() and CLASSPATH.is_file() and STAMP.read_text() == fp:
        return CLASSPATH.read_text().strip(), False
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    print("[erbench] building runner and engine (sbt compile)", file=sys.stderr)
    # sbt's global base inside the build directory: the build writes nothing
    # outside the checkout but reads the offline dependency caches
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           f"-Dsbt.global.base={BUILD / 'sbt-global'}", "compile",
                           "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        fail("build failed")
    BUILD.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1])
    STAMP.write_text(fp)
    return lines[-1], True


def remove_stale_work():
    """Scratch left by a run that was killed outright (its pid is gone)."""
    for d in WORK.glob("run-*"):
        try:
            os.kill(int(d.name.split("-")[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def run_workload(cp, workload, seed, seconds, trace, size, timeout):
    """One JVM run of one workload; returns the parsed result or None."""
    remove_stale_work()
    work = WORK / f"run-{os.getpid()}-{workload}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", cp, "erbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--size", size,
           "--benchmark", str(ROOT / "BENCHMARK.json"), "--spec", str(HERE / "workloads.json"),
           "--work", str(work), "--traces", str(WORK / "traces")]
    # capped malloc arenas keep the JVM's native footprint small
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    try:
        code, out = run_group(cmd, timeout, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not results:
        print(f"[erbench] {workload} exited with {code} and no result", file=sys.stderr)
        return None
    return json.loads(results[-1])


def smoke(cp):
    spec = json.loads((HERE / "workloads.json").read_text())
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for name in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = run_workload(cp, name, 1, 0, trace, "smoke", RUN_TIMEOUT_S)
            problems = []
            if r is None:
                problems.append("no result")
            else:
                if not r["correct"] or r["failed"] or r["attempted"] < 1:
                    problems.append(f"correct={r['correct']} attempted={r['attempted']} failed={r['failed']}")
                declared = [m["name"] for m in bench[kind]]
                if sorted(r["metrics"]) != sorted(declared):
                    problems.append("metric names differ from BENCHMARK.json " + kind)
                if trace == 0:
                    problems += [f"{n} is 0" for n in declared if r["metrics"].get(n, {}).get("value") == 0]
            print(f"[erbench] smoke {name} trace={trace}: {'ok' if not problems else '; '.join(problems)}",
                  file=sys.stderr)
            ok = ok and not problems
    print(json.dumps({"smoke": "ok" if ok else "failed"}))
    return 0 if ok else 1


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _exit_on_signal)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true", help="run every workload once at smoke size")
    a = ap.parse_args()
    if not a.smoke and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required (or --smoke)")
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json not found at the checkout root")
    started = time.monotonic()
    cp, built = build()
    if a.smoke:
        return smoke(cp)
    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    budget = (BUILD_TIMEOUT_S + RUN_TIMEOUT_S) if built else RUN_TIMEOUT_S
    r = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, "full",
                     budget - (time.monotonic() - started))
    if r is None:
        return 1
    print(json.dumps(r))
    # a failed check or call fails the command; the result above says which
    return 0 if r["correct"] and not r["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
