#!/usr/bin/env python3
"""Benchmark entry point for the graft Spark engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness from
source (perfbench/build.sbt, once per source digest), generates the input
tables once into .bench_build/perfbench/data, runs the workload in one JVM on
local[<cores>] with its spill, store and warehouse directories under a fresh
per-run directory that is deleted afterwards, checks the outputs, and prints
one JSON object as its last stdout line. See perfbench/README.md.

Other uses:
    --cores N               run on N cores instead of all of them
    --record-fingerprints   write the fingerprints the warm-up computes to
                            perfbench/fingerprints.json (after a deliberate
                            change to results or data)
    --selftest              check that a query's fingerprint is the same at
                            local[4] and local[1]
    --data DIR              read the tables in DIR instead of the generated
                            ones, e.g. to compare their per-query row counts
                            and times (fingerprint checks then fail unless
                            DIR holds the generated data)
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
FINGERPRINTS = BENCH / "fingerprints.json"

# Runs of the workloads in BENCHMARK.json must end within 180 s; the sf1
# workload is a manual baseline (see README) and gets an hour.
WORKLOADS = {"daily_etl": ("sf0.1", 170), "llm_corpus": ("sf0.1", 170),
             "llm_corpus_sf1": ("sf1", 3600)}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal, clamped to 2..8 GiB, as the repo's test command sets
    SPARK_DRIVER_MEM; build.sbt's own default (32g) exceeds small hosts."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def digest(paths):
    h = hashlib.sha256()
    files = sorted(f for p in paths for f in ([p] if p.is_file() else p.rglob("*")) if f.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles program + harness with sbt; returns the runtime classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
               BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]
    stamp, cpfile = WORK / "build.stamp", WORK / "classpath.txt"
    d = digest(sources)
    if stamp.exists() and cpfile.exists() and stamp.read_text() == d:
        return cpfile.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
                           + (f" -Dsbt.repository.config={repos}" if repos.exists() else ""))
    print("perfbench: building with sbt", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    WORK.mkdir(parents=True, exist_ok=True)
    cpfile.write_text(lines[-1])
    stamp.write_text(d)
    return lines[-1]


def run_jvm(cp, args, tmp, timeout):
    """Runs graft.perfbench.Main in `tmp` (its cwd, java.io.tmpdir and
    SPARK_LOCAL_DIRS); returns its stdout. Kills the whole process group on
    timeout and waits for it."""
    for sub in ("jtmp", "local"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + [f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
              f"-Djava.io.tmpdir={tmp / 'jtmp'}",
              f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
              "-cp", cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "local"))
    p = subprocess.Popen(cmd, cwd=tmp, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"timed out after {timeout} s", 1)
    finally:
        # The JVM runs in its own session; whatever ends this process, the
        # JVM's whole process group goes too, and is waited for.
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        fail(f"JVM exited with {p.returncode}", 1)
    return out


def fresh_tmp(tag):
    """A per-run directory; leftovers of runs that were killed are removed."""
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    for old in runs.iterdir():
        pid = old.name.rsplit("-", 1)[-1]
        if not pid.isdigit() or not Path(f"/proc/{pid}").exists():
            shutil.rmtree(old, ignore_errors=True)
    tmp = runs / f"{tag}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    return tmp


def data(cp, sf):
    """The input tables of scale `sf`, generated once per generator digest."""
    gen = BENCH / "src" / "main" / "scala" / "graft" / "perfbench" / "Gen.scala"
    inputs = [gen] + ([ROOT / "src" / "main" / "scala" / "graft" / "ScaleUp.scala"] if sf == "sf1" else [])
    d = WORK / "data" / f"{sf}-{digest(inputs)}"
    if (d / "_ROWS").exists():  # written only after the row counts were checked
        return d
    src = data(cp, "sf0.1") if sf == "sf1" else None
    shutil.rmtree(d, ignore_errors=True)
    print(f"perfbench: generating {sf} tables", file=sys.stderr)
    tmp = fresh_tmp("gen")
    try:
        args = (["gen-sf1", "--src", str(src)] if src else ["gen"]) + [
            "--data", str(d), "--tmp", str(tmp), "--cores", str(nproc())]
        run_jvm(cp, args, tmp, 1800)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not (d / "_ROWS").exists():
        fail(f"generation of {sf} did not finish", 1)
    return d


def stop(signum, _frame):
    """Turns a termination signal into SystemExit, so the `finally` blocks
    stop the JVM (or sbt) and delete the run directory."""
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=nproc())
    ap.add_argument("--record-fingerprints", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--data", type=Path)
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir() \
            or not (ROOT / "BENCHMARK.json").is_file():
        fail(f"{ROOT} holds no program sources (build.sbt, src/main/scala) or no BENCHMARK.json; "
             "run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    t0 = time.monotonic()
    cp = build()
    sf, timeout = WORKLOADS.get(a.workload, ("sf0.1", 1800))
    d = a.data.resolve() if a.data else data(cp, sf)
    # Build and generation happen once per checkout; the run itself keeps
    # to the per-run limit.
    tag = a.workload or "selftest"
    tmp = fresh_tmp(tag)
    try:
        if a.selftest:
            out = run_jvm(cp, ["selftest", "--data", str(d), "--tmp", str(tmp),
                               "--fingerprints", str(FINGERPRINTS)], tmp, 1800)
            print(out.strip().splitlines()[-1])
            return
        trace_out = WORK / "traces" / f"{a.workload}-c{a.cores}-seed{a.seed}.json"
        args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(a.cores), "--data", str(d), "--tmp", str(tmp),
                "--fingerprints", str(FINGERPRINTS), "--out", str(trace_out)]
        if a.record_fingerprints:
            args.append("--record")
        out = run_jvm(cp, args, tmp, timeout)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("the JVM printed no result", 1)
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result {lines[-1]}", 1)
    # The result carries exactly the metrics BENCHMARK.json declares for
    # this mode; the trace file keeps the workload-specific ones too.
    declared = [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in declared if n not in res["metrics"]]
    if missing:
        fail(f"the JVM did not report {missing}", 1)
    res["metrics"] = {n: res["metrics"][n] for n in declared}
    if a.trace:
        print(f"perfbench: spans and all per-layer metrics in {trace_out}", file=sys.stderr)
    print(f"perfbench: {time.monotonic() - t0:.1f} s wall", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
