#!/usr/bin/env python3
"""The repository benchmark: sync, cdc_stream and query_sweep workloads.

    python3 perfbench/run.py --workload sync --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark driver from this checkout's sources
(once per source state, with sbt), runs one workload in a fresh JVM, checks
its outputs and prints the metrics. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; the end-to-end metrics with
--trace 0, the per-layer ones with --trace 1. The line before it is the run
report: the workload's own named figures, sample counts, failures and the
run-condition stamp. See perfbench/README.md.
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

import stats

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
OUT = HERE / "target" / "bench"
WORKLOADS = ("sync", "cdc_stream", "query_sweep")
# Spark on JDK 17 outside spark-submit (as the engine's build.sbt sets them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# a fixed heap (-Xms = -Xmx): no run's timings depend on when it grew
HEAP = "2g"
# The whole command must end within 180 s; a run that is still going at
# this point is stopped and reported as failed.
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
# Length of the cdc_stream passes in traced runs: 100 slices, so that its p90
# has ten samples beyond it.
CDC_SECONDS = 10


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads: the engine's build and sources, then the
    benchmark's own."""
    files = [CHECKOUT / "build.sbt"]
    for base in (CHECKOUT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for base in (CHECKOUT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    files.append(HERE / "build.sbt")
    return files


def source_digest():
    h = hashlib.sha1()
    for p in build_inputs():
        h.update(str(p.relative_to(CHECKOUT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compiles with sbt unless this source state was built already; returns
    the runtime classpath."""
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    if stamp.is_file() and stamp.read_text() == digest and cp_file.is_file():
        return cp_file.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as f:
        rc = run_child(cmd, HERE, f, BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cps = [ln for ln in lines if "perfbench/target/scala" in ln and ":" in ln
           and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed (see %s)" % log, 3)
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    return cps[-1]


def run_child(cmd, cwd, stdout, timeout):
    """Runs a child in its own process group and waits for it; on timeout the
    whole group is killed and reaped. Returns the exit code (None on
    timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=subprocess.STDOUT
                         if stdout is not sys.stderr else None,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sweep_stale(digest):
    """Removes what cut runs left behind: run dirs of dead processes (with
    the engine's graft-* scratch trees inside them), half-written base
    tables, and base tables of other source states."""
    work = OUT / "work"
    if work.is_dir():
        for d in work.iterdir():
            try:
                os.kill(int(d.name.split("-")[1]), 0)
                continue
            except (IndexError, ValueError, ProcessLookupError, PermissionError):
                shutil.rmtree(d, ignore_errors=True)
    data = OUT / "data"
    if data.is_dir():
        for d in data.iterdir():
            if d.name != digest:
                shutil.rmtree(d, ignore_errors=True)
        for t in data.glob("*/*/*.tmp-*"):
            shutil.rmtree(t, ignore_errors=True)


def fs_type(path):
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            if len(parts) > 2 and str(path).startswith(parts[1]) and len(parts[1]) > len(best):
                best, kind = parts[1], parts[2]
    return kind


def git_commit():
    if not (CHECKOUT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(CHECKOUT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def java(cp, tmp, main, *args):
    """The command line of a benchmark JVM."""
    exe = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [str(exe), "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=%s" % tmp,
           "-Dlog4j2.configurationFile=%s" % (HERE / "log4j2.properties")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main] + [str(a) for a in args]


def jvm(cp, digest, workload, seed, seconds, trace, cores, deadline):
    """One JVM run of a workload; returns its raw result dict."""
    work = OUT / "work" / ("run-%d-%s-%d-%d-%d" % (os.getpid(), workload, seed, trace, cores))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    cmd = java(cp, work / "tmp", "perfbench.Main", "--workload", workload, "--seed", seed,
               "--seconds", seconds, "--trace", trace, "--cores", cores,
               "--data", OUT / "data" / digest, "--work", work, "--out", out)
    try:
        rc = run_child(cmd, CHECKOUT, sys.stderr, deadline - time.monotonic())
        if rc != 0 or not out.is_file():
            die("%s run %s" % (workload, "timed out" if rc is None else "exited %s" % rc), 4)
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def prepare(cp, digest, deadline):
    """Writes every workload's seed-independent base tables in a JVM of its
    own unless this source state has them, so that no timed set-up pays for
    filling the cache. Returns whether it ran."""
    ready = OUT / "data" / digest / "ready"
    if ready.is_file():
        return False
    jvm(cp, digest, "prepare", 0, 0, 0, os.cpu_count(), deadline)
    ready.write_text(digest)
    return True


def history(digest, workload, add=None):
    """This source state's untraced end-to-end results of a workload, kept
    so a traced run can measure its overhead against them; `add` appends."""
    path = OUT / "history.jsonl"
    if add is not None:
        with open(path, "a") as f:
            f.write(json.dumps({"digest": digest, "workload": workload, **add}) + "\n")
    if not path.is_file():
        return []
    rows = [json.loads(ln) for ln in path.read_text().splitlines() if ln.strip()]
    return [r for r in rows if r["digest"] == digest and r["workload"] == workload]


def main():
    # a stopped run stops its JVM too (run_child kills the group on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.monotonic()
    deadline = t0 + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (CHECKOUT / "build.sbt").is_file() or not (CHECKOUT / "src" / "main" / "scala").is_dir():
        die("no engine sources next to %s: run from a checkout of the repository" % HERE)
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")

    digest = source_digest()
    sweep_stale(digest)
    cp = build(digest)
    # a first run that had to build gets the remaining budget of a fresh
    # run, and so does the run that writes the base tables
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 10)
    if prepare(cp, digest, deadline):
        deadline = max(deadline, time.monotonic() + DEADLINE_S - 10)
    load0 = os.getloadavg()
    expected = json.loads((HERE / "expected_counts.json").read_text())["counts"]
    cores = os.cpu_count()
    run = jvm(cp, digest, a.workload, a.seed, a.seconds, a.trace, cores, deadline)
    e2e, named, samples, (attempted, failed) = stats.end_to_end(run, expected)
    failures = stats.outcome(run, expected)[2]
    if not a.trace:
        history(digest, a.workload, add={k: v for k, (v, _) in e2e.items()})
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        # the streaming path rides along with the traced runs: its traced
        # pass with sync's, its single-core baseline with query_sweep's, so
        # that each traced run ends in time
        cdc = local1 = None
        if a.workload == "sync":
            cdc = jvm(cp, digest, "cdc_stream", a.seed, CDC_SECONDS, 1, cores, deadline)
        elif a.workload == "query_sweep":
            local1 = jvm(cp, digest, "cdc_stream", a.seed, CDC_SECONDS, 0, 1, deadline)
        for r in (cdc, local1):
            if r is not None:
                n, bad, why = stats.outcome(r)
                attempted, failed, failures = attempted + n, failed + len(bad), failures + why
        layers = stats.per_layer(run, cdc=cdc, local1=local1,
                                 untraced=history(digest, a.workload),
                                 expected_counts=expected)
        metrics = {k: {"value": v, "unit": stats.unit_of(k)} for k, v in layers.items()}
        (OUT / "traces").mkdir(parents=True, exist_ok=True)
        trace_file = OUT / "traces" / ("%s-%d.json" % (a.workload, a.seed))
        trace_file.write_text(json.dumps({"run": run, "cdc_stream": cdc}))
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "figures": named, "setup": run["setup"], "samples": samples,
        "failures": failures[:20],
        "stamp": {"nproc": cores,
                  "load_avg_start": load0, "load_avg_end": os.getloadavg(),
                  "work_fs": fs_type(OUT), "git_commit": git_commit(),
                  "source_digest": digest, "wall_s": time.monotonic() - t0},
    }
    if a.trace:
        report["trace_file"] = str(trace_file.relative_to(CHECKOUT))
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
