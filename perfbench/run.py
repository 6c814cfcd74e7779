#!/usr/bin/env python3
"""Pipeline benchmark: runs one workload end to end and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark JVM from source (`perfbench/build.sbt`); later runs reuse the build while
the sources are unchanged. Inputs are generated from the seed
(`perfbench/gen.py`) and cached per (workload, size, seed) under
`perfbench/.cache/`.

With `--trace 0` the run measures set-up in fresh JVMs, a cold first pass,
then a fixed number of warm passes that take about `--seconds`, and
reports the end-to-end metrics of `BENCHMARK.json`. With `--trace 1` it alternates untraced and traced passes
and reports the per-layer metrics; the full per-stage breakdown goes to
`perfbench/out/trace-<workload>-s<seed>.json`. Every run appends its record
to `perfbench/out/results.jsonl`, the input of `perfbench/compare.py`.

The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
STAMP = os.path.join(BUILD_DIR, "sources.sha256")
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
CACHED_INPUTS = 6       # input sets kept per workload
SETUP_PROBES = 1        # extra fresh JVMs that only set up
RUN_TIMEOUT_S = 170     # hard cap on a run after the build, JVMs included
CHILDREN = []           # benchmark JVMs; each also exits when its stdin closes
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def build():
    """Compiles engine + benchmark JVM unless the sources match the last build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building engine and benchmark JVM with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def inputs(workload, seed):
    """The cached input directory for (workload, seed); evicts old sets."""
    import gen
    d = gen.cached(workload, seed, CACHE)
    os.utime(d)
    sets = sorted(glob.glob(os.path.join(CACHE, f"{workload}-*")), key=os.path.getmtime)
    for old in sets[:-CACHED_INPUTS]:
        if not old.endswith(".tmp"):
            shutil.rmtree(old, ignore_errors=True)
    with open(os.path.join(d, "meta.json")) as fh:
        return d, json.load(fh)


def java_cmd(work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *opens, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", *args]


def launch(work, args, logname, deadline):
    """Starts a benchmark JVM, killed at `deadline` (time.monotonic());
    returns (process, seconds until READY)."""
    errlog = open(os.path.join(work, logname), "w")
    t0 = time.monotonic()
    p = subprocess.Popen(java_cmd(work, args), stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                         stderr=errlog, text=True, cwd=work)
    CHILDREN.append(p)
    errlog.close()
    watchdog = threading.Timer(max(1, deadline - t0), p.kill)  # a hung JVM cannot stall the run
    watchdog.daemon = True
    watchdog.start()
    for line in p.stdout:
        if line.strip() == "READY":
            return p, time.monotonic() - t0
    p.wait()
    fail(f"benchmark JVM exited before READY (exit {p.returncode}); see {os.path.join(work, logname)}")


def tail(path, n=20):
    with open(path) as fh:
        return "".join(fh.readlines()[-n:])


def run_jvms(workload, input_dir, work, seconds, trace, deadline):
    setups = []
    if not trace:
        for i in range(SETUP_PROBES):
            p, s = launch(work, ["probe", work], f"probe{i}.log", deadline)
            p.wait()
            setups.append(s)
    p, s = launch(work, ["run", workload, ROOT, input_dir, work, str(seconds), str(int(trace))],
                  "jvm.log", deadline)
    setups.append(s)
    result = None
    for line in p.stdout:
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
    p.wait()
    if result is None:
        fail(f"benchmark JVM gave no result (exit {p.returncode}):\n{tail(os.path.join(work, 'jvm.log'))}")
    return result, setups


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None where /proc/stat is missing."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    import gen
    if a.workload not in gen.GENERATORS:
        fail(f"unknown workload {a.workload!r}; have {', '.join(gen.GENERATORS)}", 2)
    for need in ("src/main/scala", "examples/curate.conf"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a full checkout of the repository", 2)

    build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    input_dir, meta = inputs(a.workload, a.seed)
    for stale in glob.glob(os.path.join(WORK, "*-s*-*")):  # left by killed runs
        pid = int(stale.rsplit("-", 1)[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ticks0 = cpu_ticks()
    try:
        r, setups = run_jvms(a.workload, input_dir, work, a.seconds, bool(a.trace), deadline)
        sink_bytes = dir_bytes(os.path.join(work, "sink"))
        ticks1 = cpu_ticks()
    finally:
        for p in CHILDREN:
            p.kill()
            p.wait()
        shutil.rmtree(work, ignore_errors=True)

    for e in r["errors"]:
        log(f"failed pass: {e}")
    warm = r["warm_pass_s"]
    if not warm:
        fail(f"no measured pass succeeded ({r['failed']}/{r['attempted']} passes failed)")
    pipeline_s = statistics.median(warm)
    values = {
        "pipeline_s": pipeline_s,
        "input_rows_per_s": meta["input_rows"] / pipeline_s,
        "first_pass_s": r["first_pass_s"],
        "setup_s": statistics.median(setups),
        "sink_bytes": sink_bytes,
        "peak_rss_mb": r["peak_rss_kb"] / 1024,
    }
    log(f"{a.workload} seed={a.seed}: pipeline_s median {pipeline_s:.3f} of {len(warm)} warm passes, "
        f"first_pass_s {r['first_pass_s']:.3f}, setup_s {values['setup_s']:.3f} "
        f"(n={len(setups)}), failed_ratio {r['failed']}/{r['attempted']}")
    if a.trace:
        layers = r["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    os.makedirs(OUT, exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "attempted": r["attempted"], "failed": r["failed"],
              "failed_ratio": r["failed"] / r["attempted"], "warm_pass_s": warm,
              "setup_samples_s": setups, "input": meta, "metrics": values}
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # share of the CPUs' time the hypervisor gave to other guests:
        # a diagnostic of host contention, not a metric
        record["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    if a.trace:
        record["layers"] = r["layers"]
        with open(os.path.join(OUT, f"trace-{a.workload}-s{a.seed}.json"), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    with open(os.path.join(OUT, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")
    print(f"{a.workload}: " + ", ".join(
        f"{m['name']} {values[m['name']]:.6g} {m['unit']}" for m in spec["end_to_end"])
        + f", failed_ratio {record['failed_ratio']:.3g}")
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
