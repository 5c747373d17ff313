#!/usr/bin/env python3
"""The graft engine's benchmark: one command that builds the engine from
source, runs a workload on the committed reference tables and prints its
metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt; the classpath is cached under the build directory
($CARGO_TARGET_DIR, default .bench_build) and rebuilt only when a source
changes. The inputs are the engine's reference tables at scale factor
0.01, committed under perfbench/data/.

A run starts one JVM, sets up a session in it (setup_s runs from JVM start
to the end of the warm-up), runs an untimed check pass whose outputs are
compared with the engine's DuckDB oracles or the committed digests, an
untimed warm pass, then timed passes over the workload's calls in a closed
loop, one call at a time. With --trace 1 every
second pass has Spark listeners attached and the run reports per-layer
metrics instead of end-to-end ones. The last line of stdout is the
result as one JSON object; the full record, with the environment stamp
compare.py needs, is written under <build dir>/results/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import stats  # noqa: E402

SF = 0.01
DATA = os.path.join(HERE, "data", f"sf{SF}")
# Fixed heap (-Xms = -Xmx): with a heap that grew during the run, the GC
# threads used from 0.1 to 6 CPU seconds per pass of the same work.
HEAP = "3g"
# Nominal pass time of each workload on a 4-cpu machine; a run's pass
# count is --seconds divided by it, at least MIN_PASSES, fixed per workload
# so the percentiles' sample counts do not vary by run. With 5 or 7 calls a
# pass, 4 passes give the 20 samples the tail rule needs to reach p50.
WORKLOADS = {"kmeans_pipeline": 5.8, "query_mix": 5.0}
MIN_PASSES = 4
DEADLINE_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    """sha256 over the relative names and contents of every file under
    `paths` (files or directories, relative to the checkout root)."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        full = os.path.join(ROOT, p)
        if os.path.isfile(full):
            files.append(p)
        for d, dirs, names in os.walk(full):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__"))
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    for f in sorted(files):
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def ensure_build(build):
    """Compiles the engine's sources with the harness (perfbench/build.sbt)
    unless the classpath for the current sources is already there."""
    fp = tree_digest(["build.sbt", "src/main", "perfbench/build.sbt",
                      "perfbench/project/build.properties", "perfbench/src"])
    stamp, cp_file = os.path.join(build, "build.sha256"), os.path.join(build, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == fp and os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if jars is None:
        fail("build.sbt names no Spark jar directory (unmanagedBase)")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars.group(1),
               PERFBENCH_TARGET=os.path.join(build, "target"))
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    log = os.path.join(build, "build.log")
    with open(log, "w") as out:
        rc = run_killable([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], 840,
                          cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].replace("[info] ", "").strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fp)
    return cp


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def end_to_end(raw, attempted, failed):
    passes = [p for p in raw["passes"] if not p["traced"]]
    walls = [(c["end"] - c["start"]) / 1e3 for p in passes for c in p["calls"]]
    t = stats.tail(walls)
    m = {
        "setup_s": raw["setup_s"],
        "pass_s": stats.median([(p["end"] - p["start"]) / 1e3 for p in passes]),
        "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        "latency_p50_s": stats.median(walls),
        "latency_tail_s": t[0] if t else max(walls),
        "success_rate": 1.0 - failed / attempted,
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    info = {"tail_percentile": round(t[1], 2) if t else 100.0, "tail_samples": len(walls),
            "error_rate": failed / attempted}
    for k in ("process_cpu_s", "jit_cpu_s", "gc_cpu_s"):
        info[k] = stats.median([p[k] for p in passes])
    return m, info


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources (src/main/scala/graft) in this checkout")
    if not os.path.isdir(DATA):
        fail(f"no input tables in {DATA}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build, exist_ok=True)
    cp = ensure_build(build)
    data_digest = tree_digest([os.path.relpath(DATA, ROOT)])
    t_start = time.time()

    cpus = len(os.sched_getaffinity(0))
    passes = max(MIN_PASSES, round(a.seconds / WORKLOADS[a.workload]))
    run_id = f"{a.workload}_s{a.seed}_t{a.trace}_{int(time.time() * 1000)}"
    work = os.path.join(build, "work")
    tmp = os.path.join(build, "tmp", run_id)
    check_dir = os.path.join(build, "check", run_id)
    raw_file = os.path.join(build, "raw", run_id + ".json")
    for d in (work, tmp, check_dir, os.path.dirname(raw_file)):
        os.makedirs(d, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
              "--trace", str(a.trace), "--data", DATA, "--out", raw_file,
              "--check-dir", check_dir, "--cpus", str(cpus)])
    log = os.path.join(build, "raw", run_id + ".log")
    with open(log, "w") as out:
        rc = run_killable(cmd, DEADLINE_S - (time.time() - t_start) - 8, cwd=work,
                          env=dict(os.environ, SPARK_LOCAL_DIRS=tmp),
                          stdout=out, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(raw_file):
        fail(f"harness exited with {rc}, see {log}")
    with open(raw_file) as f:
        raw = json.load(f)

    names = []
    for p in raw["passes"]:
        for c in p["calls"]:
            if c["name"] not in names:
                names.append(c["name"])
    key = check.digest_key(SF, cpus)
    failures = check.check(ROOT, DATA, check_dir, names, key,
                           os.path.join(build, "oracle", data_digest[:16]))
    digests = key if check.committed(key) else f"none for {key}: no-oracle outputs checked non-empty"
    thrown = [(c["name"], c["error"]) for p in raw["passes"] for c in p["calls"] if c["error"]]
    attempted = sum(len(p["calls"]) for p in raw["passes"]) + len(names)
    failed = len(thrown) + len(failures)
    e2e, info = end_to_end(raw, attempted, failed)

    stamp = {
        "workload": a.workload, "seed": a.seed, "started": t_start,
        "run_seconds": a.seconds, "trace": a.trace,
        "passes": passes, "nproc": cpus, "cpus": cpus, "cpu_count": os.cpu_count(),
        "heap": HEAP,
        "heap_max_mb": raw["env"]["heap_max_mb"], "jdk": raw["env"]["java"],
        "spark": raw["env"]["spark"], "scala": raw["env"]["scala"],
        "session_conf": raw["env"]["session_conf"], "sf": SF, "data": data_digest,
        "consume": "noop", "warm_passes": raw["env"]["warm_passes"],
        "commit": commit(), "source": tree_digest(["src/main"]),
        "bench": tree_digest(["BENCHMARK.json", "perfbench"]),
    }
    info["digests"] = digests
    record = {"stamp": stamp, "end_to_end": e2e, "info": info,
              "failures": dict(failures, **{f"{n} (threw)": e for n, e in thrown}),
              "calls": {n: [round((c["end"] - c["start"]) / 1e3, 4) for p in raw["passes"]
                            for c in p["calls"] if c["name"] == n] for n in names}}
    if a.trace:
        layers, stray = stats.layer_metrics(raw["passes"], raw["trace"])
        traced = [(p["end"] - p["start"]) / 1e3 for p in raw["passes"] if p["traced"]]
        untraced = [(p["end"] - p["start"]) / 1e3 for p in raw["passes"] if not p["traced"]]
        per_layer = {k: stats.median([m[k] for m in layers]) for k in layers[0]}
        per_layer["trace.overhead_s"] = stats.median(traced) - stats.median(untraced)
        record["per_layer"] = per_layer
        record["info"]["stray_s"] = stray
        if stray > stats.STRAY_LIMIT_S:
            record["failures"]["trace"] = (
                f"{stray:.3f} s of traced plan/job time lies outside the call it "
                f"was billed to, or in no call")
            failed += 1
        record["spans"] = stats.spans(raw)
    os.makedirs(os.path.join(build, "results"), exist_ok=True)
    with open(os.path.join(build, "results", run_id + ".json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(check_dir, ignore_errors=True)

    specs = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = record["per_layer"] if a.trace else e2e
    metrics = {s["name"]: {"value": source[s["name"]], "unit": s["unit"]} for s in specs}
    for name, m in metrics.items():
        print(f"{a.workload} {name}: {m['value']:.6g} {m['unit']}")
    for name, why in record["failures"].items():
        print(f"{a.workload} FAILED {name}: {why}")
    print(json.dumps({"detail": {"stamp": stamp, "info": record["info"]}}))
    print(json.dumps({"correct": not record["failures"],
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
