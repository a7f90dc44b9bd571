#!/usr/bin/env python3
"""bm25spark benchmark: one seeded, closed-loop workload per run.

Run from the repository root:

    python3 perfbench/run.py --workload <serve|churn> --seed <n> \
        --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the benchmark with sbt
(perfbench/build.sbt) and records a JVM class-data-sharing archive with a
short training run; later runs reuse both while the sources are unchanged. Each run starts one JVM in local[nproc] with a fresh
java.io.tmpdir under perfbench/work/, deleted when the run ends. The JVM
writes every sample, output check, span and the host state to a raw JSON
file, kept under perfbench/raw/. This script prints a summary line, then as
the last line of stdout the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. A traced run first runs the
same seed untraced and reports trace.overhead.<metric> as traced minus
untraced for every end-to-end metric.
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
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.json")
STAMP = os.path.join(TARGET, "sources.sha256")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
HEAP = "3g"
RUN_LIMIT_S = 170


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None):
    """Runs a child in its own process group, its output on stderr; kills
    the group and waits for it on timeout or interruption."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                            env=env, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:  # resolve from the local caches only
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                     cwd=HERE, timeout=850, env=env)
    if code != 0:
        raise RuntimeError(f"sbt build failed with exit code {code}")
    # A class-data-sharing archive of the classes a run loads, recorded by a
    # short training run, so measured JVMs do not parse ~15k classes anew.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        run_jvm("churn", 0, 1, 1, time.monotonic() + 600,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], keep_raw=False)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        log(f"running without a class-data-sharing archive: {e}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def read_classpath(classpath):
    """Reads every classpath jar once, so a run's class loading is served
    from the OS page cache even when the disk cache went cold between runs."""
    for jar in classpath:
        if os.path.isfile(jar):
            with open(jar, "rb") as fh:
                while fh.read(1 << 20):
                    pass


def cpu_times():
    """(steal, total) CPU jiffies of the host, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def run_jvm(workload, seed, seconds, trace, deadline, cds=None, keep_raw=True):
    """One benchmark JVM; returns its raw record."""
    with open(LAUNCH) as fh:
        launch = json.load(fh)
    read_classpath(launch["classpath"])
    if cds is None:
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    tag = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(HERE, "work", tag)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    raw_file = os.path.join(work, "raw.json")
    cmd = (["java"] + launch["jvm_options"] + cds +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            # no full collections for metaspace growth while Spark loads
            "-XX:MetaspaceSize=512m",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(launch["classpath"]),
            "graft.perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", tmp, "--raw", raw_file])
    try:
        # Spark's scratch space stays inside the run directory too
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        before = cpu_times()
        code = run_child(cmd, cwd=work, timeout=max(1.0, deadline - time.monotonic()), env=env)
        if not os.path.exists(raw_file):
            raise RuntimeError(f"benchmark JVM exited with code {code} and no raw output")
        with open(raw_file) as fh:
            raw = json.load(fh)
        after = cpu_times()
        if before and after and after[1] > before[1]:
            # share of CPU time the hypervisor gave to other guests
            raw["host"]["steal_share"] = (after[0] - before[0]) / (after[1] - before[1])
        if keep_raw:
            keep = os.path.join(HERE, "raw")
            os.makedirs(keep, exist_ok=True)
            stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
            with open(os.path.join(keep, f"{stamp}-{tag}.json"), "w") as fh:
                json.dump(raw, fh)
        if code != 0:
            raise RuntimeError(f"benchmark JVM exited with code {code}")
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no bm25spark sources under {ROOT}; run from a full checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {args.workload}")
        return 2

    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    runs = []
    if args.trace:
        runs.append(run_jvm(args.workload, args.seed, args.seconds, 0, deadline))
    runs.append(run_jvm(args.workload, args.seed, args.seconds, args.trace, deadline))
    last = runs[-1]

    metrics = {}
    if args.trace:
        untraced = runs[0]["end_to_end"]
        for m in spec["end_to_end"]:
            last["per_layer"][f"trace.overhead.{m['name']}"] = \
                last["end_to_end"][m["name"]] - untraced[m["name"]]
        wanted = spec["per_layer"]
        values = last["per_layer"]
    else:
        wanted = spec["end_to_end"]
        values = last["end_to_end"]
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            raise RuntimeError(f"the run did not measure {m['name']}")
        metrics[m["name"]] = metric(v, m["unit"])

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    for r in runs:
        for c in r["checks"]:
            if not c["ok"]:
                log(f"check failed: {c['name']}: {c['detail']}")
    summary = dict(last["summary"])
    summary["setup_s"] = {"value": last["end_to_end"]["setup_s"], "unit": "s", "n": 1}
    summary["error_rate"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "summary": summary,
                      "host": last["host"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed run prints no result line
        log(f"error: {e}")
        sys.exit(1)
