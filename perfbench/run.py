#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine with the harness,
runs one workload, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload log_surface --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. The first run builds (sbt, offline)
into perfbench/target; later runs reuse the build while the sources are
unchanged. The last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``). Before it, the run prints each metric by
name and unit, the workload-specific figures, the environment record and
the name of every failed operation or check. The exit code is 0 only if
every operation succeeded and every output matched its reference.

Workloads (see BENCHMARK.json for why each exists):

- ``log_surface``: closed loop over a fixed, family-stratified sample of
  the log-transform, Functions, surface and schema queries, on a seeded
  events table; outputs are checked against the DuckDB oracle SQL.
- ``produce_consume``: open-loop produce path with two streaming consumers
  and a catch-up replay; outputs are checked against their batch twins
  inside the JVM.

End-to-end metrics are defined for every workload:

- ``setup_s``: JVM start until the first timed call: class loading,
  session creation, prefault and the workload's warmup (log_surface: the
  shared derivation and one query; produce_consume: writing the topic's
  seeded history and starting the window consumer over it). A run sets up
  once, cold; the medians of many runs are compared.
- ``wall_s``: one pass of the workload's timed work: the query sample
  (median pass) or the catch-up replay of the whole topic, seeded history
  included (mean of two, after one untimed warm-up replay).
- ``op_p50_s``: median latency of one operation from its due time: a query
  execution (closed loop: due at its start), or a produced batch until it
  is visible in the streaming consumer (open loop).

The run also prints, by name and unit but outside the gate, the figures
a run has too few samples or too much spread to bound: per-query and
per-batch 90th percentiles, publish and delivery latencies, catch-up
throughput, peak resident memory (``peak_rss_mb``) and ``failed_frac``.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import data  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"engine or harness sources missing: {r}")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build; return the runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp_path = os.path.join(target, "perfbench.stamp")
    cp_path = os.path.join(target, "perfbench.classpath")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as fh:
            if fh.read() == stamp:
                with open(cp_path) as fh:
                    return fh.read().strip()
    sbt_opts = ["-J-XX:-UsePerfData", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
                f"-Dsbt.global.base={os.path.join(HERE, '.sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("perfbench: building (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *sbt_opts,
                        "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        raise SystemExit("build printed no classpath")
    os.makedirs(target, exist_ok=True)
    with open(cp_path, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    return lines[-1]


def run_jvm(classpath, args, work, cores):
    """Run one workload in a fresh JVM; return its run record."""
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", os.path.join(work, "data"), "--work", work, "--out", out,
           "--cores", str(cores), "--queries", "all" if args.all_queries else "sample"]
    with open(os.path.join(work, "jvm.log"), "w") as errf:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=errf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = f"timeout after {JVM_TIMEOUT_S} s"
    if code != 0 or not os.path.exists(out):
        keep = os.path.join(HERE, ".runs")
        os.makedirs(keep, exist_ok=True)
        kept = os.path.join(keep, f"jvm-{args.workload}-{args.seed}-trace{args.trace}.log")
        shutil.copy(os.path.join(work, "jvm.log"), kept)
        with open(kept) as fh:
            causes = [l for l in fh if "Exception" in l or "Error" in l]
        sys.stderr.write("".join(causes[:20]))
        raise SystemExit(f"JVM run failed ({code}); log kept in {kept}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all-queries", action="store_true",
                    help="log_surface: time every registered query instead of the "
                         "sample (to check the sample against the whole set)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    classpath = build()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "log_surface":
            data.events(os.path.join(work, "data"), args.seed)
        rec = run_jvm(classpath, args, work, cores)
        failures = list(rec["failed_names"])
        attempted, failed = rec["attempted"], rec["failed"]
        if rec["check"]["results"]:
            checked = check.compare(os.path.join(work, "data"), rec["check"]["results"])
            attempted += len(checked)
            bad = [f"check {n}: {why}" for n, why in checked if why]
            failures += bad
            failed += len(bad)
        # the last run record (and spans) per workload and seed stay for inspection
        keep = os.path.join(HERE, ".runs")
        os.makedirs(keep, exist_ok=True)
        tag = f"{args.workload}-{args.seed}-trace{args.trace}"
        shutil.copy(os.path.join(work, "record.json"), os.path.join(keep, f"record-{tag}.json"))
        if args.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(keep, f"spans-{tag}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = rec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"run record lacks metrics: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    for name, v in metrics.items():
        print(f"metric {name} {v['value']} {v['unit']}")
    for name, (value, unit) in sorted(rec["printed"].items()):
        print(f"metric {name} {value} {unit}")
    print("env " + json.dumps(rec["env"], sort_keys=True))
    for f in failures:
        print(f"FAILED {f}")
    correct = failed == 0
    print(f"checked {attempted - rec['attempted']} outputs outside the JVM; "
          f"{failed} of {attempted} operations and checks failed")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
