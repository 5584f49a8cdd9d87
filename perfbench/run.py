#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation, run from the
root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): dataflow, index-lifecycle. The
command builds the program and the harness from source on first use (into
$CARGO_TARGET_DIR, default `.bench_build`), generates the inputs from the
seed, runs the workload in one Spark JVM on local[<cores>], checks every
output outside the timed region, prints each metric by name and unit, and
ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. A failed operation or a failed check makes the command
exit 1 after printing its result.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("dataflow", "index-lifecycle")
JVM_TIMEOUT_S = 170
# dataflow inputs: scale factor of the relational and event tables, and row
# counts of the documents and embeddings tables
DATAFLOW = (0.01, 800, 300)
# index-lifecycle: documents, vectors, segments, seconds between arrivals
LIFE = (400, 400, 3, 0.8)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", f"-Dperfbench.target={out}/sbt",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), stdout=fh,
                           stderr=subprocess.STDOUT, timeout=880)
    lines = open(log).read().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def generate(workload, seed, run_dir):
    import gen
    data = os.path.join(run_dir, "data")
    if workload == "index-lifecycle":
        gen.life(os.path.join(data, "life"), seed, *LIFE)
    else:
        gen.write(os.path.join(data, "main"), seed, *DATAFLOW)


def run_jvm(cp, args, run_dir):
    # a fixed heap: the run allocates far more than 2 GB, so every heap page
    # is touched and the peak RSS does not depend on when GC happened to run
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir}/tmp",
              "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace), run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload timed out after {JVM_TIMEOUT_S}s, see {run_dir}/jvm.log")
    if rc != 0:
        fail(f"JVM exited {rc}, see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (None where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests meanwhile: a
    run under high steal is slow for reasons outside the program."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def tail(values):
    """Highest percentile with at least 10 samples beyond it: the value
    with exactly 10 larger samples. Returns (value, percentile, n). Below
    21 samples that percentile is not above the median, so the tail is
    the maximum (percentile 100)."""
    s, n = sorted(values), len(values)
    if n < 21:
        return s[-1], 100, n
    return s[n - 11], math.floor(100 * (n - 10) / n), n


def end_to_end(res, workload):
    lat = [o["lat_s"] for o in res["ops"]]
    t, pct, n = tail(lat)
    m = {
        "setup_s": (res["setup_s"], "s", ""),
        "wall_s": (statistics.median(res["passes"]), "s",
                   f"median of {len(res['passes'])} pass(es)"),
        "latency_p50_s": (statistics.median(lat), "s", f"{n} operations"),
        "latency_tail_s": (t, "s", f"p{pct} of {n} operations"),
    }
    if workload == "index-lifecycle":
        f = res["freshness_s"]
        ft, fpct, fn = tail(f)
        late = res["generator_late_s"]
        m["freshness_p50_s"] = (statistics.median(f), "s", f"{fn} (stream, segment) pairs; "
                                f"generator late by max {max(late):.4f} s")
        m["freshness_tail_s"] = (ft, "s", f"p{fpct} of {fn} (stream, segment) pairs")
        m["stored_bytes_ratio"] = (res["stored_bytes"] / res["user_bytes"], "ratio",
                                   f"{res['stored_bytes']} B on disk / "
                                   f"{res['user_bytes']} B of user rows")
    m["rss_peak_mb"] = (res["rss_peak_mb"], "MB", "JVM VmHWM")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of a checkout: the program's source "
             "(src/main/scala/graft) is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    cp = build(root)

    # each run gets its own inputs, warehouse and temp directory
    run_dir = os.path.abspath(os.path.join(".bench_run", args.workload))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    generate(args.workload, args.seed, run_dir)
    cpu0 = cpu_times()
    res = run_jvm(cp, args, run_dir)
    steal = steal_share(cpu0, cpu_times())

    import check
    failed_checks = check.run_checks(res["checks"], os.path.join(run_dir, "data", "main"))
    # every failed operation or stream, in any phase, left one error
    attempted = res["attempted"]
    failed = len(res["errors"]) + len(failed_checks)
    for e in res["errors"]:
        print(f"error: {e}")
    for name, reason in sorted(failed_checks.items()):
        print(f"check FAILED {name}: {reason}")
    print(f"{args.workload}: {len(res['checks']) - len(failed_checks)}/"
          f"{len(res['checks'])} output checks pass; order/script from seed {args.seed}")

    e2e = end_to_end(res, args.workload)
    e2e["error_rate"] = (failed / attempted, "ratio", f"{failed} of {attempted}")
    for name, (v, unit, note) in e2e.items():
        print(f"metric {name} = {v:.6g} {unit}" + (f"  ({note})" if note else ""))
    if steal is not None:
        print(f"host CPU steal during the run: {steal:.1%}")
    if args.trace:
        layers = res["layers"]
        for name, v in layers.items():
            print(f"layer {name} = {v}")
        print("where the wall time goes (traced pass; speed-up = 1-core wall / "
              f"{os.cpu_count()}-core wall):")
        print(f"  {'group':<11}{'ops':>5}{'jobs':>6}{'busy_share':>12}"
              f"{'s_per_job':>11}{'driver_gap_s':>14}{'speedup':>9}")
        for g, m in res["groups"].items():
            print(f"  {g:<11}{m.get('ops', ''):>5}{m['spark.jobs']:>6}"
                  f"{m['spark.busy_share']:>12.3f}{m['spark.s_per_job']:>11.3f}"
                  f"{m['spark.driver_gap_s']:>14.3f}{m['spark.parallel_speedup']:>9.3f}")
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(res.get("spans", []), fh)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in declared["end_to_end"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
