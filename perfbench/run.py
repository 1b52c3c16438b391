#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness with sbt when their sources changed
(into .bench_build/ and the sbt target directories), then launches the
measured JVM directly on the compiled classpath with the engine build's JVM
flags, so that set-up time does not include sbt. Prints a readable report,
then one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero without a result when the checkout holds no
engine to build, when the build fails, or when the run fails or overruns.
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
WORKLOADS = ("kiln_reference", "graph_iterative")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of the paths, sizes and mtimes of everything the build reads."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    for t in tops:
        p = os.path.join(root, t)
        if os.path.exists(p):
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    for d in ["src/main", "perfbench/src/main"]:
        for dp, dns, fns in os.walk(os.path.join(root, d)):
            dns.sort()
            for f in sorted(fns):
                p = os.path.join(dp, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def heap_size():
    """JVM heap for the measured run: half the machine's memory, 2g-4g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build(root, bench_dir):
    """Compile engine + harness if needed; return (classpath, jvm flags)."""
    launch = os.path.join(bench_dir, "launch.txt")
    stamp_file = os.path.join(bench_dir, "stamp.txt")
    stamp = source_stamp(root) + ":" + heap_size()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return read_launch(launch)
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_DRIVER_MEM"] = heap_size()
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx3g",
        env.get("SBT_OPTS", "")]).strip()
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repo_cfg):
        env["SBT_OPTS"] += f" -Dsbt.repository.config={repo_cfg}"
    t0 = time.time()
    print(f"perfbench: building engine and harness with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                           cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed (exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: build took {time.time() - t0:.1f} s", file=sys.stderr)
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    return lines[0], lines[1:]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def report(doc, metrics):
    """The human-readable part of a run's output."""
    out = [f"workload {doc['workload']}  seed {doc['seed']}  trace {int(doc['trace'])}  "
           f"cores {doc['cores']}  loadavg {doc['loadavg_start']:.2f} -> {doc['loadavg_end']:.2f}",
           f"setup {doc['end_to_end']['setup_s']:.3f} s; operations {doc['ops_s']:.1f} s"
           + (", more than --seconds" if doc["over_seconds"] else "")]
    for op in doc["ops"]:
        out.append(f"op {op['k']}{' traced' if op['traced'] else ''}: {op['seconds']:.3f} s "
                   f"({len(op['steps'])} steps, {op['wall_s']:.3f} s with checks, gc {op['gc_s']:.3f} s, "
                   f"codegen {op['codegen_classes']} classes / {op['codegen_s']:.3f} s)")
    out.append(f"JVM wall {doc['jvm_wall_s']:.1f} s; latency quantiles over "
               f"{doc['latency_samples']} samples")
    out.append(f"check: attempted {doc['attempted']}, failed {doc['failed']}, "
               f"fail_frac {doc['end_to_end']['fail_frac']:.4f}")
    for f in doc["failures"]:
        out.append("  FAILED " + f)
    for name, m in metrics.items():
        out.append(f"{name:34s} {m['value']:.6g} {m['unit']}")
    extra = {k: v for k, v in doc["per_layer"].items() if k not in metrics}
    for name in sorted(extra):
        out.append(f"{name:34s} {extra[name]:.6g}")
    return "\n".join(out)


# the reference's preprocessing profile (BASELINE.md, 15 cores, pandas),
# grouped onto the kiln pipeline's stages: (row, reference seconds, metric)
KILN_STAGES = [
    ("data_loading", 0.23, "sources.csv_load_s"),
    ("time_series_alignment", 0.22, "pipeline.align_s"),
    ("features: imputation, lags, rolling, differentials, anomalies, ratios", 33.34,
     "pipeline.features_s"),
    ("accretion_indicators", 0.23, "pipeline.risk_s"),
    ("target_variables", 0.35, "pipeline.label_s"),
    ("dimension_reduction", 0.16, "pipeline.wide_s"),
]
KILN_REFERENCE_TOTAL_S = 34.63


def kiln_profile(doc):
    """The kiln stage profile in the shape of the reference's
    performance_metrics.json, and a table of it beside the reference."""
    layer = doc["per_layer"]
    stages = {name: {"duration_seconds": layer[m], "reference_seconds": ref}
              for name, ref, m in KILN_STAGES}
    total = sum(s["duration_seconds"] for s in stages.values())
    prof = {"total_time_seconds": total, "reference_total_time_seconds": KILN_REFERENCE_TOTAL_S,
            "n_cores": doc["cores"], "peak_memory_gb": doc["end_to_end"]["peak_rss_mb"] / 1024,
            "stages": stages}
    rows = [f"{'kiln stage':72s} {'this run':>9s} {'reference':>9s}"]
    rows += [f"{name:72s} {s['duration_seconds']:9.3f} {s['reference_seconds']:9.2f}"
             for name, s in stages.items()]
    rows.append(f"{'total':72s} {total:9.3f} {KILN_REFERENCE_TOTAL_S:9.2f}")
    return prof, "\n".join(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ["BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the root of a checkout of the engine")
    bench_dir = os.path.join(root, ".bench_build")
    os.makedirs(bench_dir, exist_ok=True)
    cp, flags = build(root, bench_dir)

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = os.path.join(bench_dir, "runs", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    n = cores()
    cmd = (["java"] + flags + [f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(n),
           "--bench", HERE, "--python", sys.executable, "--work", work, "--out", out])
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(signum, frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"measured JVM failed (exit {rc})")
    with open(out) as f:
        doc = json.load(f)

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = doc["per_layer"] if args.trace else doc["end_to_end"]
    metrics = {m["name"]: {"value": source.get(m["name"]), "unit": m["unit"]} for m in want}
    if any(m["value"] is None for m in metrics.values()):
        shutil.rmtree(work, ignore_errors=True)
        fail("a metric has no value: " + ", ".join(k for k, m in metrics.items() if m["value"] is None))
    print(report(doc, metrics))
    if args.trace and args.workload == "kiln_reference":
        prof, table = kiln_profile(doc)
        print(table)
        with open(os.path.join(work, "performance_metrics.json"), "w") as f:
            json.dump(prof, f, indent=2)

    # keep the last result and trace of each workload; drop the inputs
    keep = os.path.join(bench_dir, "last", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ["result.json", "trace.json", "performance_metrics.json"]:
        if os.path.exists(os.path.join(work, f)):
            shutil.move(os.path.join(work, f), os.path.join(keep, f))
    shutil.rmtree(work, ignore_errors=True)
    print(f"result and trace kept in {os.path.relpath(keep, root)}")

    print(json.dumps({"correct": doc["failed"] == 0, "attempted": doc["attempted"],
                      "failed": doc["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
