#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. Builds graft and the harness from
source (perfbench/build.py), generates the seeded inputs (perfbench/gen.py)
before any timing, runs the workload in one JVM (graft.perfbench.Runner),
prints every metric by name with its unit, the output checks and the known-
defect probe, and writes the stamped result (and, traced, the spans) under
.bench_out/. The last stdout line is the JSON summary
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
# Seconds allowed on top of --seconds for input generation, JVM start,
# set-up, the first iteration, output checks and the defect probe.
OVERHEAD_S = 150
WORKLOADS = ("etl_export", "corpus_curate", "registry_fixed")
ITEMS = {"etl_export": "features written",
         "corpus_curate": "documents and vectors curated",
         "registry_fixed": "registry rows answered"}
# Fixed heap and young generation, so peak RSS does not depend on when G1
# decides to grow the heap.
HEAP = "2g"
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fs_type(path):
    """Filesystem type of the mount holding `path` (disk vs tmpfs)."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                mnt, typ = line.split()[1:3]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, kind = mnt, typ
    except OSError:
        pass
    return kind


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, work, args, log_path, deadline):
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
              "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, jars]), "graft.perfbench.Runner"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def end_to_end(res):
    steady = [s for s in res["steady"] if not s["traced"] and s["failed"] == 0]
    if not steady:
        raise SystemExit("no steady iteration completed without a failed operation")
    in_b = sum(s["in_bytes"] for s in steady)
    return {
        "setup_s": res["setup_s"],
        "first_iter_s": res["first"]["wall_s"],
        "iter_s_p50": statistics.median(s["wall_s"] for s in steady),
        "throughput_per_s": statistics.median(s["items"] / s["wall_s"] for s in steady),
        "cpu_s_p50": statistics.median(s["cpu_s"] for s in steady),
        "peak_rss_mb": res["peak_rss_mb"],
        "out_bytes_per_in_byte": sum(s["out_bytes"] for s in steady) / in_b if in_b else 0.0,
    }, len(steady)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    classes = build.build(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    t_built = time.time()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        gen.main(a.workload, a.seed, os.path.join(work, "input"))
        spec_path = os.path.join(work, "input", "spec.json")
        with open(spec_path) as fh:
            spec = json.load(fh)
        result_path = os.path.join(work, "result.json")
        log_path = os.path.join(out_dir, f"{tag}.log")
        rc = run_jvm(classes, work, [
            "--workload", a.workload, "--spec", spec_path, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", result_path],
            log_path, deadline=t_built + a.seconds + OVERHEAD_S)
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc}); log at {log_path}")
        with open(result_path) as fh:
            res = json.load(fh)
        if a.trace:
            shutil.copyfile(os.path.join(work, "spans.jsonl"),
                            os.path.join(out_dir, f"{tag}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)

    cpus = int(res["env"]["cpus"])
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "scale": f"{spec['base_scale']}x{spec['copies']}",
        "driver_heap": HEAP, "spark": res["env"]["spark"], "jdk": res["env"]["jdk"],
        "git_commit": git_commit(), "source_sha256": build.digest(build.sources()),
        "output_location": {"path": ".bench_work", "fs": fs_type(work_root)},
        "host": platform.node(), "python": platform.python_version(),
    }
    checks = res["checks"]
    correct = bool(checks) and all(c["ok"] for c in checks)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    d = res["defect"]
    artifact = {"stamp": stamp, "attempted": attempted, "failed": failed,
                "fail_ratio": failed / attempted, "failures": res["failures"],
                "checks": checks, "defect": d, "raw": res}

    def save():
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
            json.dump(artifact, fh, indent=1)

    save()
    print(f"# {tag}: scale {stamp['scale']}, {cpus} cpus, heap {HEAP}, "
          f"spark {stamp['spark']}, jdk {stamp['jdk']}, outputs on {stamp['output_location']['fs']}")
    print(f"# build+generate {t_built - t_start:.1f} s; items = {ITEMS[a.workload]}")
    print(f"fail_ratio = {failed / attempted:.6g} ratio ({failed}/{attempted} operations)")
    for f in res["failures"]:
        print(f"failure: iter {f['iteration']} {f['op']}: {f['class']}: {f['message']}")
    bad = [c for c in checks if not c["ok"]]
    print(f"checks: {len(checks) - len(bad)}/{len(checks)} passed")
    for c in bad:
        print(f"check FAILED {c['name']}: {c['detail']}")
    print(f"{d['name']}: {'present' if d['present'] else 'absent'}; TIMESTAMP_NTZ fails "
          f"{len(d['ntz_failing_formats'])}/5 geo formats {d['ntz_failing_formats']}; "
          f"GeoParquet TIMESTAMP truncated to ms: {d['timestamp_truncated_to_ms']}")

    if a.trace:
        values, declared = res["layers"], bench["per_layer"]
        print(f"trace.overhead_ms = {values['trace.overhead_ms']:.1f} ms (traced "
              f"{values['trace.traced_iter_ms']:.1f} ms vs untraced "
              f"{values['trace.untraced_iter_ms']:.1f} ms median iteration)")
    else:
        values, n = end_to_end(res)
        declared = bench["end_to_end"]
        print(f"# steady iterations: {n}")
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    artifact["metrics"] = metrics
    save()
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
