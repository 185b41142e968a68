#!/usr/bin/env python3
"""The repository's benchmark of record.

Usage (from the repository root):
  python3 perfbench/run.py --workload hep_scan|booked_fanout \
      --seed N --seconds S --trace 0|1

Builds the program and the harness (perfbench/build.py), runs one JVM that
generates the workload's inputs from the seed and times its units of work
(perfbench/src/perfbench/Main.scala), checks every answer, and prints as the
last line of stdout one JSON object: `correct`, `attempted`, `failed` and the
metrics, end-to-end ones with --trace 0 and per-layer ones with --trace 1.
A per-run report (medians with sample counts, load, settings) and, for
traced runs, the trace artifact are kept under .bench_out/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["hep_scan", "booked_fanout"]
JVM_TIMEOUT_S = 170
XMX = "3g"
ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def loadavg():
    return os.getloadavg()[0]


def cpu_times():
    """The machine's cumulative CPU times (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before, after):
    """Share of the machine's CPU time stolen by its hypervisor between two
    `cpu_times()` readings (field 8 of /proc/stat's cpu line)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def metric_units(root, kind):
    """{name: unit} of the `end_to_end` or `per_layer` metrics BENCHMARK.json
    declares."""
    bench = json.loads((root / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[kind]}


def run_jvm(classes, args, run_dir, cores):
    jars = build.spark_jars()
    cmd = ["java", f"-Xmx{XMX}", f"-XX:ActiveProcessorCount={cores}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run", str(run_dir), "--data", str(HERE / "data"), "--cores", str(cores)]
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: the JVM never outlives this process
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not (run_dir / "raw.json").exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail + "\n")
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    return json.loads((run_dir / "raw.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    classes = build.build(root)
    cores = len(os.sched_getaffinity(0))
    run_dir = root / ".bench_run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    load_before, cpu_before, t0 = loadavg(), cpu_times(), time.time()
    try:
        raw = run_jvm(classes, args, run_dir, cores)
        attempted, failed = raw["attempted"], raw["failed"]
        failures = list(raw["failures"])
        if raw.get("oracle_sql"):
            import oracle
            for gate, diff in oracle.check(raw["oracle_data"], run_dir / "oracle_out",
                                           raw["oracle_sql"], cores).items():
                attempted += 1
                if diff:
                    failed += 1
                    failures.append(f"{gate}: {diff}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            (root / ".bench_run").rmdir()  # unless another run is using it
        except OSError:
            pass

    metrics = stats.per_layer(raw) if args.trace else stats.end_to_end(raw)
    units = metric_units(root, "per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        raise SystemExit("perfbench: metrics differ from BENCHMARK.json: "
                         f"unnamed {sorted(set(metrics) - set(units))}, "
                         f"missing {sorted(set(units) - set(metrics))}")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "xmx": XMX,
        "xmx_mb_seen_by_jvm": raw["xmx_mb"], "spark_conf": raw["conf"],
        "loadavg_1m": {"before": load_before, "after": loadavg()},
        "cpu_steal_share": steal_share(cpu_before, cpu_times()),
        "wall_s": time.time() - t0, "measure_s": raw["measure_s"],
        "setup": raw["setup"], "reference_s": raw.get("reference_s"),
        "samples": {k: dict(stats.summary(v), values=v) for k, v in raw["samples"].items()},
        "attempted": attempted, "failed": failed,
        "failed_ratio": stats.failed_ratio(failed, attempted),
        "failures": failures, "metrics": metrics,
    }
    out = root / ".bench_out"
    out.mkdir(exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (out / f"report-{tag}.json").write_text(json.dumps(report, indent=1))
    if args.trace:
        spans = raw["trace"]["spans"]
        (out / f"trace-{tag}.json").write_text(json.dumps({
            "spans": spans,
            "self_s_by_layer": {layer: metrics[m] for layer, m in stats.SELF_METRIC.items()},
            "tracing_overhead_s": metrics["trace.overhead_s"],
            "counters": {k: v for k, v in metrics.items()
                         if k not in stats.SELF_METRIC.values()},
            "operators": stats.operator_records(raw),
        }))
    for f in failures[:10]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
