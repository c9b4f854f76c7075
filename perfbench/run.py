#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cdc_pipeline --seed 1 --seconds 20 --trace 0

Builds the program and the harness if needed (perfbench/build.py), runs the
workload in one JVM (perfbench.Main), prints every metric by name and unit,
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones, and writes the run's spans under
<build dir>/trace/. Exits non-zero, without a result line, when the build,
the run or an output check fails.
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

sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
# a run must end within 180 s; leave room for start-up and clean-up
DEADLINE_S = 170
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric_specs():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["end_to_end"], spec["per_layer"], [w["name"] for w in spec["workloads"]]


def run_jvm(classes: Path, args, work: Path, spans: Path, deadline: float) -> dict:
    jars = build.spark_jars()
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    # a fixed heap: growing it is JVM policy, not the program's memory use;
    # no perf-data file, which the JVM would write under /tmp
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{jars / '*'}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work / "data"), "--spans", str(spans),
    ]
    log = work / "jvm.log"
    with open(log, "wb") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(log.read_text(errors="replace")[-4000:])
            raise SystemExit("perfbench: the run did not finish in time")
        except BaseException:
            # interrupted or terminated: take the JVM down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    report = None
    for line in out.decode(errors="replace").splitlines():
        if line.startswith("PERFBENCH "):
            report = json.loads(line[len("PERFBENCH "):])
    if proc.returncode != 0 or report is None:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: the JVM exited with {proc.returncode} and no report")
    return report


def main() -> int:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    e2e_specs, layer_specs, workloads = metric_specs()
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload}; one of {workloads}")
    classes = build.build()

    out_dir = build.build_dir()
    work = out_dir / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    spans = out_dir / "trace" / f"{args.workload}-seed{args.seed}.spans.jsonl"
    shutil.rmtree(work, ignore_errors=True)
    try:
        report = run_jvm(classes, args, work, spans, deadline)
    finally:
        logs = out_dir / "logs"
        logs.mkdir(parents=True, exist_ok=True)
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", logs / f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
        shutil.rmtree(work, ignore_errors=True)

    for f in report["failures"]:
        print(f"check failed: {f}", file=sys.stderr)
    if not report["correct"]:
        raise SystemExit("perfbench: output checks failed")

    e2e = report["e2e"]
    print(f"{args.workload} seed {args.seed}: {e2e['samples']:.0f} measured batches, "
          f"{report['attempted']} attempted; batch_tail_ms is p{e2e['tail_pct']:g} "
          f"with {e2e['beyond_tail']:.0f} batches beyond it")
    print(f"  failed_ratio = {e2e['failed_ratio']:g} ratio "
          f"({report['failed']} of {report['attempted']} batches)")
    if args.trace == 0:
        specs, values = e2e_specs, e2e
    else:
        specs, values = layer_specs, report["layers"]
        print(f"  spans written to {os.path.relpath(spans, ROOT)}")
    metrics = {}
    for s in specs:
        v = values[s["name"]]
        metrics[s["name"]] = {"value": v, "unit": s["unit"]}
        print(f"  {s['name']} = {v:.6g} {s['unit']}")
    print(json.dumps({"correct": True, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
