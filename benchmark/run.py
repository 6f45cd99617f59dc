"""Run one benchmark workload with one seed and print its metrics.

    python3 benchmark/run.py --workload ga|tables --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds the program and the
benchmark driver (benchmark/build.py), runs the driver in one JVM, then
prints the workload's figures, the operations attempted and failed, the
output-check verdict and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones; a traced run also writes its span tree under the build directory
and, when an untraced result for the same workload and seed exists
there, prints the tracing overhead. Everything the run writes stays
under the build directory.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ga", "tables")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def bench_spec():
    return json.loads((build.ROOT / "BENCHMARK.json").read_text())


def host():
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg()[0]}


def run_jvm(classpath, args, work, log):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xmx3g",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}",
            "-cp", classpath, "graftbench.Main"] + args
    with open(log, "wb") as lg:
        p = subprocess.Popen(cmd, stdout=lg, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = bench_spec()
    classpath = build.build()
    bdir = build.build_dir()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = bdir / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = bdir / f"{tag}.log"
    out = work / "record.json"

    before = host()
    t0 = time.time()
    rc = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--cpus", str(before["nproc"]), "--work", str(work),
                             "--out", str(out)], work, log)
    after = host()
    if rc != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"benchmark JVM failed (exit {rc}); log: {log}")
    record = json.loads(out.read_text())
    records = bdir / "records"
    records.mkdir(exist_ok=True)
    shutil.move(str(out), records / f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)

    checks = record["checks"]
    failed_checks = [c for c in checks if not c["ok"]]
    correct = bool(checks) and not failed_checks
    e2e = metrics.end_to_end(record)
    raw = metrics.end_to_end(record, scaled=False)
    wall = time.time() - t0

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"nproc {before['nproc']}, load average {before['loadavg']:.2f} before, "
          f"{after['loadavg']:.2f} after, {wall:.1f} s wall")
    for name, value, unit, note in metrics.named_figures(record):
        print(f"  {name} = {value:.4f} {unit} ({note})")
    for k in ("primary_ms", "secondary_ms"):
        print(f"  raw {k} = {raw[k]:.4f} ms (before host scaling)")
    print(f"operations: {record['attempted']} attempted, {record['failed']} failed")
    for e in record["errors"][:5]:
        print(f"  failed: {e}")
    print(f"checks: {len(checks) - len(failed_checks)}/{len(checks)} passed")
    for c in failed_checks[:10]:
        print(f"  FAILED {c['name']}: {c['detail']}")

    results = bdir / "results"
    results.mkdir(exist_ok=True)
    if a.trace:
        layers = metrics.per_layer(record)
        trace_file = bdir / "traces" / f"{tag}.json"
        trace_file.parent.mkdir(exist_ok=True)
        trace_file.write_text(json.dumps({"host": {"before": before, "after": after},
                                          "end_to_end": e2e, "per_layer": layers,
                                          "spans": metrics.span_tree(record)}))
        print(f"spans: {trace_file}")
        untraced = results / f"{a.workload}-s{a.seed}-t0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            for k, v in e2e.items():
                if k in base and base[k]:
                    print(f"  tracing overhead {k}: {v - base[k]:+.4f} "
                          f"({(v - base[k]) / base[k] * 100:+.1f} %)")
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        reported = {n: layers[n] for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        reported = {n: e2e[n] for n, _ in names}
    for n, u in names:
        print(f"  {n} = {reported[n]} {u}")
    (results / f"{tag}.json").write_text(json.dumps(
        {"workload": a.workload, "seed": a.seed, "trace": a.trace,
         "host": {"before": before, "after": after}, "end_to_end": e2e,
         "raw": raw, "correct": correct, "attempted": record["attempted"],
         "failed": record["failed"]}))

    bad = [n for n, v in reported.items() if not isinstance(v, (int, float)) or math.isnan(v)]
    if bad:
        raise SystemExit(f"metrics not measured: {bad}")
    print(json.dumps({"correct": correct, "attempted": record["attempted"],
                      "failed": record["failed"],
                      "metrics": {n: {"value": reported[n], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
