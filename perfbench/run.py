#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, one seed.

    python3 perfbench/run.py --workload <daemon_day|suite>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
benchmark into .bench_build/; later runs reuse that build while the
sources are unchanged. The daemon's probe events are generated from
--seed inside the run's own directory, which is removed at the end; the
suite reads the project's sf0.01 test tables in perfbench/data/sf0.01 and
the seed shuffles its query order. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("daemon_day", "suite")
# The suite's input: the test tables the oracle gate runs on (sf0.01).
SUITE_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
HEAP = "3g"
JVM_SECONDS = 150  # the whole run must end within 180 s

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

ERROR_LINE = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} ERROR ")


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, args, run_dir, cores, data_dir, log_path):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--data", data_dir, "--out", run_dir])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM did not finish within {JVM_SECONDS} s; see {log_path}")
    if code != 0:
        raise SystemExit(f"perfbench: JVM exited with {code}; see {log_path}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def count_errors(log_path):
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if ERROR_LINE.match(line))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build_dir = os.path.join(root, ".bench_build")
    classes = build.ensure_built(root, build_dir)
    cores = nproc()
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(logs, tag + ".log")
    t0 = time.time()
    try:
        data_dir = SUITE_DATA if args.workload == "suite" else ""
        res = run_jvm(classes, args, run_dir, cores, data_dir, log_path)
        t_jvm = time.time()

        ops = res["ops"]
        attempted = len(ops)
        failed_ops = sum(1 for o in ops if not o["ok"])
        mismatches = list(res["mismatches"])
        if args.workload == "daemon_day":
            attempted += res["extra"]["days"]  # one E3 per day
            mismatches += oracle.check_daemon(res["extra"]["check_dir"],
                                              res["extra"]["alert_threshold"], cores)
            failed = failed_ops + len(mismatches)
        else:
            names = res["extra"]["queries"]
            attempted += len(names)  # the untimed pass
            bad = {m.split(": ", 1)[0] for m in mismatches}
            wrong = oracle.check_suite(data_dir, run_dir, names, cores)
            mismatches += [f"{k}: {v}" for k, v in sorted(wrong.items())]
            bad |= set(wrong)
            failed = len(bad) + sum(1 for o in ops if not o["ok"] or o["name"] in bad)
        failed = min(failed, attempted)
        print(f"perfbench: jvm {t_jvm - t0:.1f} s, check {time.time() - t_jvm:.1f} s",
              file=sys.stderr)
        errors = count_errors(log_path)
        shutil.copy(os.path.join(run_dir, "result.json"), os.path.join(logs, tag + ".result.json"))
        if args.trace:
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(logs, tag + ".trace.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, extra, layers = res["e2e"], res["extra"], res["layers"]
    layers["spark.error_logs"] = errors
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    unknown = sorted(set(layers) - set(declared))
    if unknown:
        raise SystemExit(f"perfbench: per-layer metrics missing from BENCHMARK.json: {unknown}")
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={extra['nproc']} heap_max={extra['heap_max_mb']:.0f}MB "
          f"spark={extra['spark_version']} jdk={extra['jdk_version']} master={extra['master']}")
    for m in spec["end_to_end"]:
        print(f"  {m['name']:18s} {e2e[m['name']]:12.4f} {m['unit']}")
    print(f"  {'jit_cpu_s':18s} {extra['jit_cpu_s']:12.4f} s (JIT compiler threads, part of cpu_s)")
    print(f"  {'error_rate':18s} {failed / attempted:12.4f} ratio ({failed} of {attempted} ops)")
    print(f"  {'op_tail_s':18s} {e2e['op_tail_s']:12.4f} s (p{extra['op_tail_percentile']:.1f} "
          f"of {extra['op_samples']} ops)")
    for name in ("ingest_batch_s", "finalize_s", "alert_latency_s"):
        if name in extra:
            print(f"  {name:18s} {extra[name]:12.4f} s")
    if "rollup_s_by_cycle" in extra:
        print("  rollup s by cycle: " + " ".join(f"{x:.2f}" for x in extra["rollup_s_by_cycle"]))
    print(f"  spark ERROR log lines: {errors}")
    for m in mismatches:
        print(f"  WRONG {m}")
    if args.trace:
        # a layer this workload does not call reads 0
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in declared.items()}
        for k, v in metrics.items():
            print(f"  {k:28s} {v['value']:14.4f} {v['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
