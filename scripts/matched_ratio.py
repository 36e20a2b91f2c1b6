#!/usr/bin/env python3
"""ONE-SESSION gate-ratio receipt (round 18, judge brief #2).

The sf0.1 gate is a RATIO — engine suite wall over DuckDB oracle wall —
but through round 17 its numerator and denominator were measured in
different sessions on a box whose effective parallel throughput drifts
up to 4x between sessions (judge-measured: quiet-labeled pooled walls of
44.2/95.2/143.1/186.8 s at ONE HEAD). A ratio of two numbers taken
hours apart on that box is a function of hypervisor weather, not the
engine. This script measures BOTH sides back-to-back in one quiet
window and writes a single receipt:

  {engine: {suite_wall, cpu_s, cores, ...},
   oracle: {stripped_min, kept_min, ...},
   ratio_stripped, ratio_kept, timestamps}

The engine side is the pooled bench (the declared default execution
model); the oracle side is scripts/oracle_wall.py's pinned protocol
(fresh connection per pass, 3 passes, min pass wall). The
stripped-both-sides pairing (engine strips its terminal Verify sorts,
the oracle strips its presentation-only terminal ORDER BYs) is the
honest one; the kept pairing rides along for auditability. The bench's
cpu_s (process CPU-seconds of its min-wall pass) and cores land in the
receipt beside the suite wall: a starved window shows as a wall that
grew while cpu_s did not.

Usage:
  python3 scripts/matched_ratio.py <sfDir> <oracle_sql.json> <out.json>
e.g.
  python3 scripts/matched_ratio.py /root/testdata/sf0.1 \
      /tmp/verify_out/oracle_sql.json receipts/matched_ratio_r18.json
"""
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle_wall  # noqa: E402  (the pinned denominator protocol)


def run_engine_bench(sf_dir):
    """Pooled bench at the committed defaults; returns the parsed stdout
    line (the same artifact shape the driver records)."""
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "runMain graft.Bench"],
        capture_output=True, text=True, timeout=3600, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    t1 = time.time()
    line = None
    for ln in proc.stdout.splitlines():
        ln = ln.strip()
        if ln.startswith('{"metric"'):
            line = ln
    if line is None:
        print(proc.stdout[-2000:], file=sys.stderr)
        raise SystemExit("matched_ratio: no bench line in sbt stdout")
    parsed = json.loads(line)
    parsed["_started"] = round(t0, 1)
    parsed["_finished"] = round(t1, 1)
    return parsed


def main(sf_dir, oracle_path, out_path):
    with open(oracle_path) as f:
        oracles = json.load(f)
    stripped = {}
    n_unstrippable = 0
    for name, sql in oracles.items():
        s, status = oracle_wall.strip_terminal_order_by(sql)
        stripped[name] = s
        if status == "retained":
            n_unstrippable += 1

    print("matched_ratio: engine pooled bench ...", file=sys.stderr)
    engine = run_engine_bench(sf_dir)

    print("matched_ratio: oracle wall (stripped) ...", file=sys.stderr)
    t0 = time.time()
    oracle_stripped = oracle_wall.measure(sf_dir, stripped, passes=3)
    print("matched_ratio: oracle wall (kept) ...", file=sys.stderr)
    oracle_kept = oracle_wall.measure(sf_dir, oracles, passes=3)
    t1 = time.time()

    suite_wall = engine.get("value")
    receipt = {
        "protocol": "scripts/matched_ratio.py: engine pooled bench then "
                    "oracle_wall.py passes back-to-back in one session; "
                    "ratio = engine suite wall / min oracle pass wall",
        "sf_dir": sf_dir,
        "engine": {
            "suite_wall": suite_wall,
            "headline": engine.get("headline"),
            "parallel": engine.get("parallel"),
            "qsum": engine.get("qsum"),
            "cpu_s": engine.get("cpu_s"),
            "cores": engine.get("cores"),
            "warm_errors": engine.get("warm_errors"),
            "sort": engine.get("sort"),
            "started": engine.get("_started"),
            "finished": engine.get("_finished"),
        },
        "oracle": {
            "stripped_min": oracle_stripped["min_wall"],
            "stripped_walls": oracle_stripped["suite_walls"],
            "kept_min": oracle_kept["min_wall"],
            "kept_walls": oracle_kept["suite_walls"],
            "n_errors": len(oracle_stripped["errors"]) + len(oracle_kept["errors"]),
            "n_unstrippable": n_unstrippable,
            "started": round(t0, 1),
            "finished": round(t1, 1),
        },
        "ratio_stripped": round(suite_wall / oracle_stripped["min_wall"], 3),
        "ratio_kept": round(suite_wall / oracle_kept["min_wall"], 3),
    }
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(receipt, f, indent=1)
    print(json.dumps({
        "suite_wall": suite_wall,
        "oracle_stripped": oracle_stripped["min_wall"],
        "ratio_stripped": receipt["ratio_stripped"],
        "cpu_s": engine.get("cpu_s"),
        "cores": engine.get("cores"),
        "receipt": out_path,
    }))
    return 0


if __name__ == "__main__":
    a = sys.argv[1:]
    sys.exit(main(a[0], a[1], a[2]))
