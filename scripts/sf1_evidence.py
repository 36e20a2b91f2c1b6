#!/usr/bin/env python3
"""One-command sf1 evidence run (round-9 brief item #8).

Reproduces the three manual steps of the round-9 sf1 section in one
shot, writing a COVERAGE-ready summary:

  1. build the one-decade-up corpus (scripts/make_sf1.py) if absent
  2. graft.Verify at sf1 for every query whose ORACLE is not itself
     quadratic (x6/x47: N-squared pair SQL in DuckDB; x11: the guarded
     exact-N-squared engine baseline, ~520 s at 20k vectors), then the
     DuckDB compare (scripts/local_check.py --only-dumped)
  3. graft.Bench at sf1 (runs=1), same x11 exclusion by default

Usage: python3 scripts/sf1_evidence.py [--sf1-dir tmp/sf1]
           [--base /root/testdata/sf0.1] [--out tmp/SF1_EVIDENCE.md]
           [--full-bench]  # include x11's ~520 s N-squared row

Local tooling like local_check.py / make_sf1.py — NOT part of the
engine; the engine never shells out to any of this.
"""
import argparse
import json
import os
import subprocess
import sys

# engine-side quadratic BY DESIGN: x11's loud >100k-row guard fires at
# sf1 volume (its baseline is spec- and sf0.01-verified instead). It is
# the LAST exclusion: round 15 rewrote the former quadratic oracles
# scan-side with bit-identical values (x6/x47: inverted-index shingle
# join replacing the N-squared list_intersect pair SQL, 83.5/51.9 s →
# 0.4/0.3 s at sf0.1; x174: ASOF successor join replacing the keys×128
# crossjoin that OOM-killed the r11 check run — all three verified
# cell-identical at sf0.001/0.01/0.1), so they run in the sf1 gate.
QUADRATIC = {"x11_embed_neardup"}
BENCH_EXCLUDE = {"x11_embed_neardup"}


def run(cmd, **kw):
    print(f"[sf1] $ {' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, check=True, **kw)


def sbt_run(main_and_args, env_extra=None, capture=False):
    env = dict(os.environ)
    env.update(env_extra or {})
    cmd = ["sbt", "-batch", f"runMain {main_and_args}"]
    print(f"[sf1] $ {' '.join(cmd)}  (env: {env_extra})", flush=True)
    return subprocess.run(cmd, check=True, env=env,
                          capture_output=capture, text=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1-dir", default="tmp/sf1")
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="tmp/SF1_EVIDENCE.md")
    ap.add_argument("--full-bench", action="store_true",
                    help="include x11's N-squared-by-design bench row")
    args = ap.parse_args()

    # 1. corpus
    if not os.path.exists(os.path.join(args.sf1_dir, "lineitem.parquet")):
        run([sys.executable, "scripts/make_sf1.py", args.base, args.sf1_dir])
    else:
        print(f"[sf1] corpus exists at {args.sf1_dir}, reusing", flush=True)

    # registry, from the binary itself (no drifting hard-coded list)
    names = [l.strip() for l in
             sbt_run("graft.tools.ListQueries", capture=True).stdout.splitlines()
             if l.strip() and "_" in l and not l.startswith("[")]
    verify_set = [n for n in names if n not in QUADRATIC]
    bench_set = [n for n in names
                 if args.full_bench or n not in BENCH_EXCLUDE]
    print(f"[sf1] {len(names)} registered; verifying {len(verify_set)}, "
          f"benching {len(bench_set)}", flush=True)

    # 2. correctness at sf1
    out_dir = "tmp/verify_sf1"
    run(["rm", "-rf", out_dir])
    sbt_run(f"graft.Verify {args.sf1_dir} {out_dir}",
            {"SPARK_GRAFT_QUERIES": ",".join(verify_set)})
    chk = subprocess.run(
        [sys.executable, "scripts/local_check.py", args.sf1_dir, out_dir,
         "--only-dumped"], capture_output=True, text=True)
    print(chk.stdout[-2000:], flush=True)
    check_tail = chk.stdout.strip().splitlines()[-1] if chk.stdout.strip() else "?"
    if chk.returncode != 0:
        print("[sf1] CORRECTNESS FAILED — evidence file still written",
              flush=True)
        print("[sf1] checker stderr tail:\n" + chk.stderr[-2000:], flush=True)

    # 3. bench at sf1
    bres = sbt_run("graft.Bench",
                   {"SPARK_GRAFT_SF_DIR": args.sf1_dir,
                    "SPARK_GRAFT_RUNS": "1",
                    # SERIAL: sf1 walls are the per-query plan-audit
                    # surface and the skew receipt's comparison base —
                    # the round-17 FAIR-pool default would fold co-run
                    # interference into every wall
                    "SPARK_GRAFT_PARALLEL": "1",
                    "SPARK_GRAFT_QUERIES": ",".join(bench_set)},
                   capture=True)
    with open("bench.json") as f:
        bench = json.load(f)
    qmap = {k: v for k, v in bench["queries"].items() if v is not None}
    total = sum(qmap.values())
    slowest = sorted(qmap.items(), key=lambda kv: -kv[1])[:10]
    stdout_line = next((l for l in reversed(bres.stdout.splitlines())
                        if l.startswith('{"metric"')), "?")

    md = [
        "## sf1 evidence run (scripts/sf1_evidence.py)",
        "",
        f"- corpus: `{args.sf1_dir}` (10 key-shifted copies of `{args.base}`,"
        " de-correlated text/embeddings)",
        f"- correctness: `{check_tail}` over {len(verify_set)} non-quadratic"
        f" oracles (excluded: {', '.join(sorted(QUADRATIC))})",
        f"- bench (runs=1, x11 {'included' if args.full_bench else 'excluded'}):"
        f" total **{total:.1f} s** across {len(qmap)} queries,"
        f" cpu_s {bench.get('cpu_s')}",
        f"- slowest 10: " + ", ".join(f"{k} {v:.1f}" for k, v in slowest),
        "",
        f"```\n{stdout_line}\n```",
    ]
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md), flush=True)
    print(f"[sf1] evidence written to {args.out}", flush=True)

    # committed per-query receipt — DocsParitySpec gates that every
    # registered query has a wall here or a documented exclusion, so
    # the sf1 receipt can never lag the registry again (round 14)
    receipts = {
        "generated_by": "scripts/sf1_evidence.py",
        "sf1_dir": args.sf1_dir,
        "base": args.base,
        "correctness": check_tail,
        "excluded": {
            "x11_embed_neardup":
                "N-squared-by-design oracle twin; loud >100k guard fires"
                " at sf1 volume (scale paths x10/x57 carry sf1 walls)",
        },
        "walls_sec": qmap,
    }
    os.makedirs("receipts", exist_ok=True)
    with open("receipts/sf1_receipts.json", "w") as f:
        json.dump(receipts, f, indent=1, sort_keys=True)
    print("[sf1] per-query receipts written to receipts/sf1_receipts.json",
          flush=True)
    if chk.returncode != 0:
        sys.exit(1)


if __name__ == "__main__":
    main()
