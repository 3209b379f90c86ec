"""Self-test of the benchmark at a tiny input size.

usage: python3 perfbench/selftest.py [--scale 0.05]

Runs every workload through the one command (perfbench/run.py) and checks:
- untraced: every end-to-end metric is present with its BENCHMARK.json unit,
  verification passes and no run failed;
- traced, twice on one seed: every per-layer metric is present with its
  unit, the exact counts are identical in both runs and `ops.jobs` is 0
  off text_pipeline (the harness itself fails a traced run whose jobs are
  not all claimed by a module and inside the `Cli.run` span, or whose
  executor time does not fit in its job time);
- a second seed changes the inputs and still passes verification.
Exits 1 on the first failed check.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# counts that must repeat exactly for one seed (trace sanity check)
EXACT = ("sources.read_amp", "sinks.csv_mb", "sinks.parquet_mb")


def bench(workload, seed, trace, scale):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", str(scale)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError("%s seed %d trace %d exited %d" % (workload, seed, trace, p.returncode))
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(cond, msg):
    if not cond:
        raise AssertionError(msg)


def check_result(res, metrics, what):
    check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
          "%s: correct=%s failed=%s attempted=%s"
          % (what, res["correct"], res["failed"], res["attempted"]))
    for m in metrics:
        got = res["metrics"].get(m["name"])
        check(got is not None, "%s: no metric %s" % (what, m["name"]))
        check(got["unit"] == m["unit"], "%s: %s unit %s" % (what, m["name"], got["unit"]))
        check(isinstance(got["value"], (int, float)), "%s: %s not a number" % (what, m["name"]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=0.05)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in [w["name"] for w in spec["workloads"]]:
        e2e = bench(w, 1, 0, a.scale)
        check_result(e2e, spec["end_to_end"], "%s untraced" % w)
        for m in spec["end_to_end"]:
            check(e2e["metrics"][m["name"]]["value"] > 0, "%s: %s is not positive" % (w, m["name"]))
        t1, t2 = (bench(w, 1, 1, a.scale) for _ in range(2))
        for t in (t1, t2):
            check_result(t, spec["per_layer"], "%s traced" % w)
        exact = [m["name"] for m in spec["per_layer"]
                 if m["name"].endswith(".jobs") or m["name"].startswith("ops.rows.")
                 or m["name"] in EXACT]
        for k in exact:
            check(t1["metrics"][k]["value"] == t2["metrics"][k]["value"],
                  "%s: %s differs between two traced runs of one seed: %s vs %s"
                  % (w, k, t1["metrics"][k]["value"], t2["metrics"][k]["value"]))
        if w != "text_pipeline":
            check(t1["metrics"]["ops.jobs"]["value"] == 0, "%s: ops ran" % w)
        other = bench(w, 2, 0, a.scale)
        check_result(other, spec["end_to_end"], "%s seed 2" % w)
        check(other["metrics"]["out_bytes_per_in_byte"] != e2e["metrics"]["out_bytes_per_in_byte"],
              "%s: seed 2 gave the same output ratio as seed 1" % w)
        print("selftest %s: ok" % w)
    print("selftest: ok")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print("selftest FAILED: %s" % e)
        sys.exit(1)
