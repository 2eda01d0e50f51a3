#!/usr/bin/env python3
"""Self-test of the benchmark: one traced run of each workload on the
sf0.001 fixture, three timed passes each (untraced, traced, untraced).

    python3 graftbench/selftest.py

Checks that
  1. every metric named in BENCHMARK.json (end-to-end and per-layer) is
     produced with its unit, by every workload;
  2. a perturbed expected digest is caught as a failed operation
     (etl_driver runs with the digest of q01_scan_project altered);
  3. past_gate really takes the relational path: its seven gated queries
     launch more Spark jobs than the same queries in etl_driver, where the
     driver kernels run.
Exits 0 when all checks hold, 1 otherwise. Takes about ten minutes.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PERTURBED = "q01_scan_project"
GATED = ["q105_pagerank", "q126_label_prop", "q157_incr_cc", "q214_hits",
         "q266_als_rank1", "q83_outliers", "q153_theil_sen"]
WORKLOADS = ["etl_driver", "past_gate", "corpus_heavy", "incremental_load"]


def run(workload, extra=()):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", "1",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        return None, None
    result = json.loads(p.stdout.strip().splitlines()[-1])
    path = os.path.join(BENCH, ".work", "results",
                        f"{workload}-seed7-trace1.json")
    with open(path) as fh:
        return result, json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    records = {}
    for w in WORKLOADS:
        extra = ("--perturb", PERTURBED) if w == "etl_driver" else ()
        result, record = run(w, extra)
        if result is None:
            problems.append(f"{w}: run failed")
            continue
        records[w] = record
        for kind in ("end_to_end", "per_layer"):
            for m in bench[kind]:
                got = record[kind].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w}: {kind} metric {m['name']} "
                                    f"missing or not in {m['unit']}: {got}")
        for m in bench["per_layer"]:
            if result["metrics"].get(m["name"], {}).get("unit") != m["unit"]:
                problems.append(f"{w}: result line lacks {m['name']}")
        caught = [f for f in record["failures"] if f["op"] == PERTURBED]
        if w == "etl_driver":
            if result["correct"] or not caught:
                problems.append("perturbed digest of "
                                f"{PERTURBED} was not caught")
            if any(f["op"] != PERTURBED for f in record["failures"]):
                problems.append(f"{w}: unexpected failures "
                                f"{record['failures']}")
        elif not result["correct"]:
            problems.append(f"{w}: failures {record['failures']}")
        print(f"{w}: attempted {result['attempted']}, failed "
              f"{result['failed']}, pass {record['end_to_end']['pass_s']}")

    if "etl_driver" in records and "past_gate" in records:
        kernel = sum(records["etl_driver"]["op_jobs"].get(q, 0) for q in GATED)
        relational = sum(records["past_gate"]["op_jobs"].get(q, 0)
                         for q in GATED)
        print(f"jobs of the gated queries: driver kernels {kernel:g}, "
              f"relational fallback {relational:g}")
        if not relational > kernel:
            problems.append("past_gate did not take the relational path "
                            f"({relational:g} jobs vs {kernel:g})")

    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
