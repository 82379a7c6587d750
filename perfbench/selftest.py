#!/usr/bin/env python3
"""The benchmark's own test. Run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that
  * a short untraced run prints every end-to-end metric with its unit,
    answers correctly and fails nothing;
  * a short traced run prints every per-layer metric with its unit,
    records a span for each layer of perfbench/spec.json, and (ingest)
    splits each replayed statement into parse, compile, plan and
    execution, each timed on its own, whose sum covers the statement's
    separately timed wall time within 10% (for every replayed
    statement), with the tracing overhead reported;
  * two traced runs of one seed repeat the exact counts (records per
    lookup template, new customers per merge batch, Spark jobs per
    olap job);
  * a run with one expected answer deliberately corrupted reports the
    failure (correct is false, failed is at least 1).
Exits non-zero on the first violated check.
"""
import json
import os
import subprocess
import sys

SECONDS = "3"
SEED = "7"
SPANS = {
    "ingest_mixed": ["bolt.save_wait", "bolt.run", "bolt.pull", "http.open", "http.commit",
                     "session.cypher", "cypher.parse", "cypher.substitute", "spark.plan",
                     "spark.exec", "core.load", "core.save"],
    "olap_batch": ["session.cypher", "spark.exec", "core.load", "procs.pagerank", "procs.wcc",
                   "procs.louvain", "operators.dedup_minhash_lsh", "operators.ann_topk_ivf"],
}


def run(workload, trace, wrong=0, seed=SEED):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", seed,
         "--seconds", SECONDS, "--trace", str(trace), "--wrong-answer", str(wrong)],
        capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"FAIL {workload} trace={trace} wrong={wrong}: exit {p.returncode}\n"
                 f"{p.stderr[-3000:]}")
    report = json.loads(lines[-2][len("report "):])
    return report, json.loads(lines[-1])


def check(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}")


def main():
    bench = json.load(open("BENCHMARK.json"))
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            report, result = run(w, trace)
            check(set(result) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace}: result keys")
            check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                  f"{w} trace={trace}: correct, attempted {result['attempted']}, "
                  f"failed {result['failed']} {report['errors']}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            check(got == want, f"{w} trace={trace}: every {key} metric with its unit")
            if trace:
                missing = [s for s in SPANS[w] if s not in report["spans"]]
                check(not missing, f"{w}: spans for every layer (missing {missing})")
                if w == "ingest_mixed":
                    layers = result["metrics"]
                    residual = layers["trace.split_residual_frac"]["value"]
                    check(residual < 0.1, f"{w}: parse + substitute + compile + plan + exec "
                          f"cover each replayed statement's wall time (largest residual "
                          f"{residual:.4f})")
                    check(layers["trace.overhead_ratio"]["value"] > 0,
                          f"{w}: tracing overhead reported "
                          f"({layers['trace.overhead_ratio']['value']:.3f})")
                again, _ = run(w, 1)
                check(report["exact_counts"] == again["exact_counts"],
                      f"{w}: exact counts repeat for one seed {report['exact_counts']}")
            else:
                check(all(v["value"] > 0 for v in result["metrics"].values()),
                      f"{w}: every end-to-end metric is non-zero")
        _, bad = run(w, 0, wrong=1)
        check(not bad["correct"] and bad["failed"] >= 1,
              f"{w}: a corrupted expected answer counts as failed ({bad['failed']})")


if __name__ == "__main__":
    if not os.path.isfile("BENCHMARK.json"):
        sys.exit("run from the root of the checkout")
    main()
