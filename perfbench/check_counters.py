#!/usr/bin/env python3
"""Counter reproducibility check for the benchmark.

Runs each workload twice, traced, on a reduced input (three registry
queries; a 100-page crawl; one Curate.run) and compares the counters that
must not depend on timing: jobs, stages, the executed-plan node counts,
shuffle bytes written, the registry digests, the wiki output check and
the Curate funnel and shard digest. Lists every counter that differs
between the two runs and exits 1 if any does.

    python3 perfbench/check_counters.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULT = os.path.join(os.getcwd(), ".perfbench", "run", "result.json")
COUNTERS = ["scheduler.jobs", "scheduler.stages", "plan.exchanges", "plan.lambdas",
            "plan.windows", "plan.sort_aggregates", "plan.broadcasts", "plan.scala_udfs",
            "executor.shuffle_write_mb", "queries.build_jobs", "wiki.jobs", "curation.jobs"]
RUNS = {
    "registry": ["--queries", "q02_category_distribution,q41_html_extract,q107_graph_pagerank"],
    "wiki_etl": ["--pages", "100"],
    "curate": [],
}


def run(workload, extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "0", "--trace", "1"] + extra,
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"{workload}: run.py exited with {p.returncode}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(RESULT) as f:
        res = json.load(f)
    values = {k: last["metrics"][k]["value"] for k in COUNTERS}
    values["correct"] = last["correct"]
    if workload == "registry":
        values["digests"] = res["digests"]
    elif workload == "wiki_etl":
        values["distribution"] = res["distribution"]
    else:
        values["funnel"] = res["report"]
        values["shards"] = res["shards_digest"]
    return values


def main():
    differing = []
    for workload, extra in RUNS.items():
        a, b = run(workload, extra), run(workload, extra)
        for k in a:
            same = a[k] == b[k]
            print(f"{workload} {k}: {'repeats' if same else 'DIFFERS'}"
                  + ("" if same or isinstance(a[k], (dict, list)) else f" ({a[k]} vs {b[k]})"))
            if not same:
                differing.append(f"{workload} {k}")
    if differing:
        print("counters that did not repeat: " + ", ".join(differing))
        sys.exit(1)
    print("all counters repeat")


if __name__ == "__main__":
    main()
