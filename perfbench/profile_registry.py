#!/usr/bin/env python3
"""Profile the whole registry and choose the registry workload's queries.

Runs every `SparkEntry.registry` query through the benchmark at the
benchmark's scale (a cold warm-up pass, an untraced pass and a traced
pass, about five minutes on 4 cores), or reads a run made earlier with
`--from`, then:

- prints each query's wall, build time (inside `Q.fn`), jobs, tasks and
  executor run time;
- prints the full pass's traffic mix: build share of the wall, jobs per
  query, tasks per job, the cores' busy fraction, the share of wall in
  job-bound loops and in the heaviest queries;
- chooses a subset by measured weight (see `choose`) and prints the same
  mix for it and for the subset that run.py uses, with the margin each
  figure is off by.

    python3 perfbench/profile_registry.py [--from .perfbench/run | --from TABLE] [--out TABLE]

`--out` saves the per-query table as JSON; registry_profile.json is the
table the benchmark's queries were chosen from.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

# The subset's time budget: its summed warm wall may be at most this
# share of the full pass, so that a run (a cold and a warm warm-up pass
# and a timed one) fits the benchmark's time budget.
WALL_BUDGET = 0.08
# A query with at least this many jobs is a job-bound loop (the
# iterative and probe-heavy queries ROADMAP names: q98, q122, q139, q140).
LOOP_JOBS = 20
MIX = ["build_share", "jobs_per_query", "tasks_per_job", "cores_busy_frac", "loop_share"]


def per_query(run_dir):
    """One row per query: warm wall and build time from the untraced
    pass, jobs, build jobs, tasks and executor run time from the traced
    pass."""
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    spans = run.load_spans(os.path.join(run_dir, "spans.jsonl"))
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    rows = {}
    for it in res["iterations"]:
        if it["traced"]:
            continue
        for c in it["calls"]:
            rows[c["name"]] = {"group": c["group"], "wall_s": c["wall_s"],
                               "build_s": c["build_s"], "error": c["error"]}
    for c in (s for s in spans if s["kind"] == "call"):
        r = rows.get(c["name"])
        if r is None:
            continue
        jobs = [j for j in by_parent.get(c["id"], []) if j["kind"] == "job"]
        stages = [s for j in jobs for s in by_parent.get(j["id"], []) if s["kind"] == "stage"]
        r["jobs"] = len(jobs)
        r["build_jobs"] = sum(1 for j in jobs if j["start"] <= c["build_end"])
        r["tasks"] = int(sum(s.get("metrics", {}).get("tasks", 0) for s in stages))
        r["run_s"] = sum(s.get("metrics", {}).get("run_ms", 0) for s in stages) / 1e3
    return rows, res["identity"]["nproc"]


def mix(rows, names, nproc):
    sel = [rows[n] for n in names]
    wall = sum(r["wall_s"] for r in sel)
    jobs = sum(r["jobs"] for r in sel)
    return {"queries": len(sel), "wall_s": wall,
            "build_share": sum(r["build_s"] for r in sel) / wall,
            "jobs_per_query": jobs / len(sel),
            "median_jobs": statistics.median(r["jobs"] for r in sel),
            "tasks_per_job": sum(r["tasks"] for r in sel) / max(1, jobs),
            "cores_busy_frac": sum(r["run_s"] for r in sel) / (wall * nproc),
            "loop_share": sum(r["wall_s"] for r in sel if r["jobs"] >= LOOP_JOBS) / wall}


def off_by(sub, full):
    """The largest relative distance of the subset's mix from the full pass's."""
    return max(abs(sub[k] / full[k] - 1) for k in MIX)


def choose(rows, nproc, budget=WALL_BUDGET):
    """A subset whose mix (build share, jobs per query, tasks per job,
    cores busy, share of wall in job-bound loops) is as close to the full
    pass's as a summed warm wall within the budget allows, with at least
    one query of every domain object. Built greedily (first one query per
    object, leaving room for the others, then the query that brings the
    mix closest, while one fits), then improved by the best single swap,
    addition or removal until none helps. Deterministic."""
    ok = sorted(n for n, r in rows.items() if not r["error"])
    full = mix(rows, ok, nproc)
    limit = budget * full["wall_s"]
    groups = sorted({rows[n]["group"] for n in ok})

    def wall(names):
        return sum(rows[n]["wall_s"] for n in names)

    def cost(names):
        return off_by(mix(rows, names, nproc), full)

    lightest = {g: min(rows[n]["wall_s"] for n in ok if rows[n]["group"] == g) for g in groups}
    chosen = []
    for i, g in enumerate(groups):
        room = limit - wall(chosen) - sum(lightest[h] for h in groups[i + 1:])
        fits = [n for n in ok if rows[n]["group"] == g and rows[n]["wall_s"] <= room]
        chosen.append(min(fits, key=lambda n: (cost(chosen + [n]), n)))
    while True:
        fits = [n for n in ok if n not in chosen and wall(chosen) + rows[n]["wall_s"] <= limit]
        if not fits:
            break
        chosen.append(min(fits, key=lambda n: (cost(chosen + [n]), n)))

    def moves(names):
        """Every subset one swap, addition or removal away."""
        for n in ok:
            if n not in names:
                yield names + [n]
                for i in range(len(names)):
                    yield names[:i] + [n] + names[i + 1:]
        for i in range(len(names)):
            yield names[:i] + names[i + 1:]

    best = cost(chosen)
    while True:
        valid = [m for m in moves(chosen) if wall(m) <= limit
                 and {rows[q]["group"] for q in m} == set(groups)]
        step = min(valid, key=lambda m: (cost(m), sorted(m)))
        if cost(step) >= best - 1e-12:
            break
        best, chosen = cost(step), step
    return sorted(chosen, key=lambda n: int(n[1:n.index("_")]))


def show(label, m, full=None):
    extra = f", off by up to {off_by(m, full):.0%}" if full else ""
    print(f"{label}: {m['queries']} queries, wall {m['wall_s']:.2f} s, build share "
          f"{m['build_share']:.2f}, jobs/query {m['jobs_per_query']:.1f} (median "
          f"{m['median_jobs']:.0f}), tasks/job {m['tasks_per_job']:.2f}, cores busy "
          f"{m['cores_busy_frac']:.2f}, loop share {m['loop_share']:.2f}{extra}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--from", dest="src", help="read an earlier full-registry traced run: its "
                    "run directory, or a table saved with --out")
    ap.add_argument("--out", help="write the per-query table to this JSON file")
    args = ap.parse_args()
    src = args.src
    if src is None:
        run.RUN_LIMIT_S = 1800
        sys.argv = [sys.argv[0], "--workload", "registry", "--seed", "1", "--seconds", "0",
                    "--trace", "1", "--queries", ""]
        run.main()
        src = os.path.join(run.WORK, "run")
    if os.path.isfile(src):
        with open(src) as f:
            saved = json.load(f)
        rows, nproc = saved["queries"], saved["nproc"]
    else:
        rows, nproc = per_query(src)
    for n, r in sorted(rows.items(), key=lambda kv: -kv[1]["wall_s"]):
        print(f"query {n:<34} {r['group']:<13} wall {r['wall_s']:7.3f} s build "
              f"{r['build_s']:7.3f} s jobs {r['jobs']:3d} build_jobs {r['build_jobs']:3d} "
              f"tasks {r['tasks']:4d} run {r['run_s']:7.3f} s"
              + (f" ERROR {r['error']}" if r["error"] else ""))
    ok = [n for n, r in rows.items() if not r["error"]]
    full = mix(rows, ok, nproc)
    show("full registry", full)
    top = sorted(ok, key=lambda n: -rows[n]["wall_s"])
    for k in (5, 10, 20):
        print(f"top {k} queries by wall hold {mix(rows, top[:k], nproc)['wall_s'] / full['wall_s']:.0%}"
              " of the full pass's wall")
    chosen = choose(rows, nproc)
    show(f"chosen ({','.join(chosen)})", mix(rows, chosen, nproc), full)
    show("run.py REGISTRY_QUERIES", mix(rows, run.REGISTRY_QUERIES, nproc), full)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"commit": run.git_commit(), "nproc": nproc, "queries": rows}, f,
                      indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
