#!/usr/bin/env python3
"""Benchmark command for the graft Spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload registry|wiki_etl|curate \
        --seed N --seconds S --trace 0|1

It builds the engine and the benchmark's JVM program from source (once per
checkout; sbt, offline), makes the workload's inputs from the seed, runs
the workload in one local[nproc] Spark session, checks the outputs, prints
a report and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. `--record` rewrites expected.json (the registry digests
and the Curate funnel and shard digest) from this checkout's outputs
instead of checking against it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DATA = os.path.join(HERE, "data", "sf0.001")
WORK = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

WORKLOADS = ("registry", "wiki_etl", "curate")
# The registry workload's queries, fixed so that every seed times the
# same work (the seed only permutes their order). profile_registry.py
# chose them from a traced full-registry pass at sf0.001 on 4 cores: one
# query per graft.queries object, whose summed warm wall (4.05 s) is 7%
# of the full pass (61.9 s) and whose mix is within 5% of the full pass's
# on build share (0.55 vs 0.53), jobs per query (10.1 vs 10.3), tasks per
# job (1.59 vs 1.66), cores busy (0.10 vs 0.09) and the share of wall in
# job-bound loops (0.30 vs 0.31). README.md has the comparison.
REGISTRY_QUERIES = [
    "q04_segment_orders",     # Relational
    "q34_topk_cosine",        # LlmOps
    "q39_http_dates",         # WikiOps
    "q79_kmv_merge",          # PipelineOps
    "q80_eval_carveout",      # TrainingOps
    "q88_length_histogram",   # CurationOps
    "q107_graph_pagerank",    # AnalyticsOps: iterative, 19 jobs
    "q121_hybrid_rrf",        # ClusterOps: job-bound, 22 jobs
]
WIKI_PAGES = 200
WARM_PAGES = 40
JVM_HEAP = "3g"
RUN_LIMIT_S = 175
# Measured on a 4-core host at sf0.1 before this benchmark
# existed (ROADMAP "Measured baseline"); printed beside the registry's
# traced figures for reference only.
ROADMAP_BASELINE = {"build_share": 0.40, "jobs": 1536, "cores_busy_frac": 0.26}

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def build(sha):
    """Compile the engine and the benchmark program with sbt unless already built
    from these exact sources."""
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == sha:
                return
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(sha)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def input_identity(path):
    """Files, rows and bytes of a workload's input directory."""
    files = sorted(p for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p))
    rows, size = 0, 0
    for p in files:
        size += os.path.getsize(p)
        if p.endswith(".parquet"):
            rows += pq.read_metadata(p).num_rows
        else:
            rows += 1
    return {"dir": os.path.relpath(path, ROOT), "files": len(files), "rows": rows,
            "bytes": size}


def make_inputs(workload, seed, run_dir, pages):
    """Return (crawled-page dir, its ground truth, warm-up crawl dir), or
    Nones. The warm-up crawl is a smaller one from another seed."""
    if workload != "wiki_etl":
        return None, None, None
    sys.path.insert(0, HERE)
    import wikigen
    docs = os.path.join(DATA, "documents.parquet")
    out = os.path.join(run_dir, "wiki_html")
    warm = os.path.join(run_dir, "wiki_warm_html")
    truth = wikigen.generate(docs, out, pages, seed)
    wikigen.generate(docs, warm, WARM_PAGES, seed + 1_000_003)
    return out, truth, warm


def run_jvm(args, html, warm_html, run_dir, deadline):
    out = os.path.join(run_dir, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # no perf-data file in the system temp directory: a run writes only
    # inside its checkout
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", DATA,
            "--work", run_dir, "--out", out]
    if args.workload == "registry":
        cmd += ["--queries", args.queries]
    if html:
        cmd += ["--html", html, "--warm-html", warm_html]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the workload did not finish in time", 5)
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"the benchmark JVM exited with {rc}", 5)
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def check_registry(res, expected, record):
    got = res["digests"]
    if record:
        expected.setdefault("registry", {}).update(got)
        return []
    want = expected.get("registry", {})
    return sorted(q for q in got if got[q] != want.get(q) or "error" in got[q])


def check_curate(res, expected, record):
    """The Curate.Report funnel and the written shards' digest."""
    got = {"report": res.get("report"), "shards": res.get("shards_digest")}
    if record:
        expected["curate"] = got
        return []
    want = expected.get("curate", {})
    bad = [k for k in ("report", "shards") if got[k] is None or got[k] != want.get(k)]
    return ["Curate.run"] if bad else []


def _expected_text(html):
    import re
    html = re.sub(r"(?s)<!--.*?-->", "", html)
    html = re.sub(r"(?is)<(script|style|head|title|noscript)\b[^>]*>.*?</\1\s*>"
                  r"|<meta\b[^>]*/?>", " ", html)
    return " ".join(re.sub(r"<[^>]*>", " ", html).split())


def check_wiki(res, truth, html_dir):
    """Compare the written model, the distribution and the converted
    text with the generator's ground truth; return the failing DAG steps."""
    out = res["wiki_outputs"]
    bad = set()
    try:
        pages = pq.read_table(os.path.join(out, "pages")).to_pylist()
        cats = pq.read_table(os.path.join(out, "categories")).to_pylist()
        pcs = pq.read_table(os.path.join(out, "page_categories")).to_pylist()
    except Exception:
        return ["categorize", "model_write", "distribution"]
    got_pages = {p["file_name"]: (p["word_count"],
                                  p["last_edited_date"].isoformat() if p["last_edited_date"] else None)
                 for p in pages}
    want_pages = {n: (wc, d) for n, (_, wc, d) in truth.items()}
    if got_pages != want_pages or len(pages) != len(truth):
        bad.add("categorize")
    cat_name = {c["id"]: c["name"] for c in cats}
    page_name = {p["id"]: p["file_name"] for p in pages}
    want_cats = {c for cs, _, _ in truth.values() for c in cs}
    if set(cat_name.values()) != want_cats or len(cat_name) != len(cats):
        bad.add("categorize")
    got_pairs = {(page_name.get(r["page_id"]), cat_name.get(r["category_id"])) for r in pcs}
    want_pairs = {(n, c) for n, (cs, _, _) in truth.items() for c in cs}
    if got_pairs != want_pairs or len(pcs) != len(want_pairs):
        bad.add("model_write")
    counts = {}
    for _, c in want_pairs:
        counts[c] = counts.get(c, 0) + 1
    want_dist = sorted(([c, n] for c, n in counts.items()), key=lambda x: (-x[1], x[0]))
    if res.get("distribution") != want_dist:
        bad.add("distribution")
    try:
        text = {r["file_name"]: r["extracted_text"]
                for r in pq.read_table(os.path.join(out, "text")).to_pylist()}
    except Exception:
        text = {}
    want_text = {}
    for n in truth:
        with open(os.path.join(html_dir, n + ".html"), encoding="utf-8") as f:
            want_text[n] = _expected_text(f.read())
    if text != want_text:
        bad.add("convert")
    return sorted(bad)


# ---------------------------------------------------------------- metrics

def timed_iterations(res):
    return [it for it in res["iterations"] if not it["traced"]]


def end_to_end(res, setup_s):
    timed = timed_iterations(res)
    walls = [it["wall_s"] for it in timed]
    per_call = {}
    for it in timed:
        for c in it["calls"]:
            per_call.setdefault(c["name"], []).append(c["wall_s"])
    call_walls = [statistics.median(v) for v in per_call.values()]
    return {
        "wall_s": (statistics.median(walls), "s"),
        "query_p50_s": (statistics.median(w for v in per_call.values() for w in v), "s"),
        "heap_live_peak_mb": (res["heap_live_peak_mb"], "MB"),
        "setup_s": (setup_s, "s"),
    }, call_walls


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(res, spans, nproc):
    """Per-layer metrics of each traced iteration; returns (their medians,
    the self-time summary)."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    calls = [s for s in spans if s["kind"] == "call"]
    iters = {}
    for it in res["iterations"]:
        if it["traced"]:
            iters[it["iter"]] = it
    per_iter = []
    self_time = {"workload": 0.0, "call": 0.0, "job": 0.0, "stage": 0.0}
    for n, it in sorted(iters.items()):
        m = {k: 0.0 for k in PER_LAYER}
        its_calls = [c for c in calls if c.get("iter") == n]
        for c in its_calls:
            jobs = [j for j in by_parent.get(c["id"], []) if j["kind"] == "job"]
            plans = [p for p in by_parent.get(c["id"], []) if p["kind"] == "plan"]
            m["scheduler.jobs"] += len(jobs)
            for p in plans:
                ph = p["phases"]
                m["plan.analysis_s"] += ph.get("analysis", 0.0) / 1e3
                m["plan.optimizer_s"] += ph.get("optimization", 0.0) / 1e3
                m["plan.physical_s"] += ph.get("planning", 0.0) / 1e3
                for k, v in p["counts"].items():
                    m["plan." + k] += v
            job_iv = [(j["start"], j["end"]) for j in jobs]
            c_self = (c["end"] - c["start"]) - covered(job_iv, c["start"], c["end"])
            m["driver.self_s"] += c_self / 1e3
            self_time["call"] += c_self / 1e3
            for j in jobs:
                stages = [s for s in by_parent.get(j["id"], []) if s["kind"] == "stage"]
                m["scheduler.stages"] += len(stages)
                st_iv = [(s["start"], s["end"]) for s in stages]
                j_self = (j["end"] - j["start"]) - covered(st_iv, j["start"], j["end"])
                m["scheduler.job_self_s"] += j_self / 1e3
                self_time["job"] += j_self / 1e3
                for s in stages:
                    x = s.get("metrics", {})
                    self_time["stage"] += (s["end"] - s["start"]) / 1e3
                    m["scheduler.tasks"] += x.get("tasks", 0)
                    m["scheduler.task_wait_s"] += (x.get("duration_ms", 0) - x.get("run_ms", 0)
                                                   - x.get("deserialize_ms", 0)
                                                   - x.get("result_ser_ms", 0)) / 1e3
                    m["executor.run_s"] += x.get("run_ms", 0) / 1e3
                    m["executor.cpu_s"] += x.get("cpu_ns", 0) / 1e9
                    # summed in bytes, converted once below, so that
                    # the stage order does not change the last digit
                    for k, b in BYTE_METRICS.items():
                        m[k] += x.get(b, 0)
            m["storage.resident_mb_max"] = max(m["storage.resident_mb_max"], c["resident_mb"])
            m["storage.rdds_after"] += c["rdds_after"]
            # module layers: each is 0 on the workloads that do not call it
            g = c["group"]
            if res["workload"] == "registry":
                m["queries.build_s"] += c["build_s"]
                m["queries.build_jobs"] += sum(1 for j in jobs if j["start"] <= c["build_end"])
                m["queries.materialize_s"] += c["materialize_s"]
                m[f"queries.{g}.wall_s"] += c["wall_s"]
            elif g == "curation":
                m["curation.run_s"] += c["wall_s"]
                m["curation.jobs"] += len(jobs)
            else:
                m[f"wiki.{c['name']}_s"] += c["wall_s"]
                m["wiki.jobs"] += len(jobs)
        for k in BYTE_METRICS:
            m[k] /= 1e6
        m["plan.codegen_s"] = it["codegen_s"]
        m["jvm.gc_s"] = it["gc_s"]
        m["trace.listener_s"] = it["listener_s"]
        m["scheduler.cores_busy_frac"] = m["executor.run_s"] / (it["wall_s"] * nproc)
        self_time["workload"] += it["wall_s"] - sum(
            (c["end"] - c["start"]) / 1e3 for c in its_calls)
        per_iter.append(m)
    med = {k: statistics.median(m[k] for m in per_iter) for k in PER_LAYER}
    n = max(1, len(per_iter))
    return med, {k: v / n for k, v in self_time.items()}


QUERY_OBJECTS = ["Relational", "WikiOps", "LlmOps", "PipelineOps", "AnalyticsOps",
                 "TrainingOps", "CurationOps", "ClusterOps"]
WIKI_STEPS = ["categorize", "model_write", "distribution", "convert"]
PER_LAYER = [
    "queries.build_s", "queries.build_jobs", "queries.materialize_s",
    *[f"queries.{o}.wall_s" for o in QUERY_OBJECTS],
    "plan.analysis_s", "plan.optimizer_s", "plan.physical_s", "plan.codegen_s",
    "plan.exchanges", "plan.lambdas", "plan.windows", "plan.sort_aggregates",
    "plan.broadcasts", "plan.scala_udfs",
    "driver.self_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_wait_s",
    "scheduler.job_self_s", "scheduler.cores_busy_frac",
    "executor.run_s", "executor.cpu_s", "executor.shuffle_write_mb",
    "executor.shuffle_read_mb", "executor.spill_mb", "executor.input_mb",
    "executor.output_mb",
    "curation.run_s", "curation.jobs",
    *[f"wiki.{s}_s" for s in WIKI_STEPS], "wiki.jobs", "wiki.files_scanned",
    "storage.resident_mb_max", "storage.rdds_after",
    "jvm.gc_s", "trace.listener_s", "trace.overhead_s",
]
BYTE_METRICS = {
    "executor.shuffle_write_mb": "shuffle_write_bytes",
    "executor.shuffle_read_mb": "shuffle_read_bytes",
    "executor.spill_mb": "spill_bytes",
    "executor.input_mb": "input_bytes",
    "executor.output_mb": "output_bytes",
}


def unit(name):
    for suffix, u in (("_s", "s"), ("_mb", "MB"), ("_mb_max", "MB"), ("_frac", "fraction")):
        if name.endswith(suffix):
            return u
    return "count"


def overhead(res, listener_s):
    """Median traced minus median untraced iteration wall. A run that
    times one traced iteration only (curate) has no untraced one to
    compare with; its overhead is the time inside the listeners."""
    its = res["iterations"]
    tr = [i["wall_s"] for i in its if i["traced"]]
    un = [i["wall_s"] for i in its if not i["traced"]]
    return statistics.median(tr) - statistics.median(un) if un else listener_s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json from this run's outputs")
    ap.add_argument("--queries", default=",".join(REGISTRY_QUERIES),
                    help="registry queries to run (default: the benchmark's eight)")
    ap.add_argument("--pages", type=int, default=WIKI_PAGES,
                    help="crawled pages to generate for wiki_etl")
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("run this from the root of a source checkout: the engine sources "
            "(src/main/scala) are missing")
    if not os.path.isdir(DATA):
        die("the benchmark's input tables are missing")
    os.makedirs(WORK, exist_ok=True)
    sha = source_sha()
    build(sha)

    setup_t0 = time.time()
    deadline = max(deadline, setup_t0 + RUN_LIMIT_S - 20)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    html, truth, warm_html = make_inputs(args.workload, args.seed, run_dir, args.pages)
    gen_s = time.time() - setup_t0
    jvm_t0 = time.time()
    res = run_jvm(args, html, warm_html, run_dir, deadline)
    jvm_s = time.time() - jvm_t0
    setup_s = gen_s + res["session_ready_s"] + res["warmup_s"]

    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    if args.workload == "registry":
        mismatched = check_registry(res, expected, args.record)
    elif args.workload == "curate":
        mismatched = check_curate(res, expected, args.record)
    else:
        mismatched = check_wiki(res, truth, html)
    if args.record:
        expected["commit"] = git_commit()
        expected["source_sha"] = sha
        expected["data"] = os.path.relpath(DATA, HERE)
        expected["nproc"] = res["identity"]["nproc"]
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")

    # one operation = one timed call: a query on registry, a DAG step on
    # wiki_etl, Curate.run on curate. A call fails when it throws or when the output it
    # is checked by does not match.
    attempted, failed, failed_names = 0, 0, set()
    for it in res["iterations"]:
        for c in it["calls"]:
            attempted += 1
            if c["error"] is not None or c["name"] in mismatched:
                failed += 1
                failed_names.add(c["name"])
    identity = dict(res["identity"])
    identity.update({"commit": git_commit(), "source_sha": sha, "seed": args.seed,
                     "workload": args.workload,
                     "input": [input_identity(d) for d in (DATA, html) if d]})

    print(f"identity {json.dumps(identity, sort_keys=True)}")
    for it in res["iterations"]:
        for c in it["calls"]:
            if c["error"] is not None:
                print(f"FAILED call {c['name']} (iteration {it['iter']}): {c['error']}")
    for name in mismatched:
        print(f"WRONG OUTPUT {args.workload} {name}")
    print(f"failed_frac {failed / attempted:.6f} ({failed}/{attempted}"
          f"{': ' + ', '.join(sorted(failed_names)) if failed_names else ''})")
    print(f"setup: generate {gen_s:.3f} s, jvm+session {res['session_ready_s']:.3f} s, "
          f"warm-up {res['warmup_s']:.3f} s; JVM process {jvm_s:.3f} s, measured "
          f"{res['measured_s']:.3f} s, whole run so far {time.time() - t_start:.3f} s")

    if args.trace:
        spans_path = os.path.join(run_dir, "spans.jsonl")
        spans = load_spans(spans_path)
        nproc = res["identity"]["nproc"]
        med, self_time = layer_metrics(res, spans, nproc)
        med["trace.overhead_s"] = overhead(res, med["trace.listener_s"])
        if args.workload == "wiki_etl":
            med["wiki.files_scanned"] = len(truth)
        print(f"spans {os.path.relpath(spans_path, ROOT)} ({len(spans)} records)")
        for k, v in self_time.items():
            print(f"self_time {args.workload} {k:<8} {v:10.3f} s")
        # the funnel is checked, not timed: printed, not a metric
        for k, v in sorted((res.get("report") or {}).items()):
            print(f"funnel curation.funnel.{k} {v}")
        if args.workload == "registry":
            wall = statistics.median(i["wall_s"] for i in res["iterations"] if i["traced"])
            queries = len(res["iterations"][0]["calls"])
            b = ROADMAP_BASELINE
            print(f"reference (ROADMAP measured baseline, 146 queries at sf0.1): "
                  f"build share {med['queries.build_s'] / wall:.2f} vs {b['build_share']}, "
                  f"jobs {med['scheduler.jobs']:.0f} for {queries} queries "
                  f"({med['scheduler.jobs'] / queries:.1f} per query) vs {b['jobs']} "
                  f"({b['jobs'] / 146:.1f}), cores busy "
                  f"{med['scheduler.cores_busy_frac']:.2f} vs {b['cores_busy_frac']}")
        metrics = {k: {"value": med[k], "unit": unit(k)} for k in PER_LAYER}
    else:
        e2e, call_walls = end_to_end(res, setup_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        # a p90 needs ten samples beyond it; with fewer calls the highest
        # one is shown instead, with the sample count
        print(f"calls {len(call_walls)} (median over {len(timed_iterations(res))} "
              f"iterations each): max {max(call_walls):.6f} s")
    for k, m in metrics.items():
        print(f"metric {args.workload} {k} {m['value']:.6f} {m['unit']}")
    correct = failed == 0 and not mismatched
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
