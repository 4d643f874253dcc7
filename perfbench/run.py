"""The repository's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (``build.py``), generates the
workload's inputs from ``--seed`` (``gen.py``), runs them through the engine
in one fresh JVM (``src/graft/perfbench/BenchMain.scala``), checks every
output, and prints as its last line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
Metric definitions are in ``perfbench/README.md``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

import analyze
import build
import gen

WORKLOADS = ("wordcount", "neardup", "knn_serve")
JVM_TIMEOUT_S = 170  # a run must end within 180 s
HEAP = "2g"
# C1 only: under C2 a job keeps getting faster for 40+ jobs (1.5 -> 1.05 s in
# wordcount, 8 -> 5.6 s in neardup) because Spark keeps generating code for
# it to compile, so a run that cannot reach C2's steady state would measure
# a point on that slope, which varies from JVM to JVM; with C1 alone a warm
# job takes the same time from the second job on
JIT = "-XX:TieredStopAtLevel=1"
# a fixed young generation: G1 otherwise grows it job by job, and each job
# that first touches the new pages runs slower, a slope like the JIT's
YOUNG = "512m"
# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt passes the
# same list to the JVMs it forks)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "job_s": "s", "cpu_s": "s",
    "peak_rss_MB": "MB", "query_p50_ms": "ms", "query_p90_ms": "ms", "qps": "1/s"}
PER_LAYER = {
    "core.session_s": "s", "core.first_job_s": "s",
    "mr.read_s": "s", "mr.map_s": "s", "mr.map_kv": "count", "mr.reduce_s": "s",
    "mr.reduce_keys": "count", "mr.write_s": "s",
    "dedup.pairs_s": "s", "dedup.pairs": "count", "dedup.cluster_s": "s",
    "dedup.cluster_jobs": "count", "dedup.survivors": "count",
    "ann.index_build_s": "s", "ann.plan_ms": "ms", "ann.exec_ms": "ms",
    "ann.jobs_per_query": "count", "ann.tasks_per_query": "count",
    "ann.recall_at_k": "ratio",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.tasks": "count",
    "exec.sched_delay_ms": "ms", "exec.core_idle_frac": "ratio", "exec.task_skew": "ratio",
    "exec.failed_tasks": "count", "exec.peak_exec_mem_MB": "MB", "spill.MB": "MB",
    "shuffle.write_MB": "MB", "shuffle.read_MB": "MB", "shuffle.records": "count",
    "shuffle.fetch_wait_s": "s", "io.read_MB": "MB", "io.write_MB": "MB",
    "driver.gap_s": "s", "trace.overhead_frac": "ratio"}
# the span whose Spark work the exec/shuffle/io/driver metrics describe
MAIN_SPAN = {"wordcount": "mr.job", "neardup": "dedup.dedupSurvivors",
             "knn_serve": "ann.request"}


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def generate(workload, seed, input_dir):
    rng = np.random.default_rng(seed)
    if workload == "wordcount":
        return gen.gen_wordcount(rng, input_dir, **gen.WORDCOUNT)
    if workload == "neardup":
        return gen.gen_neardup(rng, input_dir, **gen.NEARDUP)
    return gen.gen_knn(rng, input_dir, **gen.KNN)


def run_jvm(classes, workload, input_dir, work, seconds, trace, seed):
    result = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ,
               SPARK_GRAFT_MASTER=f"local[{cores}]",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", JIT,
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "graft.perfbench.BenchMain",
              workload, input_dir, work, result, str(seconds), str(trace), str(seed)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({code})")
    with open(result) as f:
        return json.load(f), cores


# ------------------------------------------------------------- checks

def check(workload, res, meta):
    """(attempted, failed): every output the run produced, checked."""
    ops = []  # one bool per checked operation
    if workload == "wordcount":
        with open(res["oracle"], encoding="utf-8") as f:
            expected = analyze.canonical_lines([f.read()])
        dirs = [res["first"]] + res["warmup"] + [j["output"] for j in res["jobs"]] + [
            t[key] for t in res["traced"] for key in ("output", "written")]
        ops = [analyze.check_wordcount(expected, analyze.read_text_output(d)) for d in dirs]
        ops += [t["chars"] == meta["chars"] for t in res["traced"]]
    elif workload == "neardup":
        truth = meta["truth"]
        outs = [res["first"]] + res["warmup"] + [j["output"] for j in res["jobs"]] + [
            t["output"] for t in res["traced"]]
        ops = [analyze.check_survivors(o, truth) for o in outs]
        ops += [analyze.check_clusters(t["clusters"], truth) for t in res["traced"]]
    else:
        k = meta["k"]
        ref = analyze.reference_rows(res["jobs"][0]["output"])
        ops = [analyze.reference_rows(j["output"]) == ref
               for j in [res["oneshot_warmup"]] + res["jobs"]]
        ops.append(len(ref) == meta["pool"])
        first_queries = sorted({r[0] for r in res["first"]})
        ops.append(analyze.check_request(res["first"], first_queries, k, ref))
        ops += [analyze.check_request(r["rows"], r["queries"], k, ref)
                for r in res["warmup"] + res["requests"]]
    return len(ops), sum(1 for ok in ops if not ok)


# ------------------------------------------------------------ metrics

def end_to_end(workload, res):
    m = {"setup_s": res["setup_s"],
         "job_s": analyze.median([j["wall_s"] for j in res["jobs"]]),
         "peak_rss_MB": res["peak_rss_mb"]}
    if workload == "knn_serve":
        reqs = [r for r in res["requests"] if not r["traced"]]
        lat = [r["end"] - r["start"] for r in reqs]
        m["cpu_s"] = cpu_per_request(reqs)
        m["qps"] = len(reqs) / res["loop_s"]
    else:
        # one closed-loop client whose requests are whole jobs
        lat = [j["wall_s"] * 1e3 for j in res["jobs"]]
        m["cpu_s"] = analyze.median([j["cpu_s"] for j in res["jobs"]])
        m["qps"] = len(res["jobs"]) / sum(j["wall_s"] for j in res["jobs"])
    m["query_p50_ms"] = analyze.percentile(lat, 50)
    m["query_p90_ms"] = analyze.percentile(lat, 90)
    return m


def cpu_per_request(reqs, window_ms=1000.0):
    """Median over one-second windows of process CPU seconds per request
    completed in the window."""
    done = sorted(reqs, key=lambda r: r["end"])
    t0, c0 = done[0]["end"], done[0]["cpu_total_s"]
    ratios, n = [], 0
    for r in done[1:]:
        n += 1
        if r["end"] - t0 >= window_ms:
            ratios.append((r["cpu_total_s"] - c0) / n)
            t0, c0, n = r["end"], r["cpu_total_s"], 0
    return analyze.median(ratios) if ratios else (done[-1]["cpu_total_s"] - c0) / max(n, 1)


def per_layer(workload, res, meta, cores):
    trace = res["trace"]
    spans = trace["spans"]
    kids = analyze.children_of(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def walls(name):
        return {s["request"]: (s["end"] - s["start"]) / 1e3 for s in by_name.get(name, [])}

    def med(values):
        values = list(values)
        return analyze.median(values) if values else 0.0

    m = {name: 0.0 for name in PER_LAYER}
    m["core.session_s"] = med(walls("core.session").values())
    m["core.first_job_s"] = res["first_job_s"]
    main = by_name.get(MAIN_SPAN[workload], [])
    execs = [analyze.exec_metrics(s, kids, trace, cores) for s in main]
    for key in execs[0] if execs else []:
        if key in m:
            m[key] = med(e[key] for e in execs)
    if workload == "wordcount":
        traced = res["traced"]
        m["mr.read_s"] = med(walls("mr.read").values())
        for key in ("map_s", "map_kv", "reduce_s", "reduce_keys"):
            m["mr." + key] = med(t[key] for t in traced)
        m["mr.write_s"] = med(analyze.self_time(s, kids.get(s["id"], []))
                              for s in by_name.get("mr.write", [])) / 1e3
        untraced = med(j["wall_s"] for j in res["jobs"])
        m["trace.overhead_frac"] = med(walls("mr.job").values()) / untraced - 1
    elif workload == "neardup":
        traced = res["traced"]
        pairs, clusters = walls("dedup.jaccardPairs"), walls("dedup.dupClusters")
        m["dedup.pairs_s"] = med(pairs.values())
        m["dedup.pairs"] = med(t["pairs"] for t in traced)
        m["dedup.cluster_s"] = med(clusters[i] - pairs[i] for i in clusters if i in pairs)
        m["dedup.cluster_jobs"] = med(
            len(analyze.attributed(s["id"], kids, trace["jobs"]))
            for s in by_name.get("dedup.dupClusters", []))
        m["dedup.survivors"] = med(len(t["output"]) for t in traced)
        untraced = med(j["wall_s"] for j in res["jobs"])
        m["trace.overhead_frac"] = med(walls("dedup.dedupSurvivors").values()) / untraced - 1
    else:
        reqs = res["requests"]
        traced = [r for r in reqs if r["traced"]]
        m["ann.index_build_s"] = med(walls("ann.index_build").values())
        m["ann.plan_ms"] = med(r["plan_ms"] for r in traced if "plan_ms" in r)
        m["ann.exec_ms"] = med(r["end"] - r["start"] - r["plan_ms"]
                               for r in traced if "plan_ms" in r)
        m["ann.jobs_per_query"] = med(e["jobs"] for e in execs)
        m["ann.tasks_per_query"] = med(e["exec.tasks"] for e in execs)
        hit = att = 0
        for r in reqs:
            h, a = analyze.recall_counts(r["rows"], meta["exact_topk"])
            hit, att = hit + h, att + a
        m["ann.recall_at_k"] = hit / att if att else 0.0
        lat_t = [r["end"] - r["start"] for r in traced]
        lat_u = [r["end"] - r["start"] for r in reqs if not r["traced"]]
        m["trace.overhead_frac"] = analyze.median(lat_t) / analyze.median(lat_u) - 1
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classes = build.build()
    work = os.path.join(build.BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        meta = generate(a.workload, a.seed, os.path.join(work, "input"))
        log(f"generated {a.workload} inputs in {time.time() - t0:.1f} s")
        res, cores = run_jvm(classes, a.workload, os.path.join(work, "input"), work,
                             a.seconds, a.trace, a.seed)
        attempted, failed = check(a.workload, res, meta)
        if a.trace:
            values = per_layer(a.workload, res, meta, cores)
            units = PER_LAYER
        else:
            values = end_to_end(a.workload, res)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
