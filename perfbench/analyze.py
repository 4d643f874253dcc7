"""Pure logic of the benchmark: percentiles, span arithmetic, attribution of
listener records to spans, and the output checkers. No I/O beyond reading
an output directory's part files; unit tested in ``perfbench/tests``.
"""
import glob
import os


def percentile(values, p):
    """The ``p``-th percentile (0..100) by linear interpolation between
    closest ranks; the 50th is the median."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


# ---------------------------------------------------------------- spans

def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of ``(start, end)`` intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children's intervals cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def subtree_ids(span_id, kids):
    """The span's id and the ids of every span below it."""
    out, todo = set(), [span_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(c["id"] for c in kids.get(sid, []))
    return out


def attributed(span_id, kids, records):
    """Records (jobs, stages or tasks) whose job group is the span or one of
    its descendants: the work the span caused."""
    ids = subtree_ids(span_id, kids)
    return [r for r in records if r.get("group") in ids]


def exec_metrics(span, kids, trace, cores):
    """Executor, shuffle, I/O and driver figures of the work one span caused."""
    jobs = attributed(span["id"], kids, trace["jobs"])
    stages = attributed(span["id"], kids, trace["stages"])
    tasks = attributed(span["id"], kids, trace["tasks"])
    wall_ms = span["end"] - span["start"]
    dur = [t["finish"] - t["launch"] for t in tasks]
    submitted = {s["stage"]: s["submitted"] for s in stages}

    def total(key):
        return sum(t.get(key, 0) for t in tasks)

    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: s["completed"] - s["submitted"])
        ts = [t["finish"] - t["launch"] for t in tasks if t["stage"] == longest["stage"]]
        if ts and median(ts) > 0:
            skew = max(ts) / median(ts)
    delays = [t["launch"] - submitted[t["stage"]] for t in tasks if t["stage"] in submitted]
    return {
        "exec.task_s": sum(dur) / 1e3,
        "exec.task_cpu_s": total("cpu_ns") / 1e9,
        "exec.gc_s": total("gc_ms") / 1e3,
        "exec.tasks": len(tasks),
        "exec.sched_delay_ms": median(delays) if delays else 0.0,
        "exec.core_idle_frac": 1.0 - sum(dur) / (cores * wall_ms) if wall_ms > 0 else 0.0,
        "exec.task_skew": skew,
        "exec.failed_tasks": sum(1 for t in tasks if not t["ok"] or t["attempt"] > 0),
        "exec.peak_exec_mem_MB": max((t.get("peak_mem", 0) for t in tasks), default=0) / 1e6,
        "spill.MB": total("spill") / 1e6,
        "shuffle.write_MB": total("sw_bytes") / 1e6,
        "shuffle.read_MB": total("sr_bytes") / 1e6,
        "shuffle.records": total("sw_records"),
        "shuffle.fetch_wait_s": total("fetch_wait_ms") / 1e3,
        "io.read_MB": total("in_bytes") / 1e6,
        "io.write_MB": total("out_bytes") / 1e6,
        "driver.gap_s": (wall_ms - covered([(j["start"], j["end"]) for j in jobs],
                                           span["start"], span["end"])) / 1e3,
        "jobs": len(jobs),
    }


# ------------------------------------------------------------- checkers

def canonical_lines(texts):
    """All non-empty lines of the given texts, sorted: the reference
    harness's ``sort | grep .`` canonical form."""
    return sorted(line for t in texts for line in t.split("\n") if line)


def read_text_output(out_dir):
    """Contents of every part file a Spark text write left in ``out_dir``."""
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return None
    texts = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, encoding="utf-8") as f:
            texts.append(f.read())
    return texts


def check_wordcount(expected_lines, texts):
    """A job's written output equals the oracle's lines (both canonical)."""
    return texts is not None and canonical_lines(texts) == expected_lines


def expected_survivors(truth):
    """Planted truth {doc_id: cluster_id} -> {survivor doc_id: members}."""
    sizes = {}
    for cluster in truth.values():
        sizes[cluster] = sizes.get(cluster, 0) + 1
    return sizes


def check_survivors(rows, truth):
    """``dedupSurvivors`` rows (doc_id, n_members) equal the planted groups:
    one survivor per group, its minimum doc_id, with the group's size."""
    got = {}
    for doc_id, n in rows:
        if doc_id in got:
            return False
        got[doc_id] = n
    return got == expected_survivors(truth)


def check_clusters(rows, truth):
    """``dupClusters`` rows (doc_id, cluster_id): every document present
    once, with the minimum doc_id of its planted group."""
    got = dict((d, c) for d, c in rows)
    return len(got) == len(rows) == len(truth) and got == truth


def check_request(rows, queries, k, reference):
    """One served request: k rows for every query, ranks 1..k, ``sim``
    non-increasing with rank, and the same rows as the one-shot search."""
    by_query = {}
    for q, n, rank, sim in rows:
        by_query.setdefault(q, []).append((rank, n, sim))
    if sorted(by_query) != sorted(queries):
        return False
    for q, hits in by_query.items():
        hits.sort()
        if [r for r, _, _ in hits] != list(range(1, k + 1)):
            return False
        sims = [s for _, _, s in hits]
        if any(a < b for a, b in zip(sims, sims[1:])):
            return False
        if [(n, s) for _, n, s in hits] != reference.get(q):
            return False
    return True


def reference_rows(rows):
    """One-shot search rows -> {query: [(neighbor, sim) by rank]}."""
    ref = {}
    for q, n, rank, sim in sorted(rows, key=lambda r: (r[0], r[2])):
        ref.setdefault(q, []).append((n, sim))
    return ref


def recall_counts(rows, exact):
    """(neighbors also in the exact top-k, neighbors expected) over the
    queries of ``rows`` that have an exact answer."""
    found = {}
    for q, n, _, _ in rows:
        found.setdefault(q, set()).add(n)
    hit = attempted = 0
    for q, ns in found.items():
        if q in exact:
            hit += len(ns & set(exact[q]))
            attempted += len(exact[q])
    return hit, attempted
