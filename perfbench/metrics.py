"""Turns a raw run record (written by perfbench.Main) into metrics.

Stateless functions, so the arithmetic is unit-tested in
test_metrics.py: the tail-percentile rule, interval unions, self time,
and the call-site -> module map.
"""
import math
import os
import re
import statistics

TAIL_GRID = range(99, 49, -1)
LAYERS = ("ga", "ops", "text", "vec", "sources", "api")


def nearest_rank(sorted_xs, p):
    """The p-th percentile by nearest rank, and its 0-based index."""
    i = max(0, math.ceil(p / 100.0 * len(sorted_xs)) - 1)
    return sorted_xs[i], i


def tail_percentile(samples):
    """The highest whole percentile (p99 down to p50) with at least ten
    samples beyond it: (percentile, value, samples beyond). With fewer
    than twenty samples none qualifies and the maximum is returned as
    p100, with no sample beyond it."""
    xs = sorted(samples)
    for p in TAIL_GRID:
        v, i = nearest_rank(xs, p)
        if len(xs) - 1 - i >= 10:
            return p, v, len(xs) - 1 - i
    return 100, xs[-1], 0


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in union(intervals))


def self_time(span, children):
    """A span's duration minus the part its children cover."""
    return (span[1] - span[0]) - covered(children, span[0], span[1])


def module_map(src_root):
    """Source file name -> module: the package directory under graft/
    (`Snapshots.scala` -> `sources`), or the file's own name for files
    directly in graft/ (`Ckpt.scala` -> `Ckpt`)."""
    out = {}
    for d, _, files in os.walk(src_root):
        rel = os.path.relpath(d, src_root).split(os.sep)
        for f in files:
            if f.endswith(".scala"):
                out[f] = rel[0] if rel[0] != "." else f[:-len(".scala")]
    return out


SITE_RE = re.compile(r"\bat ([A-Za-z0-9_$]+\.scala):\d+")


def site_module(site, modules):
    """Module of a job's call site ("save at Snapshots.scala:231"), or
    "other" when the site names no engine file."""
    m = SITE_RE.search(site or "")
    return modules.get(m.group(1), "other") if m else "other"


def end_to_end(rec, gen_s):
    """End-to-end metrics of an untraced run record. Returns
    (metrics, stamps): stamps carries the tail percentile and counts."""
    ok = [o for o in rec["ops"] if o["ok"]]
    lat = [o["end"] - o["start"] for o in ok]
    window = rec["window_s"]
    p, tail, beyond = tail_percentile(lat)
    m = {
        "setup_s": (gen_s + rec["jvm_boot_s"]
                    + statistics.median(rec["setup_reps_s"]), "s"),
        "ops_per_s": (len(ok) / window, "op/s"),
        "op_latency_p50_s": (statistics.median(lat), "s"),
        "op_latency_tail_s": (tail, "s"),
        "input_rows_per_s": (rec["rows_read"] / window, "rows/s"),
        "live_heap_peak_mb": (max(rec["heap_mb"]), "MB"),
    }
    stamps = {"tail_percentile": p, "tail_samples_beyond": beyond,
              "samples": len(lat), "passes": rec["passes"]}
    return m, stamps


def per_layer(rec, modules, stored_ratio):
    """Per-layer metrics from the traced passes of a run record: each is
    a mean per op (per tick on curate_ingest) unless its name says
    otherwise."""
    tr = rec["trace"]
    ops = [o for o in rec["ops"] if o["traced"] and o["ok"]]
    n = max(1, len(ops))
    spans = {str(o["span"]): o for o in ops}
    by_span = {sid: {"jobs": [], "stages": []} for sid in spans}
    for j in tr["jobs"]:
        if j["span"] in by_span:
            by_span[j["span"]]["jobs"].append(j)
    for st in tr["stages"]:
        if st["span"] in by_span:
            by_span[st["span"]]["stages"].append(st)

    tot = {}

    def add(k, v):
        tot[k] = tot.get(k, 0.0) + v

    layer = {m: 0.0 for m in LAYERS}
    wall = 0.0
    stragglers = []
    curate = rec["workload"] == "curate_ingest"
    for sid, o in spans.items():
        t0, t1 = o["start"], o["end"]
        wall += t1 - t0
        add("plan.build_s", o["build_end"] - t0)
        for pl in tr["plans"]:
            if t0 <= pl["start"] <= t1:
                add("plan.analysis_s", pl["analysis_s"])
                add("plan.optimization_s", pl["optimization_s"])
                add("plan.physical_s", pl["physical_s"])
                add("scan.bytes", pl["scan_bytes"])
        jobs = by_span[sid]["jobs"]
        stages = by_span[sid]["stages"]
        add("sched.jobs", len(jobs))
        add("sched.stages", len(stages))
        add("sched.tasks", sum(s["tasks"] for s in stages))
        add("sched.driver_gap_s", self_time(
            (t0, t1), [(j["start"], j["end"]) for j in jobs]))
        for s in stages:
            w = s["end"] - s["start"]
            add("exec.stage_wall_s", w)
            if s["tasks"] == 1:
                add("exec.single_task_stage_s", w)
            if s["ok_tasks"] >= 2 and s["task_median_s"] > 0:
                stragglers.append(s["task_max_s"] / s["task_median_s"])
            for k, name in (("task_time_s", "exec.task_time_s"),
                            ("task_cpu_s", "exec.task_cpu_s"),
                            ("gc_s", "exec.gc_s"),
                            ("shuffle_write_bytes", "shuffle.write_bytes"),
                            ("shuffle_read_bytes", "shuffle.read_bytes"),
                            ("spill_bytes", "spill.bytes"),
                            ("scan_rows", "scan.rows"),
                            ("write_bytes", "write.bytes"),
                            ("write_rows", "write.rows"),
                            ("ok_tasks", "_ok_tasks"),
                            ("failed_tasks", "_failed_tasks")):
                add(name, s[k])
        add("fs.read_ops", o["fs_read_ops"])
        add("fs.write_ops", o["fs_write_ops"])
        src = [(j["start"], j["end"]) for j in jobs
               if site_module(j["site"], modules) == "sources"]
        rest = [(j["start"], j["end"]) for j in jobs
                if site_module(j["site"], modules) != "sources"]
        add("sources.job_wall_s", covered(src, t0, t1))
        add("_commit_wall", sum(b - a for a, b in src))
        add("_commit_overlap", sum(covered(rest, a, b) for a, b in src))
        if curate:
            for m in LAYERS:
                layer[m] += covered(
                    [(j["start"], j["end"]) for j in jobs
                     if site_module(j["site"], modules) == m], t0, t1)
        elif o["module"] in layer:
            layer[o["module"]] += t1 - t0

    names = ("plan.build_s plan.analysis_s plan.optimization_s "
             "plan.physical_s sched.jobs sched.stages sched.tasks "
             "sched.driver_gap_s exec.stage_wall_s exec.task_time_s "
             "exec.task_cpu_s exec.single_task_stage_s exec.gc_s "
             "shuffle.write_bytes shuffle.read_bytes "
             "spill.bytes scan.bytes scan.rows write.bytes write.rows "
             "fs.read_ops fs.write_ops sources.job_wall_s").split()
    units = {"sched.jobs": "count", "sched.stages": "count",
             "sched.tasks": "count", "scan.rows": "rows",
             "write.rows": "rows", "fs.read_ops": "count",
             "fs.write_ops": "count"}
    out = {}
    for k in names:
        unit = units.get(k, "B" if k.endswith("bytes") else "s")
        out[k] = (tot.get(k, 0.0) / n, unit)
    tasks = tot.get("_ok_tasks", 0.0) + tot.get("_failed_tasks", 0.0)
    out["exec.busy_cores"] = (
        tot.get("exec.task_time_s", 0.0) / wall if wall else 0.0, "cores")
    out["exec.straggler_ratio"] = (
        statistics.median(stragglers) if stragglers else 1.0, "1")
    out["exec.task_success_frac"] = (
        tot.get("_ok_tasks", 0.0) / tasks if tasks else 1.0, "1")
    cw = tot.get("_commit_wall", 0.0)
    out["sources.commit_overlap_frac"] = (
        tot.get("_commit_overlap", 0.0) / cw if cw else 0.0, "1")
    latest = [s["end"] - s["start"] for s in tr["spans"]
              if s["name"].startswith("latest:")]
    out["sources.latest_ms"] = (
        statistics.median(latest) * 1e3 if latest else 0.0, "ms")
    for m in LAYERS:
        out[f"layer.{m}.s"] = (layer[m] / n, "s")
    out["ckpt.bytes_peak"] = (float(tr["ckpt_bytes_peak"]), "B")
    out["write.stored_bytes_per_input_byte"] = (stored_ratio, "1")
    out["trace.overhead_frac"] = (overhead(rec["ops"]), "1")
    return out


def overhead(ops):
    """Traced over untraced op wall, minus one, over the ops that ran
    both ways in the same run."""
    walls = {True: {}, False: {}}
    for o in ops:
        if o["ok"]:
            walls[o["traced"]].setdefault(o["op"], []).append(o["end"] - o["start"])
    both = set(walls[True]) & set(walls[False])
    t = sum(statistics.mean(walls[True][k]) for k in both)
    u = sum(statistics.mean(walls[False][k]) for k in both)
    return t / u - 1.0 if u else 0.0
