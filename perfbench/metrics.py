"""Arithmetic that turns a harness dump into metrics.

Kept apart from the runner so `perfbench/test_metrics.py` can check it
without Spark.
"""
import math
import statistics


def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile, or None when fewer than `beyond` samples
    lie above it (a tail percentile needs samples past it to mean much)."""
    xs = sorted(values)
    if not xs:
        return None
    i = max(0, math.ceil(q * len(xs)) - 1)
    if len(xs) - (i + 1) < beyond:
        return None
    return xs[i]


def tail(values, candidates=(0.99, 0.95, 0.9, 0.75)):
    """(q, value) of the highest candidate percentile the sample supports,
    or None. A run of the default length supports none; longer runs
    (--seconds) get one."""
    for q in candidates:
        v = percentile(values, q)
        if v is not None:
            return q, v
    return None


def _add_tail(m, fmt, values):
    t = tail(values)
    if t is not None:
        m[fmt % round(t[0] * 100)] = (t[1], len(values))


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, each clipped
    to [lo, hi] when given. Overlapping jobs (AQE runs several at once)
    count once."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, job_intervals):
    """Wall of [start, end] not covered by any job; never negative."""
    return (end - start) - union_length(job_intervals, start, end)


def median(values):
    return statistics.median(values) if values else 0.0


def _dur(s):
    return s["end"] - s["start"]


def compute(dump, workload, nproc, launch_epoch_s):
    """End-to-end and per-layer metrics from one harness dump, as
    {name: (value, samples)}; per-layer names absent here read as 0."""
    m = {}
    w = dump["window"]
    m["setup_s"] = (dump["setup_end_epoch_ms"] / 1000.0 - launch_epoch_s, 1)
    wall = (w["end"] - w["start"]) / 1000.0
    m["wall_s"] = (wall, 1)
    m["cpu_s"] = (w["cpu_ns"] / 1e9, 1)
    m["peak_rss_mb"] = (w["vm_hwm_kb"] / 1024.0, 1)

    spans = dump.get("spans", [])
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total_s(name):
        return sum(_dur(s) for s in by_name.get(name, [])) / 1000.0

    for name in ("Sessions.build", "AnnIvf.ensureIndex", "Pq.ensureCodebook"):
        m[name + "_s"] = (total_s(name), len(by_name.get(name, [])))
    m["warmup_s"] = (total_s("warmup"), 1)
    m["jvm.jit_ms"] = (float(dump.get("setup_jit_ms", 0)), 1)
    m["jvm.gc_s"] = (w["gc_ms"] / 1000.0, 1)

    # Window metrics count only what started inside the timed window
    # (set-up may run operations of the same kinds as warm-up).
    ops = [o for o in dump["ops"] if o["start"] >= w["start"]]
    in_window = {}
    for s in spans:
        if s["start"] >= w["start"]:
            in_window.setdefault(s["name"], []).append(s)
    jobs = [j for j in dump.get("jobs", []) if "end" in j and j["start"] >= w["start"]]
    window_jobs = {j["id"] for j in jobs}
    stages = [st for st in dump.get("stages", []) if st["job"] in window_jobs]
    if workload in ("registry-light", "operators-heavy"):
        _registry(m, dump, ops, workload, jobs, stages, in_window)
    if jobs:
        _tasks(m, w, jobs, stages, nproc)
    if workload == "store-mixed":
        _store(m, dump, ops, jobs, in_window)
    return m


def _registry(m, dump, ops, workload, jobs, stages, by_name):
    rows = [o for o in ops if o["kind"] == "row"]
    walls = [_dur(o) / 1000.0 for o in rows]
    m["query_p50_s"] = (median(walls), len(walls))
    _add_tail(m, "query_p%d_s", walls)
    if workload == "operators-heavy":
        for o, x in zip(rows, walls):
            m["row.%s_s" % o["name"]] = (x, 1)
    else:
        fam = {}
        for o, x in zip(rows, walls):
            f = "_".join(o["name"].split("_")[:2])
            fam[f] = fam.get(f, 0.0) + x
        for f, x in fam.items():
            m["family.%s_s" % f] = (x, 1)
    if not jobs:
        return
    builds = {}
    for s in by_name.get("SparkEntry.build", []):
        builds.setdefault(s["parent"], []).append(_dur(s))
    row_span = {s["id"]: s for s in by_name.get("row", [])}
    build_by_row = {row_span[p]["row"]: sum(v) for p, v in builds.items() if p in row_span}
    plan = {}
    for q in dump.get("queries", []):
        plan[q["op"]] = plan.get(q["op"], 0) + q["optimization_ms"] + q["planning_ms"]
    replans = {}
    for x in dump.get("execs", []):
        replans[x["op"]] = replans.get(x["op"], 0) + x["replans"]
    stage_n, task_n = {}, {}
    job_op = {j["id"]: j["op"] for j in jobs}
    for st in stages:
        op = job_op.get(st["job"])
        if op is not None:
            stage_n[op] = stage_n.get(op, 0) + 1
            task_n[op] = task_n.get(op, 0) + st["tasks"]
    per = {k: [] for k in ("SparkEntry.build_ms", "catalyst.rule_ms", "catalyst.plan_ms",
                          "codegen.compile_ms", "exec.job_span_s", "exec.driver_gap_s")}
    counts = {k: 0 for k in ("aqe.replans", "exec.jobs", "exec.stages", "exec.tasks")}
    for o in rows:
        name = o["name"]
        ivs = [(j["start"], j["end"]) for j in jobs if j["op"] == name]
        span = union_length(ivs, o["start"], o["end"]) / 1000.0
        per["SparkEntry.build_ms"].append(build_by_row.get(name, 0.0))
        per["catalyst.rule_ms"].append(o.get("rule_ns", 0) / 1e6)
        per["catalyst.plan_ms"].append(float(plan.get(name, 0)))
        per["codegen.compile_ms"].append(o.get("compile_ns", 0) / 1e6)
        per["exec.job_span_s"].append(span)
        per["exec.driver_gap_s"].append(driver_gap(o["start"], o["end"], ivs) / 1000.0)
        counts["aqe.replans"] += replans.get(name, 0)
        counts["exec.jobs"] += len(ivs)
        counts["exec.stages"] += stage_n.get(name, 0)
        counts["exec.tasks"] += task_n.get(name, 0)
    for k, xs in per.items():
        m[k] = (sum(xs), len(xs))
        m[k + ".p50"] = (median(xs), len(xs))
    for k, v in counts.items():
        m[k] = (float(v), len(rows))


def _tasks(m, w, jobs, stages, nproc):
    def tot(key):
        return sum(st[key] for st in stages)
    m["task.run_s"] = (tot("run_ms") / 1000.0, len(stages))
    m["task.cpu_s"] = (tot("cpu_ns") / 1e9, len(stages))
    m["task.gc_s"] = (tot("gc_ms") / 1000.0, len(stages))
    span = union_length([(j["start"], j["end"]) for j in jobs], w["start"], w["end"])
    m["task.slot_busy"] = (tot("dur_ms") / (span * nproc) if span > 0 else 0.0, len(stages))
    skews = [st["max_dur_ms"] / (st["dur_ms"] / st["tasks"])
             for st in stages if st["tasks"] >= 2 and st["dur_ms"] > 0]
    m["task.skew_max"] = (max(skews) if skews else 1.0, len(skews))
    for name, key in (("scan.bytes", "in_bytes"), ("scan.records", "in_records"),
                      ("shuffle.write_bytes", "sh_write"), ("shuffle.read_bytes", "sh_read"),
                      ("spill.memory_bytes", "mem_spill"), ("spill.disk_bytes", "disk_spill")):
        m[name] = (float(tot(key)), len(stages))
    m["shuffle.fetch_wait_s"] = (tot("fetch_wait_ms") / 1000.0, len(stages))


def _store(m, dump, ops, jobs, by_name):
    commits = [o for o in ops if o["kind"] == "commit" and o["name"] != "compact"]
    reads = [o for o in ops if o["kind"] == "read"]
    for label, xs in (("commit", commits), ("read", reads)):
        lat = [_dur(o) for o in xs]
        m["store.%s_p50_ms" % label] = (median(lat), len(lat))
        _add_tail(m, "store." + label + "_p%d_ms", lat)
    s = dump["store"]
    m["store.write_amp"] = (s["written_bytes"] / max(1, s["user_bytes"]), 1)
    m["store.space_amp"] = (s["disk_bytes"] / max(1, s["live_bytes"]), 1)
    m["store.manifest_bytes"] = (float(s["manifest_bytes"]), 1)
    m["store.live_files"] = (float(s["live_files"]), 1)
    m["store.versions"] = (float(s["version"]), 1)
    m["store.bytes_rewritten"] = (float(s["rewritten_bytes"]), 1)
    m["store.reads_behind_current"] = (float(sum(1 for o in reads if o.get("ahead", 0) > 0)),
                                       len(reads))
    all_commits = [o for o in ops if o["kind"] == "commit"]
    m["store.rebases"] = (float(sum(1 for o in all_commits
                                    if o["ok"] and o["version"] > o["base"] + 1)), len(all_commits))
    m["store.conflicts"] = (float(sum(o["conflicts"] for o in all_commits)), len(all_commits))
    m["store.retries"] = (float(sum(o["attempts"] - 1 for o in all_commits)), len(all_commits))
    if not by_name.get("SnapshotStore.currentVersion"):
        return
    for call in ("append", "delete", "merge", "read_plan", "read_exec", "currentVersion"):
        xs = [_dur(s) for s in by_name.get("SnapshotStore." + call, [])]
        m["SnapshotStore.%s_ms" % call] = (median(xs), len(xs))
    for call in ("maintain", "compact", "vacuum"):
        xs = [_dur(s) / 1000.0 for s in by_name.get("SnapshotStore." + call, [])]
        m["SnapshotStore.%s_s" % call] = (sum(xs), len(xs))
    appends = by_name.get("SnapshotStore.append", [])
    job_s, gaps = 0.0, []
    for a in appends:
        ivs = [(j["start"], j["end"]) for j in jobs if j["span"] == a["id"]]
        job_s += union_length(ivs, a["start"], a["end"])
        gaps.append(driver_gap(a["start"], a["end"], ivs))
    m["SnapshotStore.append_job_s"] = (job_s / 1000.0, len(appends))
    m["SnapshotStore.append_driver_ms"] = (median(gaps), len(gaps))
    cspans = [s for k in ("append", "delete", "merge", "compact")
              for s in by_name.get("SnapshotStore." + k, [])]
    m["store.wchar_per_commit"] = (
        sum(s.get("io.wchar", 0) for s in cspans) / max(1, len(cspans)), len(cspans))
    plans = by_name.get("SnapshotStore.read_plan", [])
    m["store.manifest_rchar_per_read"] = (
        sum(s.get("io.rchar", 0) for s in plans) / max(1, len(plans)), len(plans))
    pr = [o for o in reads if o.get("files_total", 0) > 0 and o["part"]]
    m["store.pruned_ratio"] = (
        sum(1 - o["files_read"] / o["files_total"] for o in pr) / max(1, len(pr)), len(pr))
