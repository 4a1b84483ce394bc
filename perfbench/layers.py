"""Per-layer metrics from the spans of a traced run.

Every figure is per traced warm pass (the total over traced passes divided by
their number); ratios are taken over the totals. Layers use the engine's
module names: session, queries (builder calls), plans (Catalyst phases),
sources (scans), sched (jobs, stages, tasks), exec (executor compute),
shuffle/spill, cache (persisted blocks), streaming (StreamingOps progress).
"""
import statistics
from collections import defaultdict

MB = 1 << 20

# name -> unit, in report order
UNITS = {
    "session.start_s": "s", "session.cold_pass_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.rows_in_per_row_out": "ratio",
    "sched.jobs": "count", "sched.jobs_per_query": "count",
    "sched.stages": "count", "sched.stages_skipped": "count",
    "sched.tasks": "count", "sched.task_delay_s": "s",
    "sched.driver_only_s": "s", "sched.tasks_failed": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.cpu_util": "ratio", "exec.peak_mem_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms", "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "cache.blocks_written": "count", "cache.block_mb": "MB",
    "cache.stage_reuse_ratio": "ratio",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms": "ms",
    "stream_rows_per_s": "rows/s", "microbatch_p50_ms": "ms",
    "microbatch_tail_ms": "ms",
    "trace.overhead_s": "s", "trace.unattributed_share": "ratio",
}

_PROGRESS = {"streaming.add_batch_ms": "ms.addBatch",
             "streaming.latest_offset_ms": "ms.latestOffset",
             "streaming.query_planning_ms": "ms.queryPlanning",
             "streaming.wal_commit_ms": "ms.walCommit",
             "streaming.commit_offsets_ms": "ms.commitOffsets"}


def union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def entry_sums(spans, rows_out):
    """Raw per-entry-execution sums, keyed by entry span id."""
    by_kind = defaultdict(list)
    for s in spans:
        by_kind[s["kind"]].append(s)
    entries = {s["id"]: s for s in by_kind["entry"]}
    owner = {}  # entry, build or sink span id -> entry span id
    for s in by_kind["build"] + by_kind["sink"]:
        owner[s["id"]] = s["parent"]
    for eid in entries:
        owner[eid] = eid
    jobs_of = defaultdict(list)
    job_entry = {}
    for j in by_kind["job"]:
        eid = owner.get(j["parent"])
        if eid is not None:
            jobs_of[eid].append(j)
            job_entry[j["id"]] = eid
    stages_of = defaultdict(list)
    for st in by_kind["stage"]:
        eid = job_entry.get(st["parent"])
        if eid is not None:
            stages_of[eid].append(st)

    def within(kind):
        # spans with no recorded parent belong to the entry running then
        out = defaultdict(list)
        for s in by_kind[kind]:
            for eid, e in entries.items():
                if e["start"] <= s["start"] <= e["end"]:
                    out[eid].append(s)
                    break
        return out
    plans_of, blocks_of = within("plan"), within("block")
    batches_of = defaultdict(list)
    for b in by_kind["microbatch"]:
        batches_of[b["parent"]].append(b)
    builds_of = defaultdict(list)
    for b in by_kind["build"]:
        builds_of[b["parent"]].append(b)

    out = {}
    for eid, e in entries.items():
        lo, hi = e["start"], e["end"]
        jobs, stages = jobs_of[eid], stages_of[eid]
        build_ids = {b["id"] for b in builds_of[eid]}

        def st(k):
            return sum(s["attrs"][k] for s in stages)

        def bt(k):
            return sum(b["attrs"].get(k, 0.0) for b in batches_of[eid])
        job_iv = [(j["start"], j["end"]) for j in jobs]
        plan_iv = [(p["start"], p["end"]) for p in plans_of[eid]]
        build_iv = [(b["start"], b["end"]) for b in builds_of[eid]]
        r = {
            "name": e["name"], "pass": e["parent"], "wall_s": (hi - lo) / 1e3,
            "queries.build_s": sum(b - a for a, b in build_iv) / 1e3,
            "queries.build_jobs": sum(1 for j in jobs if j["parent"] in build_ids),
            "plans.analysis_ms": sum(p["attrs"]["analysis_ms"] for p in plans_of[eid]),
            "plans.optimization_ms": sum(p["attrs"]["optimization_ms"] for p in plans_of[eid]),
            "plans.planning_ms": sum(p["attrs"]["planning_ms"] for p in plans_of[eid]),
            "sources.input_mb": st("input_bytes") / MB,
            "sources.input_rows": st("input_rows"),
            "rows_out": rows_out.get(e["name"], 0),
            "sched.jobs": len(jobs),
            "sched.stages": sum(j["attrs"]["stages"] for j in jobs),
            "sched.stages_skipped": sum(j["attrs"]["stages_skipped"] for j in jobs),
            "sched.tasks": st("tasks"),
            "sched.task_delay_s": st("delay_ms") / 1e3,
            "sched.driver_only_s": (hi - lo - union_ms(job_iv, lo, hi)) / 1e3,
            "sched.tasks_failed": st("tasks_failed"),
            "exec.run_s": st("run_ms") / 1e3,
            "exec.cpu_s": st("cpu_ms") / 1e3,
            "exec.gc_s": st("gc_ms") / 1e3,
            "exec.peak_mem_mb": max([s["attrs"]["peak_mem_bytes"] for s in stages],
                                    default=0.0) / MB,
            "shuffle.write_mb": st("shuffle_write_bytes") / MB,
            "shuffle.read_mb": st("shuffle_read_bytes") / MB,
            "shuffle.fetch_wait_ms": st("fetch_wait_ms"),
            "spill.mem_mb": st("spill_mem_bytes") / MB,
            "spill.disk_mb": st("spill_disk_bytes") / MB,
            "cache.blocks_written": len(blocks_of[eid]),
            "cache.block_mb": sum(b["attrs"]["bytes"] for b in blocks_of[eid]) / MB,
            "streaming.batches": len(batches_of[eid]),
            "streaming.state_rows": max([b["attrs"]["state_rows"] for b in batches_of[eid]],
                                        default=0.0),
            "streaming.state_mem_mb": max([b["attrs"]["state_mem_bytes"]
                                           for b in batches_of[eid]], default=0.0) / MB,
            "streaming.state_commit_ms": bt("state_commit_ms"),
            "unattributed_s": (hi - lo - union_ms(job_iv + plan_iv + build_iv, lo, hi)) / 1e3,
        }
        for k, attr in _PROGRESS.items():
            r[k] = bt(attr)
        out[eid] = r
    return out


def ratios(t, cpus):
    """Adds the ratio metrics to summed figures `t` (in place)."""
    wall = t["wall_s"] or 1e-9
    t["queries.build_share"] = t["queries.build_s"] / wall
    t["sched.jobs_per_query"] = t["sched.jobs"] / max(t["entries"], 1)
    t["exec.cpu_util"] = t["exec.cpu_s"] / (wall * cpus)
    stages = t["sched.stages"] + t["sched.stages_skipped"]
    t["cache.stage_reuse_ratio"] = t["sched.stages_skipped"] / stages if stages else 0.0
    t["sources.rows_in_per_row_out"] = (t["sources.input_rows"] / t["rows_out"]
                                        if t["rows_out"] else 0.0)
    t["trace.unattributed_share"] = t["unattributed_s"] / wall
    return t


_MAXED = {"exec.peak_mem_mb", "streaming.state_rows", "streaming.state_mem_mb"}
_RATIOS = {"queries.build_share", "sched.jobs_per_query", "exec.cpu_util",
           "cache.stage_reuse_ratio", "sources.rows_in_per_row_out",
           "trace.unattributed_share"}


def _total(rows, cpus, runs):
    """Sums (maxima for levels) over entry executions, per run, plus ratios."""
    t = defaultdict(float)
    for r in rows:
        for k, v in r.items():
            if k not in ("name", "pass"):
                t[k] = max(t[k], v) if k in _MAXED else t[k] + v
    t["entries"] = len(rows)
    ratios(t, cpus)
    for k in list(t):
        if k not in _MAXED and k not in _RATIOS:
            t[k] /= runs
    return t


def summarize(result, rows_out, stream):
    """Workload-level and per-entry per-layer metrics of a traced run.
    `stream` holds the run's stream-only end-to-end figures."""
    cpus = result["cpus"]
    per_exec = entry_sums(result["spans"], rows_out)
    traced = [p["seconds"] for p in result["passes"] if p["traced"]]
    untraced = [p["seconds"] for p in result["passes"] if not p["traced"]]
    w = _total(per_exec.values(), cpus, max(len(traced), 1))
    setup = result["setups"][0]
    w["session.start_s"] = setup["sessionSeconds"]
    w["session.cold_pass_s"] = setup["passSeconds"]
    w["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced)
                             if traced and untraced else 0.0)
    w.update(stream)
    metrics = {k: {"value": float(w.get(k, 0.0)), "unit": u} for k, u in UNITS.items()}
    by_name = defaultdict(list)
    for r in per_exec.values():
        by_name[r["name"]].append(r)
    entries = {name: {k: round(v, 6) for k, v in _total(rows, cpus, len(rows)).items()}
               for name, rows in sorted(by_name.items())}
    return metrics, entries
