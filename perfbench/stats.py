"""Statistics and span arithmetic for the benchmark: percentiles, interval
unions, the per-call layer breakdown of a traced pass, and the metrics
run.py reports. Pure functions over the harness's raw JSON."""
import statistics

MB = 1048576.0
TAIL_BEYOND = 10
# Most traced plan/job time of a pass that may lie outside the call it is
# billed to, or in no call, before the run's trace counts as failed.
STRAY_LIMIT_S = 0.05


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    That is the (n - beyond)-th smallest value; its percentile is
    100 * (n - beyond) / n. Returns (value, percentile, n), or None when
    there are not more than `beyond` samples."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond
    return xs[rank - 1], 100.0 * rank / n, n


# ---- intervals: lists of (start, end) pairs --------------------------------

def union(intervals):
    """Disjoint, sorted intervals covering the same points."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def intersect(a, b):
    """Points in both interval sets, as disjoint intervals."""
    a, b = union(a), union(b)
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if e > s:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


# ---- the traced pass ---------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")


def plan_intervals(plan):
    return [tuple(plan["phases"][p]) for p in PHASES if p in plan["phases"]]


def within(rec, lo, hi, slack=1.0):
    """Whether a listener record (integer-ms times) starts inside [lo, hi]."""
    return lo - slack <= rec["start"] <= hi + slack


def call_breakdown(call, plans, jobs, stages):
    """Split one call's wall into layer self times that add up to it.

    The call's children are query planning (the planner's analysis,
    optimization and planning phases) and Spark jobs; a job's children are
    its stages. Time covered by a job counts to the job even when a plan
    overlaps it, so:
        sql        planning covered by no job
        scheduler  job time with no stage running
        executor   time some stage runs
        gap        call wall nothing covers (eager driver work, harness)
    The four add up to the wall by construction; what can go wrong is the
    billing of records to calls, which `stray_ms` measures. All times in
    ms."""
    lo, hi = call["start"], call["end"]
    plan_iv = union(clip([iv for p in plans for iv in plan_intervals(p)], lo, hi))
    job_iv = union(clip([(j["start"], j["end"]) for j in jobs], lo, hi))
    stage_iv = intersect([(s["start"], s["end"]) for s in stages if s["start"] >= 0], job_iv)
    jobs_ms = length(job_iv)
    sql = length(plan_iv) - length(intersect(plan_iv, job_iv))
    executor = length(stage_iv)
    return {
        "wall": hi - lo,
        "sql": sql,
        "scheduler": jobs_ms - executor,
        "executor": executor,
        "gap": (hi - lo) - sql - jobs_ms,
        "jobs_union": jobs_ms,
    }


def assign(records, calls):
    """Records per call: each listener record goes to the call it starts in.
    Returns (records per call, records that start in no call)."""
    out, orphans = [[] for _ in calls], []
    for r in records:
        for i, c in enumerate(calls):
            if within(r, c["start"], c["end"]):
                out[i].append(r)
                break
        else:
            orphans.append(r)
    return out, orphans


def record_intervals(r):
    return plan_intervals(r) if "phases" in r else [(r["start"], r["end"])]


def stray_ms(calls, by_call, orphans):
    """Traced time the breakdown cannot bill correctly: the part of the
    plan and job intervals billed to each call that lies outside the call
    (`call_breakdown` clips it away), plus every interval of the records
    that start in no call."""
    out = 0.0
    for c, recs in zip(calls, by_call):
        iv = [x for r in recs for x in record_intervals(r)]
        out += length(iv) - length(clip(iv, c["start"], c["end"]))
    return out + length([x for r in orphans for x in record_intervals(r)])


def layer_metrics(passes, trace):
    """Per-layer metrics of each traced pass; run.py reports the median.

    Returns (list of per-pass metric dicts, the most stray traced time of
    any traced pass in seconds, see `stray_ms`)."""
    out, worst = [], 0.0
    stage_by_id = {}
    for s in trace.get("stages", []):
        stage_by_id.setdefault(s["id"], []).append(s)
    for p in passes:
        if not p["traced"]:
            continue
        calls = p["calls"]
        plans = [dict(r, start=min(s for s, _ in plan_intervals(r)))
                 for r in trace.get("plans", []) if plan_intervals(r)]
        plans = [r for r in plans if within(r, p["start"], p["end"])]
        jobs = [j for j in trace.get("jobs", []) if within(j, p["start"], p["end"])]
        stages = [s for s in trace.get("stages", []) if within(s, p["start"], p["end"])]
        execs = [x for x in trace.get("executions", []) if within(x, p["start"], p["end"])]
        batches = [b for b in trace.get("batches", []) if within(b, p["start"], p["end"])]
        plans_by_call, plan_orphans = assign(plans, calls)
        jobs_by_call, job_orphans = assign(jobs, calls)
        worst = max(worst, stray_ms(calls, [cp + cj for cp, cj in zip(plans_by_call, jobs_by_call)],
                                    plan_orphans + job_orphans) / 1e3)
        sums = {"sql": 0.0, "scheduler": 0.0, "executor": 0.0, "gap": 0.0}
        scan_jobs = 0
        for c, cp, cj in zip(calls, plans_by_call, jobs_by_call):
            cs = [s for j in cj for sid in j["stages"] for s in stage_by_id.get(sid, [])]
            b = call_breakdown(c, cp, cj, cs)
            for k in sums:
                sums[k] += b[k]
            if c["name"] == "ml_scan":
                scan_jobs += len(cj)

        def tot(field, scale=1.0):
            return sum(s[field] for s in stages) / scale

        def call_wall(name):
            return sum(c["end"] - c["start"] for c in calls if c["name"] == name) / 1e3

        def phase_s(name):
            return sum(r["phases"][name][1] - r["phases"][name][0]
                       for r in plans if name in r["phases"]) / 1e3

        state_peak = {}
        for b in batches:
            rows, mb = state_peak.get(b["query"], (0, 0.0))
            state_peak[b["query"]] = (max(rows, b["state_rows"]), max(mb, b["state_bytes"] / MB))
        m = {
            "sql.executions": len(execs),
            "sql.analysis_s": phase_s("analysis"),
            "sql.optimization_s": phase_s("optimization"),
            "sql.planning_s": phase_s("planning"),
            "sql.self_s": sums["sql"] / 1e3,
            "operators.build_s": sum(c["built"] - c["start"] for c in calls) / 1e3,
            "operators.consume_s": sum(c["end"] - c["built"] for c in calls) / 1e3,
            "operators.gap_s": sums["gap"] / 1e3,
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": tot("tasks"),
            "scheduler.failed_tasks": tot("failed_tasks"),
            "scheduler.busy_s": length([(j["start"], j["end"]) for j in jobs]) / 1e3,
            "scheduler.self_s": sums["scheduler"] / 1e3,
            "scheduler.task_overhead_s": (tot("duration_ms") - tot("run_ms")) / 1e3,
            "executor.run_s": tot("run_ms", 1e3),
            "executor.cpu_s": tot("cpu_ns", 1e9),
            "executor.gc_s": tot("gc_ms", 1e3),
            "executor.peak_mem_mb": max([s["peak_mem"] for s in stages], default=0.0) / MB,
            "executor.stage_wall_s": sums["executor"] / 1e3,
            "jvm.jit_cpu_s": p["jit_cpu_s"],
            "jvm.gc_cpu_s": p["gc_cpu_s"],
            "shuffle.read_mb": tot("shuffle_read", MB),
            "shuffle.write_mb": tot("shuffle_write", MB),
            "shuffle.fetch_wait_s": tot("fetch_wait_ms", 1e3),
            "shuffle.spill_mem_mb": tot("spill_mem", MB),
            "shuffle.spill_disk_mb": tot("spill_disk", MB),
            "io.input_mb": tot("input_bytes", MB),
            "io.input_rows": tot("input_rows"),
            "io.output_mb": tot("output_bytes", MB),
            "memo.storage_mb": max([c.get("storage_mb", 0.0) for c in calls], default=0.0),
            "memo.cached_rdds": max([c.get("cached_rdds", 0) for c in calls], default=0),
            "ml.prepare_s": call_wall("ml_prepare"),
            "ml.scan_s": call_wall("ml_scan"),
            "ml.results_s": call_wall("ml_results"),
            "ml.scan_jobs": scan_jobs,
            "streaming.batches": len(batches),
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
            "streaming.trigger_s": sum(b["trigger_ms"] for b in batches) / 1e3,
            "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
            "streaming.planning_s": sum(b["planning_ms"] for b in batches) / 1e3,
            "streaming.commit_s": sum(b["commit_ms"] for b in batches) / 1e3,
            "streaming.state_rows": sum(r for r, _ in state_peak.values()),
            "streaming.state_mb": sum(mb for _, mb in state_peak.values()),
            "streaming.state_stores": sum(b["state_stores"] for b in batches),
            "streaming.late_rows": sum(b["late_rows"] for b in batches),
        }
        out.append(m)
    return out, worst


def spans(raw):
    """The run's span tree, flattened: run > pass > call > build/consume >
    SQL execution / job > stage; stream micro-batches sit under their call.
    Each span has an id, name, start, end (epoch ms) and parent id."""
    out = []

    def add(name, start, end, parent):
        out.append({"id": len(out), "name": name, "start": start, "end": end,
                    "parent": parent})
        return len(out) - 1

    passes = raw["passes"]
    trace = raw.get("trace", {})
    run = add("run", passes[0]["start"], passes[-1]["end"], None)
    stage_by_id = {}
    for s in trace.get("stages", []):
        stage_by_id.setdefault(s["id"], []).append(s)
    for i, p in enumerate(passes):
        pid = add(f"pass:{i}" + (":traced" if p["traced"] else ""), p["start"], p["end"], run)
        if not p["traced"]:
            continue
        for c in p["calls"]:
            cid = add(f"call:{c['name']}", c["start"], c["end"], pid)
            parts = [(add("build", c["start"], c["built"], cid), c["start"], c["built"]),
                     (add("consume", c["built"], c["end"], cid), c["built"], c["end"])]

            def part_of(rec):
                for sid, lo, hi in parts:
                    if within(rec, lo, hi):
                        return sid
                return None
            for x in trace.get("executions", []):
                sid = part_of(x)
                if sid is not None:
                    add(f"sql:{x['id']}", x["start"], x["end"], sid)
            for j in trace.get("jobs", []):
                sid = part_of(j)
                if sid is not None:
                    jid = add(f"job:{j['id']}", j["start"], j["end"], sid)
                    for st in (s for k in j["stages"] for s in stage_by_id.get(k, [])):
                        if st["start"] >= 0:
                            add(f"stage:{st['id']}.{st['attempt']}", st["start"], st["end"], jid)
            for b in trace.get("batches", []):
                if within(b, c["start"], c["end"]):
                    add(f"batch:{b['query'][:8]}:{b['batch']}", b["start"], b["end"], cid)
    return out
