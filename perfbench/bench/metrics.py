"""Metric derivation from one run's raw measurements.

The JVM side records, per pass, the driver-side phase boundaries of every
operation and (on traced passes) every Spark job and task event. This module
turns them into the end-to-end metrics and the per-layer metrics, and builds
the span tree that is written out at the end of a traced run.

Times: phase boundaries are wall-clock microseconds; Spark stamps job and
task events in wall-clock milliseconds.
"""
import math
import statistics

MB = 1048576.0

# Percentiles a timing may be reported at, lowest first.
PERCENTILES = (50, 90, 99, 99.9)


def highest_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None."""
    ok = [p for p in PERCENTILES if round(n * (100 - p) / 100, 6) >= 10]
    return ok[-1] if ok else None


def percentile(values, p):
    """Percentile by linear interpolation between closest ranks (the
    'inclusive' method of Python's statistics.quantiles)."""
    xs = sorted(values)
    pos = p / 100 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values) if values else 0.0


def job_window(start_ms, windows):
    """Index of the phase window a job belongs to, or None.

    A job belongs to the phase in whose window it started. Spark stamps the
    start in whole milliseconds, so the true start lies in [ms, ms + 1); the
    job is placed at the END of that millisecond. That never moves a job
    into an earlier phase, and a job of the earlier phase would have to start
    AND finish within the phase's last millisecond to be moved to the next
    one. `windows` are (t0_us, t1_us) pairs, ordered and disjoint."""
    t = start_ms * 1000 + 999
    for i, (t0, t1) in enumerate(windows):
        if t0 <= t < t1:
            return i
    return None


def uncovered_us(t0, t1, intervals):
    """Length of [t0, t1) that no interval covers: the Spark driver's self time
    between and around the Spark jobs of a phase."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    covered, cursor = 0, t0
    for a, b in clipped:
        a = max(a, cursor)
        if b > a:
            covered += b - a
            cursor = b
    return (t1 - t0) - covered


def attribute(jobs, tasks, windows):
    """Assigns jobs to windows and tasks to jobs.

    Returns (per-window list of jobs, per-job list of tasks). A task belongs to
    the job that lists its stage and was running when the task launched."""
    per_window = [[] for _ in windows]
    for job in jobs:
        i = job_window(job["start_ms"], windows)
        if i is not None:
            per_window[i].append(job)
    by_stage = {}
    for job in jobs:
        for s in job["stages"]:
            by_stage.setdefault(s, []).append(job)
    per_job = {job["id"]: [] for job in jobs}
    for task in tasks:
        owners = by_stage.get(task["stage"], [])
        running = [j for j in owners
                   if j["start_ms"] <= task["launch_ms"] <= j.get("end_ms", math.inf)]
        owner = (running or owners or [None])[-1]
        if owner is not None:
            per_job[owner["id"]].append(task)
    return per_window, per_job


def job_interval_us(job):
    return job["start_ms"] * 1000, job.get("end_ms", job["start_ms"]) * 1000


def _task_sums(tasks):
    return {
        "tasks": len(tasks),
        "stages": len({t["stage"] for t in tasks}),
        "busy_ms": sum(t["finish_ms"] - t["launch_ms"] for t in tasks),
        "sw": sum(t["sw_bytes"] for t in tasks),
        "sr": sum(t["sr_bytes"] for t in tasks),
        "spill": sum(t["spill_bytes"] for t in tasks),
        "in": sum(t["in_bytes"] for t in tasks),
        "out": sum(t["out_bytes"] for t in tasks),
    }


PHASES = ("construct", "plan", "exec")


def query_pass_layers(p, cores):
    """Per-layer metrics of one traced query pass, plus its span tree."""
    windows, owners = [], []
    for q in p["items"]:
        t = q["t_us"]
        for k, phase in enumerate(PHASES):
            windows.append((t[k], t[k + 1]))
            owners.append((q, phase))
    per_window, per_job = attribute(p["jobs"], p["tasks"], windows)

    def tasks_of(jobs):
        return [t for j in jobs for t in per_job[j["id"]]]

    phase_jobs = {ph: [] for ph in PHASES}
    driver_us = 0
    exec_gc_ms = 0
    mod = {}
    spans = []
    for (q, phase), (t0, t1), jobs in zip(owners, windows, per_window):
        phase_jobs[phase].extend(jobs)
        if phase == "construct":
            driver_us += uncovered_us(t0, t1, [job_interval_us(j) for j in jobs])
        k = PHASES.index(phase)
        if phase == "exec":
            exec_gc_ms += q["gc_ms"][k + 1] - q["gc_ms"][k]
        m = mod.setdefault(q["module"], {"construct_s": 0.0, "exec_s": 0.0, "jobs": 0})
        m["jobs"] += len(jobs)
        if phase == "construct":
            m["construct_s"] += q["construct_s"]
        elif phase == "exec":
            m["exec_s"] += q["exec_s"]
        if k == 0:
            spans.append({"name": q["name"], "module": q["module"], "t0_us": q["t_us"][0],
                          "t1_us": q["t_us"][3], "children": []})
        spans[-1]["children"].append({
            "name": phase, "t0_us": t0, "t1_us": t1,
            "self_us": uncovered_us(t0, t1, [job_interval_us(j) for j in jobs]),
            "children": [{"name": f"job {j['id']}", "t0_us": job_interval_us(j)[0],
                          "t1_us": job_interval_us(j)[1], "tasks": len(per_job[j["id"]])}
                         for j in jobs]})
    ex = _task_sums(tasks_of(phase_jobs["exec"]))
    exec_s = sum(q["exec_s"] for q in p["items"])
    out = {
        "operators.construct_s": sum(q["construct_s"] for q in p["items"]),
        "operators.construct_jobs": len(phase_jobs["construct"]),
        "operators.output_mb": _task_sums(tasks_of(phase_jobs["construct"]))["out"] / MB,
        "operators.construct_driver_s": driver_us / 1e6,
        "plans.plan_s": sum(q["plan_s"] for q in p["items"]),
        "exec.s": exec_s,
        "exec.jobs": len(phase_jobs["exec"]),
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "exec.tasks_per_stage": ex["tasks"] / ex["stages"] if ex["stages"] else 0.0,
        "exec.slot_util": ex["busy_ms"] / 1000 / (exec_s * cores) if exec_s else 0.0,
        "exec.gc_s": exec_gc_ms / 1000,
        "exec.shuffle_write_mb": ex["sw"] / MB,
        "exec.shuffle_read_mb": ex["sr"] / MB,
        "exec.spill_mb": ex["spill"] / MB,
        "sources.input_mb": ex["in"] / MB,
    }
    for name, m in mod.items():
        out[f"{name}.construct_s"] = m["construct_s"]
        out[f"{name}.exec_s"] = m["exec_s"]
        out[f"{name}.jobs"] = m["jobs"]
    return out, spans


def logical_requests(attempts):
    """Groups transport attempts by X-Request-Id into logical requests."""
    groups = {}
    for a in attempts:
        groups.setdefault(a["rid"], []).append(a)
    out = []
    for rid, xs in groups.items():
        xs.sort(key=lambda a: a["attempt"])
        backoff = sum(max(0, b["start_us"] - a["end_us"]) for a, b in zip(xs, xs[1:]))
        out.append({"rid": rid, "kind": xs[0]["kind"], "attempts": len(xs),
                    "t0_us": xs[0]["start_us"], "t1_us": xs[-1]["end_us"], "backoff_us": backoff})
    return out


def max_overlap(intervals):
    """Largest number of intervals open at one instant."""
    events = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals])
    best = cur = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def etl_pass_layers(p, posted_records):
    """Per-layer metrics of one traced pipeline run, plus its span tree."""
    reqs = logical_requests(p["items"][0]["attempts"])
    by_kind = {k: [r for r in reqs if r["kind"] == k] for k in ("page", "detail", "post")}

    def busy(rs):
        return sum(r["t1_us"] - r["t0_us"] for r in rs) / 1e6

    t0, t1 = p["t_us"]
    jobs = [j for j in p["jobs"] if job_window(j["start_ms"], [(t0, t1)]) is not None]
    _, per_job = attribute(jobs, p["tasks"], [(t0, t1)])
    detail_ms = [(r["t1_us"] - r["t0_us"]) / 1000 for r in by_kind["detail"]]
    attempts = len(p["items"][0]["attempts"])
    posts = by_kind["post"]
    out = {
        "RestAnimalsSource.requests": len(by_kind["page"]),
        "RestAnimalsSource.busy_s": busy(by_kind["page"]),
        "RestEnrich.requests": len(by_kind["detail"]),
        "RestEnrich.busy_s": busy(by_kind["detail"]),
        "RestEnrich.p50_ms": percentile(detail_ms, 50) if detail_ms else 0.0,
        "RestEnrich.p99_ms": percentile(detail_ms, 99) if detail_ms else 0.0,
        "RestEnrich.inflight_max": max_overlap([(r["t0_us"], r["t1_us"]) for r in by_kind["detail"]]),
        "Http.attempts": attempts,
        "Http.retries": attempts - len(reqs),
        "Http.useful_ratio": len(reqs) / attempts if attempts else 0.0,
        "Http.backoff_s": sum(r["backoff_us"] for r in reqs) / 1e6,
        "HttpBatchSink.requests": len(posts),
        "HttpBatchSink.records_per_batch": posted_records / len(posts) if posts else 0.0,
        "HttpBatchSink.busy_s": busy(posts),
        "etl.jobs": len(jobs),
        "etl.tasks": sum(len(ts) for ts in per_job.values()),
        "etl.driver_s": uncovered_us(t0, t1, [job_interval_us(j) for j in jobs]) / 1e6,
    }
    spans = [{"name": "etl.run", "t0_us": t0, "t1_us": t1, "children":
              [{"name": f"job {j['id']}", "t0_us": job_interval_us(j)[0],
                "t1_us": job_interval_us(j)[1], "tasks": len(per_job[j["id"]])} for j in jobs] +
              [{"name": f"{a['kind']} {a['key']} #{a['attempt']}", "request_id": a["rid"],
                "t0_us": a["start_us"], "t1_us": a["end_us"], "status": a["status"]}
               for a in p["items"][0]["attempts"]]}]
    return out, spans
