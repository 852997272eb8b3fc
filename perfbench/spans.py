"""Metric arithmetic: percentiles, interval sets, per-op span trees and the
per-layer self-time partition. Pure functions over the harness record, so
they can be tested without Spark."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MB = 1e6
SELF_LAYERS = ("construct", "plan", "codegen", "exec", "commit", "unexplained")
PLAN_PHASES = ("analysis", "optimization", "planning")


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it. For 45 samples p75 is the 34th, so
    11 samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(math.ceil(q * len(xs)), 1) - 1]


# ---- interval sets: sorted, disjoint [start, end) lists --------------------

def union(intervals):
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def clip(iv_set, lo, hi):
    return [[max(s, lo), min(e, hi)] for s, e in iv_set if min(e, hi) > max(s, lo)]


def subtract(iv_set, minus):
    """``iv_set`` minus ``minus`` (both unions)."""
    out = []
    for s, e in iv_set:
        cur = s
        for ms, me in minus:
            if me <= cur or ms >= e:
                continue
            if ms > cur:
                out.append([cur, ms])
            cur = max(cur, me)
        if cur < e:
            out.append([cur, e])
    return out


def measure(iv_set):
    return sum(e - s for s, e in iv_set)


# ---- attribution --------------------------------------------------------------

def op_jobs(ops, jobs):
    """Maps op id -> its jobs: by the op's job group, else by start time."""
    by_id = {o["id"]: [] for o in ops}
    for j in jobs:
        g = j["group"]
        if g.startswith("op-") and int(g[3:]) in by_id:
            by_id[int(g[3:])].append(j)
            continue
        for o in ops:
            if o["start"] <= j["start"] <= o["end"]:
                by_id[o["id"]].append(j)
                break
    return by_id


def job_end(j, op):
    # a job still running when the record was taken ends with its op
    return j["end"] if j["end"] >= j["start"] else op["end"]


def self_times(op, jobs, phases):
    """Partitions one op's wall time (ms) into layer self times.

    Priority: job time is execution; Catalyst phase time outside jobs is
    planning; the tail of the action after its last job is commit; the
    op's codegen compile time is charged to what remains, action first; what
    is left of the construct span is construction, and what is left of the
    action span is unexplained. The parts sum to the op's wall time."""
    lo, cut, hi = op["start"], op["construct_end"], op["end"]
    job_iv = union(clip([[j["start"], job_end(j, op)] for j in jobs], lo, hi))
    ph_iv = subtract(union(clip([[p["start"], p["end"]] for p in phases],
                                lo, hi)), job_iv)
    action_jobs = [job_end(j, op) for j in jobs if j["start"] >= cut]
    commit_start = max(action_jobs) if action_jobs else hi
    commit_iv = subtract(subtract([[commit_start, hi]] if commit_start < hi
                                  else [], job_iv), ph_iv)
    rest = subtract(subtract(subtract([[lo, hi]], job_iv), ph_iv), commit_iv)
    rest_c = measure(clip(rest, lo, cut))
    rest_a = measure(clip(rest, cut, hi))
    codegen = min(op["compile_ns"] / 1e6, rest_c + rest_a)
    from_action = min(codegen, rest_a)
    return {
        "exec": measure(job_iv),
        "plan": measure(ph_iv),
        "commit": measure(commit_iv),
        "codegen": codegen,
        "construct": rest_c - (codegen - from_action),
        "unexplained": rest_a - from_action,
    }, commit_start


def span_tree(op, jobs, stages_by_id, phases, commit_start):
    """The op's spans. Each has an ``id`` and the ``parent`` span that caused
    it; all carry the op id."""
    oid, cut = op["id"], op["construct_end"]

    def span(sid, parent, kind, start, end, **kw):
        return {"op": oid, "id": f"{oid}/{sid}", "parent": parent and f"{oid}/{parent}",
                "kind": kind, "start": start, "end": end, **kw}

    def under(t):
        return "construct" if t < cut else "action"

    spans = [
        span("op", None, "op", op["start"], op["end"], name=op["name"]),
        span("construct", "op", "construct", op["start"], cut),
        span("action", "op", "action", cut, op["end"]),
        span("commit", "action", "commit", commit_start, op["end"]),
    ]
    seen = set()
    for j in jobs:
        spans.append(span(f"job{j['id']}", under(j["start"]), "job", j["start"],
                          job_end(j, op)))
        # a stage reused by a later job sits under the job that ran it
        for sid in j["stages"]:
            if sid in seen:
                continue
            seen.add(sid)
            for s in stages_by_id.get(sid, []):
                spans.append(span(f"stage{sid}.{s['attempt']}", f"job{j['id']}",
                                  "stage", s["start"], s["end"]))
    for i, p in enumerate(phases):
        spans.append(span(f"phase{i}", under(p["start"]), "phase", p["start"],
                          p["end"], name=p["name"]))
    return spans


def layer_metrics(ops, trace, cores, tokens_by_op=None):
    """Per-layer metrics of the timed ops plus their span trees."""
    jobs_of = op_jobs(ops, trace["jobs"])
    stages_by_id = {}
    for s in trace["stages"]:
        stages_by_id.setdefault(s["id"], []).append(s)
    t = trace["tasks"]
    tasks_by_stage = {}
    for i, sid in enumerate(t["stage"]):
        tasks_by_stage.setdefault(sid, []).append(i)

    def col(name, idx):
        return sum(t[name][i] for i in idx)

    selfs = dict.fromkeys(SELF_LAYERS, 0.0)
    plan = dict.fromkeys(PLAN_PHASES, 0.0)
    spans = []
    wall = construct = commit = 0.0
    n_jobs = construct_jobs = n_stages = 0
    stage_ids, task_idx = set(), []
    shuffle_by_name = {}
    for o in ops:
        jobs = jobs_of[o["id"]]
        phases = [p for p in trace["phases"] if o["start"] <= p["start"] <= o["end"]]
        parts, commit_start = self_times(o, jobs, phases)
        for k, v in parts.items():
            selfs[k] += v
        for p in phases:
            if p["name"] in plan:
                plan[p["name"]] += p["end"] - p["start"]
        spans += span_tree(o, jobs, stages_by_id, phases, commit_start)
        wall += o["end"] - o["start"]
        construct += o["construct_end"] - o["start"]
        commit += o["end"] - commit_start
        n_jobs += len(jobs)
        construct_jobs += sum(1 for j in jobs if j["start"] < o["construct_end"])
        # a stage listed by several jobs (a reused shuffle) counts once
        sids = {sid for j in jobs for sid in j["stages"]}
        n_stages += sum(len(stages_by_id.get(sid, [])) for sid in sids)
        stage_ids |= sids
        op_tasks = [i for sid in sids for i in tasks_by_stage.get(sid, [])]
        task_idx += op_tasks
        recs = shuffle_by_name.setdefault(o["name"], [0, 0])
        recs[0] += col("shw_records", op_tasks)
        recs[1] += 1
    n_tasks = len(task_idx)
    run_s = col("run_ms", task_idx) / 1e3
    m = {
        "construct.s": construct / 1e3,
        "construct.jobs": construct_jobs,
        **{f"plan.{p}_s": plan[p] / 1e3 for p in PLAN_PHASES},
        "codegen.compile_s": sum(o["compile_ns"] for o in ops) / 1e9,
        "codegen.compiles": sum(o["compiles"] for o in ops),
        "exec.s": selfs["exec"] / 1e3,
        "exec.jobs": n_jobs,
        "exec.stages": n_stages,
        "exec.tasks": n_tasks,
        "exec.tasks_per_stage": n_tasks / n_stages if n_stages else 0.0,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": col("cpu_ns", task_idx) / 1e9,
        "exec.core_busy_frac": run_s / (wall / 1e3 * cores) if wall else 0.0,
        "exec.gc_s": col("gc_ms", task_idx) / 1e3,
        "exec.spill_mb": col("spill_disk", task_idx) / MB,
        "exec.task_skew": task_skew(t, tasks_by_stage, stage_ids),
        "exec.shuffle_write_mb": col("shw_bytes", task_idx) / MB,
        "exec.shuffle_read_mb": col("shr_bytes", task_idx) / MB,
        "exec.shuffle_records": col("shw_records", task_idx),
        "commit.s": commit / 1e3,
        **{f"self.{k}_s": v / 1e3 for k, v in selfs.items()},
        "self.wall_s": wall / 1e3,
    }
    for name, tokens in (tokens_by_op or {}).items():
        recs, runs = shuffle_by_name.get(name, (0, 0))
        m[f"exec.shuffle_records_per_token.{name}"] = (
            recs / (tokens * runs) if runs and tokens else 0.0)
    return m, spans


def task_skew(t, tasks_by_stage, stage_ids, min_total_ms=100):
    """Worst stage's max/median task run time, over stages with at least two
    tasks and ``min_total_ms`` of task time (1.0 when there are none)."""
    worst = 1.0
    for sid in stage_ids:
        runs = sorted(t["run_ms"][i] for i in tasks_by_stage.get(sid, []))
        if len(runs) < 2 or sum(runs) < min_total_ms:
            continue
        worst = max(worst, runs[-1] / max(statistics.median(runs), 1))
    return worst
