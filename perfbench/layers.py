"""Per-layer metrics from a traced run.

Builds one span tree per query from the spans file the harness writes at the
end of a traced run (`spans.jsonl`: the query roots it timed, and the jobs,
stages and writes its listeners recorded):

    query (id = workload/pass/query)
      build          the SparkEntry.queries call (entry layer)
        job          jobs the build itself ran (countOf, CC loop, BPE, ...)
          stage
      plan.analysis, plan.optimize, plan.physical   the write's planning
      job            jobs of the write
        stage        flagged when it stored cached blocks (caching layer)

and derives each layer's metrics per traced pass.
"""
import json

import stats

MB = 1e6
PHASES = {"analysis": "plan.analysis", "optimization": "plan.optimize",
          "planning": "plan.physical"}


def load_spans(path):
    """The spans file: query roots grouped by pass, jobs, stages, writes."""
    passes, jobs, stages, writes = {}, [], [], {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            kind = rec.pop("kind")
            if kind == "query":
                passes.setdefault(int(rec["qid"].split("/")[1]), []).append(rec)
            elif kind == "job":
                jobs.append(rec)
            elif kind == "stage":
                stages.append(rec)
            elif kind == "write":
                writes[rec["query"]] = rec
    return passes, jobs, stages, writes


def query_spans(q, jobs, stages, write):
    """The span tree of one query: id -> (parent, start_s, end_s, attrs)."""
    s = lambda ms: ms / 1000.0
    q0, q1 = s(q["start_ms"]), s(q["end_ms"])
    b1 = s(q["build_end_ms"]) if q["build_end_ms"] >= 0 else q1
    spans = {"query": (None, q0, q1, {}), "build": ("query", q0, b1, {})}
    if write:
        for phase, name in PHASES.items():
            ph = write["phases"].get(phase)
            if ph:
                spans[name] = ("query", s(ph["start_ms"]), s(ph["end_ms"]), {})
    for j in jobs:
        start = s(j["start_ms"])
        end = s(j["end_ms"]) if j["end_ms"] >= 0 else q1
        spans[f"job{j['id']}"] = ("build" if start < b1 else "query", start, end, {})
    for st in stages:
        if st["start_ms"] < 0 or st["end_ms"] < 0:
            continue
        parent = f"job{st['job']}"
        spans[f"stage{st['id']}.{st['attempt']}"] = (
            parent if parent in spans else "query", s(st["start_ms"]), s(st["end_ms"]),
            {"cache_build": bool(st["built_rdds"])})
    return spans


def layer_self_times(spans):
    """Each layer's self time in one query, by interval unions so that
    concurrent jobs and stages count once. The five parts add up to the
    query's wall time:

      entry    build time not covered by the jobs the build ran
      plans    the write's planning phases
      caching  stages that stored a cached frame
      exec     the rest of the time any job ran
      driver   the wall not covered by build, planning or any job
    """
    _, q0, q1, _ = spans["query"]
    iv = lambda pred: [(a, b) for k, (_, a, b, attrs) in spans.items() if pred(k, attrs)]
    jobs = iv(lambda k, _: k.startswith("job"))
    build = iv(lambda k, _: k == "build")
    plans = iv(lambda k, _: k.startswith("plan."))
    cache = iv(lambda k, a: k.startswith("stage") and a["cache_build"])
    jobs_u = stats.union_length(jobs, q0, q1)
    caching = stats.union_length(cache, q0, q1)
    return {
        "entry": stats.union_length(build, q0, q1) - stats.union_length(
            jobs, build[0][0], build[0][1]),
        "plans": stats.union_length(plans, q0, q1),
        "caching": caching,
        "exec": jobs_u - caching,
        "driver": (q1 - q0) - stats.union_length(build + plans + jobs, q0, q1),
        "jobs": jobs_u,
    }


def pass_metrics(queries, jobs, stages, writes, cpus):
    """Per-layer metrics of one traced pass, summed over its queries."""
    by_q_jobs, by_q_stages = {}, {}
    for j in jobs:
        by_q_jobs.setdefault(j["query"], []).append(j)
    for st in stages:
        by_q_stages.setdefault(st["query"], []).append(st)

    m = dict.fromkeys([
        "tables.input_mb", "entry.build_s", "entry.build_jobs",
        "plans.analysis_s", "plans.optimize_s", "plans.physical_s",
        "plans.exchanges", "plans.text_scans",
        "caching.build_s", "caching.builds", "caching.reads", "caching.mem_mb",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s",
        "exec.task_cpu_s", "exec.task_run_s", "exec.shuffle_write_mb",
        "exec.shuffle_read_mb", "exec.spill_mb", "exec.gc_s", "exec.failed_tasks",
        "self.entry_s", "self.plans_s", "self.exec_s", "self.caching_s"], 0.0)
    job_covered = wall = 0.0
    builders = {}
    for q in queries:
        qid = q["qid"]
        qjobs, qstages = by_q_jobs.get(qid, []), by_q_stages.get(qid, [])
        write = writes.get(qid)
        spans = query_spans(q, qjobs, qstages, write)
        own = layer_self_times(spans)
        wall += spans["query"][2] - spans["query"][1]
        job_covered += own["jobs"]
        m["exec.driver_gap_s"] += own["driver"]
        m["self.entry_s"] += own["entry"]
        m["self.plans_s"] += own["plans"]
        m["self.caching_s"] += own["caching"]
        m["self.exec_s"] += own["exec"]
        m["caching.build_s"] += own["caching"]
        m["entry.build_s"] += spans["build"][2] - spans["build"][1]
        m["entry.build_jobs"] += sum(1 for k, v in spans.items()
                                     if k.startswith("job") and v[0] == "build")
        for name in PHASES.values():
            if name in spans:
                m[f"plans.{name.split('.')[1]}_s"] += spans[name][2] - spans[name][1]
        if write:
            m["plans.exchanges"] += max(0, write["exchanges"])
            m["plans.text_scans"] += max(0, write["text_scans"])
        m["exec.jobs"] += len(qjobs)
        built = set()
        for st in qstages:
            m["exec.stages"] += 1
            m["exec.tasks"] += st["tasks"]
            m["exec.failed_tasks"] += st["failed_tasks"]
            m["exec.task_cpu_s"] += st["cpu_ns"] / 1e9
            m["exec.task_run_s"] += st["run_ms"] / 1e3
            m["exec.gc_s"] += st["gc_ms"] / 1e3
            m["exec.shuffle_write_mb"] += st["shuffle_write_bytes"] / MB
            m["exec.shuffle_read_mb"] += st["shuffle_read_bytes"] / MB
            m["exec.spill_mb"] += st["spill_bytes"] / MB
            m["tables.input_mb"] += st["input_bytes"] / MB
            built.update(st["built_rdds"])
            m["caching.reads"] += len(st["persisted_rdds"])
        m["caching.builds"] += len(built)
        if built:
            builders[q["name"]] = len(built)
        m["caching.mem_mb"] = max(m["caching.mem_mb"], q["cache_bytes"] / MB)
    m["caching.reuse"] = (m["caching.reads"] / m["caching.builds"]
                          if m["caching.builds"] else 0.0)
    m["exec.core_util"] = (m["exec.task_run_s"] / (job_covered * cpus)
                           if job_covered > 0 else 0.0)
    m["split.cache_build_s"] = m["caching.build_s"]
    m["split.execute_s"] = job_covered - m["caching.build_s"]
    m["split.driver_s"] = wall - job_covered
    return m, builders


def traced_metrics(result, spans_path):
    """Median over traced passes of each per-pass layer metric, plus the
    set-up layer and the tracing overhead; also the queries that built a
    cached frame in the last traced pass."""
    passes, jobs, stages, writes = load_spans(spans_path)
    if not passes:
        raise ValueError("the run has no traced pass")
    per_pass = [pass_metrics(qs, jobs, stages, writes, result["cpus"])
                for _, qs in sorted(passes.items())]
    out = {k: stats.median([m[k] for m, _ in per_pass]) for k in per_pass[0][0]}
    out["tables.resolve_s"] = sum(result["resolve_s"].values())
    traced = [p["wall_s"] for p in result["passes"] if p["traced"]]
    plain = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    out["trace.overhead_s"] = stats.median(traced) - stats.median(plain) if plain else 0.0
    return out, per_pass[-1][1]
