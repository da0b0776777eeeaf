"""Per-layer metrics of a traced run, computed from its spans and the
Spark event log.  Every time and count is a mean per timed pass, so it
reads against ``pass_s``; ``*_per_file`` counts are per drained file.
Times are wall times, not host-scaled like the end-to-end metrics;
``host.probe_s`` is the run's trimmed mean probe time, to scale them by.
``trace.pass_s`` and ``host.probe_s`` are filled in by ``run.py``.

Layer of each span name:
- build: a query's ``q_*()`` call / the E1 transform (decode, transient
  cut, stats), including any Spark job it launches while building;
- plan: ``queryExecution().executedPlan()`` on the built frame;
- exec: the noop-sink write / the E1 sink (KV, register image and
  versioned append);
- streaming self time: a drain's wall time outside those callbacks.
"""

from __future__ import annotations

import statistics

from perfbench.batch import QUERIES
from perfbench.tracing import FAMILIES, event_log_stats

# Spans of the E1 callbacks, children of a file span.
CALLBACKS = ("transform", "plan", "kv", "register", "versioned")


def per_layer(tracer, res, eventlog_dir: str) -> dict[str, float]:
    groups, jobs = event_log_stats(eventlog_dir)
    by_id = {s["id"]: s for s in tracer.spans}
    passes = [by_id[i] for i in res.pass_spans]
    n = len(passes)
    pass_ids = set(res.pass_spans)

    def in_timed_pass(s) -> bool:
        while s is not None:
            if s["id"] in pass_ids:
                return True
            s = by_id.get(s["parent"])
        return False

    timed = [s for s in tracer.spans if in_timed_pass(s)]

    def dur(s) -> float:
        return s["end"] - s["start"]

    def of(*names):
        return [s for s in timed if s["name"] in names]

    def total(spans, key=None) -> float:
        return sum(dur(s) if key is None else s.get(key, 0) for s in spans) / n

    def ev(spans, key) -> float:
        return sum(groups.get(s.get("group"), {}).get(key, 0) for s in spans) / n

    build, plan = of("build", "transform"), of("plan")
    execs = of("exec", "kv", "register", "versioned")
    shares = [
        g["max_task_s"] / g["task_s"]
        for g in (groups.get(s.get("group")) for s in execs)
        if g and g["task_s"] > 0
    ]
    drains = of("drain")
    files = res.ops if drains else 0
    cb_s = sum(
        dur(s) for s in of(*CALLBACKS) if by_id.get(s["parent"], {}).get("name") == "file"
    )
    ours = {s["group"] for s in tracer.spans if "group" in s}
    stream_jobs = sum(
        1
        for t, g in jobs
        if g not in ours and any(d["wall_start"] <= t <= d["wall_end"] for d in drains)
    )
    sink_spans = of("kv", "register", "versioned")
    out = {
        "build.wall_s": total(build),
        "build.jobs": total(build, "jobs"),
        "plan.wall_s": total(plan),
        "exec.wall_s": total(execs),
        "exec.jobs": total(execs, "jobs"),
        "exec.stages": total(execs, "stages"),
        "exec.tasks": total(execs, "tasks"),
        "exec.task_s": ev(execs, "task_s"),
        "exec.shuffle_write_bytes": ev(execs, "shuffle_write_bytes"),
        "exec.spill_bytes": ev(execs, "spill_bytes"),
        "exec.max_task_share": statistics.median(shares) if shares else 0.0,
        "storage.cached_mb": statistics.median(res.cached),
        "streaming.self_s": (sum(dur(d) for d in drains) - cb_s) / n,
        "streaming.jobs_per_file": stream_jobs / files if files else 0.0,
        "operators.transform_s": total(of("transform")),
        "sinks.kv_s": total(of("kv")),
        "sinks.register_s": total(of("register")),
        "sinks.versioned_commit_s": total(of("versioned")),
        "sinks.jobs_per_file": sum(s.get("jobs", 0) for s in sink_spans) / files if files else 0.0,
        "trace.unattributed_s": (
            sum(dur(p) for p in passes) - sum(dur(s) for s in build + plan + execs)
        ) / n,
    }
    for fam in (*FAMILIES, "entry"):
        calls, secs = tracer.calls.get(fam, (0, 0.0))
        out[f"{fam}.calls"] = calls / n
        out[f"{fam}.call_s"] = secs / n
    for q in QUERIES:
        mine = [s for s in timed if s.get("query") == q]
        out[f"{q}.build_s"] = total([s for s in mine if s["name"] == "build"])
        out[f"{q}.plan_s"] = total([s for s in mine if s["name"] == "plan"])
        out[f"{q}.exec_s"] = total([s for s in mine if s["name"] == "exec"])
        out[f"{q}.task_s"] = ev([s for s in mine if s["name"] in ("build", "exec")], "task_s")
    return out
