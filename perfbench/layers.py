"""Per-layer metrics of the traced run.

``NAMES`` is the full list, in ``BENCHMARK.json`` order; every traced
run prints all of them, and a layer that a workload never enters reads
0.  ``.load`` is the medallion load round, ``.drop`` the median over its
drop rounds.  Spark task metrics are charged to the top-level span that
issued the job (see ``spans.attribute``).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from querymix import MIX
from spans import TASK_FIELDS

STEPS = ("bronze_ingest", "silver_transform", "build_gold_dim", "build_gold_fact", "run_quality")
TOP_SPANS = tuple(f"pipeline.{s}" for s in STEPS) + ("queries.build", "queries.exec")
SPARK_FIELDS = ("jobs",) + tuple(f for f in TASK_FIELDS if f != "gc_s")
FIELD_UNITS = {
    "jobs": "count",
    "executor_cpu_s": "s",
    "task_run_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "input_bytes": "B",
}
STREAM_MS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "latest_offset_ms": "latestOffset",
}


def _names() -> dict[str, tuple[str, str]]:
    """name -> (unit, better)."""
    n: dict[str, tuple[str, str]] = {
        "session.get_spark_s": ("s", "lower"),
        "session.warmup_s": ("s", "lower"),
        "session.workload_warmup_s": ("s", "lower"),
    }
    for s in STEPS:
        n[f"pipeline.{s}_s.load"] = ("s", "lower")
        n[f"pipeline.{s}_s.drop"] = ("s", "lower")
    for s in STEPS:
        n[f"pipeline.{s}_speedup"] = ("x", "higher")
    n["pipeline.load_speedup"] = ("x", "higher")
    n["pipeline.load_rows_per_s"] = ("1/s", "higher")
    n["pipeline.drop_tail_s"] = ("s", "lower")
    n["pipeline.drop_samples"] = ("count", "higher")
    n["sources.infer_json_schema_s.load"] = ("s", "lower")
    n["sources.infer_json_schema_s.drop"] = ("s", "lower")
    n["sources.drop_bytes_read_ratio"] = ("ratio", "lower")
    n["sources.fact_files_written.load"] = ("count", "lower")
    n["sources.fact_files_written.drop"] = ("count", "lower")
    n["sources.fact_rows_per_file"] = ("count", "higher")
    n["streaming.batches"] = ("count", "lower")
    for k in STREAM_MS:
        n[f"streaming.{k}"] = ("ms", "lower")
    n["streaming.state_rows"] = ("count", "lower")
    n["streaming.state_memory_bytes"] = ("B", "lower")
    for span in TOP_SPANS:
        for f in SPARK_FIELDS:
            n[f"spark.{span}.{f}"] = (FIELD_UNITS[f], "lower")
    n["spark.gc_s"] = ("s", "lower")
    n["queries.build_s"] = ("s", "lower")
    n["queries.build_jobs"] = ("count", "lower")
    n["queries.exec_s"] = ("s", "lower")
    n["queries.exec_jobs"] = ("count", "lower")
    n["queries.data.load_calls"] = ("count", "lower")
    n["queries.data.load_s"] = ("s", "lower")
    for q in MIX:
        n[f"query.{q}.s"] = ("s", "lower")
    n["wall.bulk_s"] = ("s", "lower")
    n["wall.step_gmean_s"] = ("s", "lower")
    n["host.steal_frac"] = ("ratio", "lower")
    n["host.canary_s"] = ("s", "lower")
    n["trace.overhead_frac"] = ("ratio", "lower")
    return n


NAMES = _names()


def drop_tail(samples: list[float]) -> float:
    """Highest order statistic with at least ten samples beyond it; with
    fewer than eleven samples, the largest."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) >= 11 else (s[-1] if s else 0.0)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def compute(tracer, jobs: list[dict], listener, facts: dict) -> dict[str, float]:
    """Per-layer values from the traced section's spans and jobs.

    ``facts`` carries what the workload measured itself (session
    timings, fact files per round, landed bytes, single-core spans,
    host readings, overhead)."""
    v = {name: 0.0 for name in NAMES}
    v.update({k: facts[k] for k in facts if k in v})
    spans = [s for s in tracer.spans if not s.request.startswith("single.")]
    single = [s for s in tracer.spans if s.request.startswith("single.")]

    # ---- pipeline and sources: seconds per step and round
    def per_request(ss, name):
        d = defaultdict(float)
        for s in ss:
            if s.name == name:
                d[s.request] += s.seconds
        return d

    for name in [f"pipeline.{s}" for s in STEPS] + ["sources.infer_json_schema"]:
        d = per_request(spans, name)
        key = f"{name}_s"
        v[f"{key}.load"] = d.get("load", 0.0)
        v[f"{key}.drop"] = _median(x for r, x in d.items() if r.startswith("drop"))
    for s in STEPS:
        one = per_request(single, f"pipeline.{s}").get("single.load", 0.0)
        many = v[f"pipeline.{s}_s.load"]
        v[f"pipeline.{s}_speedup"] = one / many if many else 0.0

    # ---- Spark task metrics per top-level span
    by_id = {s.sid: s for s in tracer.spans}
    in_section = {s.sid for s in spans}
    for j in jobs:
        sid = j.get("span")
        if sid is None or sid not in in_section:
            continue
        top = tracer.top(sid)
        v["spark.gc_s"] += j["gc_s"]
        if top.name in TOP_SPANS:
            v[f"spark.{top.name}.jobs"] += 1
            for f in SPARK_FIELDS[1:]:
                v[f"spark.{top.name}.{f}"] += j[f]
        j["top"] = top.name
        j["request"] = by_id[sid].request

    # bytes read in drop rounds / bytes landed by them
    read = sum(j["input_bytes"] for j in jobs if j.get("request", "").startswith("drop"))
    landed = facts.get("drop_bytes_landed", 0)
    v["sources.drop_bytes_read_ratio"] = read / landed if landed else 0.0

    # ---- streaming progress, per drop round
    per_drop = defaultdict(lambda: defaultdict(float))
    last_state: dict[str, tuple[float, float]] = {}
    for p in listener.progress:
        t = listener.started.get(p["run_id"])
        s = tracer.innermost_at(t) if t is not None else None
        if s is None or s.request.startswith("single."):
            continue
        if s.request.startswith("drop"):
            d = per_drop[s.request]
            d["batches"] += 1
            for k, src in STREAM_MS.items():
                d[k] += p["duration_ms"].get(src, 0)
        if tracer.top(s.sid).name == "pipeline.silver_transform":
            last_state[s.sid] = (p["state_rows"], p["state_bytes"])
    v["streaming.batches"] = _median(d["batches"] for d in per_drop.values())
    for k in STREAM_MS:
        v[f"streaming.{k}"] = _median(d[k] for d in per_drop.values())
    # dedup state after the last round: the last silver run per entity
    last = sorted(last_state.items(), key=lambda kv: by_id[kv[0]].start)[-3:]
    v["streaming.state_rows"] = sum(x[1][0] for x in last)
    v["streaming.state_memory_bytes"] = sum(x[1][1] for x in last)

    # ---- queries: per traced pass (one pass in the traced section)
    for which in ("build", "exec"):
        ss = [s for s in spans if s.name == f"queries.{which}"]
        v[f"queries.{which}_s"] = sum(s.seconds for s in ss)
        v[f"queries.{which}_jobs"] = v[f"spark.queries.{which}.jobs"]
    loads = [s for s in spans if s.name == "queries.data.load"]
    v["queries.data.load_calls"] = len(loads)
    v["queries.data.load_s"] = sum(s.seconds for s in loads)
    for s in spans:
        if s.name in ("queries.build", "queries.exec"):
            v[f"query.{s.request}.s"] += s.seconds
    return v
