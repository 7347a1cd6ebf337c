"""Per-layer numbers of a traced run: the server's spans joined with
Spark's event log.

A job belongs to the span whose id is its job group; a span's work is
its own jobs plus those of the spans nested in it.  Build stages have
no spans of their own: a build job belongs to the stage whose manifest
window (``finished_at - duration_sec`` to ``finished_at``) holds its
submission time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

BUILD_STAGES = ["docs", "stats", "blocks", "terms", "counters"]
BUILD_COUNTERS = ["task_ms", "shuffle_write_bytes", "python_bytes", "spill_bytes", "output_bytes"]
QUERY_CLASSES = ["selective", "broad"]
PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")
# the physical operator of the span-scoring UDF (SparkIndex._score_spans):
# present only on the distributed block-max WAND path
SCORING_OPERATOR = "FlatMapGroupsInPandas"


def _per_layer_units() -> dict[str, str]:
    counter_unit = {"task_ms": "ms", "shuffle_write_bytes": "bytes", "python_bytes": "bytes",
                    "spill_bytes": "bytes", "output_bytes": "bytes"}
    query_unit = {"bm25_topk_ms": "ms", "metadata_ms": "ms", "jobs_per_query": "jobs/query",
                  "result_memo_hit_ratio": "ratio", "meta_memo_hit_ratio": "ratio",
                  "scan_bytes_per_query": "bytes/query", "result_bytes_per_query": "bytes/query",
                  "python_bytes_per_query": "bytes/query"}
    units = {"docids.assign_s": "s"}
    units.update({f"build.{s}_s": "s" for s in BUILD_STAGES})
    units.update({f"build.{c}": u for c, u in counter_unit.items()})
    units.update({f"build.{s}.{c}": u for s in BUILD_STAGES for c, u in counter_unit.items()})
    units.update({f"query.{q}.{m}": u for q in QUERY_CLASSES for m, u in query_unit.items()})
    units.update({"spark.job_wall_ms": "ms", "spark.task_wait_ms": "ms", "spark.job_overhead_ms": "ms"})
    units.update({"httpserve.self_ms": "ms", "httpserve.handle_opens": "count", "httpserve.open_ms": "ms"})
    units.update({
        "maintenance.upsert_ms": "ms", "maintenance.upsert_jobs": "jobs/add",
        "maintenance.bytes_written_per_add": "ratio", "maintenance.blocks_touched": "count",
        "maintenance.buckets_touched": "count",
    })
    return units


PER_LAYER_UNITS = _per_layer_units()


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def load_events(eventlog_dir: str) -> dict:
    """Jobs with their group, timing, plan flag and summed task counters."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    plans: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "sql": props.get("spark.sql.execution.id"),
                        # the Python call site when Spark recorded one
                        "callsite": props.get("callSite.short") or next(
                            (st["Stage Name"] for st in e.get("Stage Infos", []) if ".py:" in st["Stage Name"]),
                            None,
                        ),
                        "submit": e["Submission Time"],
                        "end": None,
                        "first_launch": None,
                        "longest_task": 0,
                        "task_ms": 0, "input_bytes": 0, "result_bytes": 0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "output_bytes": 0, "python_bytes": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(e["Stage ID"]))
                    if j is None:
                        continue
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    launch, finish = info["Launch Time"], info["Finish Time"]
                    if j["first_launch"] is None or launch < j["first_launch"]:
                        j["first_launch"] = launch
                    j["longest_task"] = max(j["longest_task"], finish - launch)
                    j["task_ms"] += m.get("Executor Run Time", 0)
                    j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    j["result_bytes"] += m.get("Result Size", 0)
                    j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in PYTHON_ACCUMS:
                            j["python_bytes"] += int(a.get("Update") or 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[e["executionId"]] = e.get("physicalPlanDescription", "")
    for j in jobs.values():
        plan = plans.get(int(j["sql"])) if j["sql"] is not None else None
        j["scoring"] = bool(plan and SCORING_OPERATOR in plan)
    return jobs


class Trace:
    def __init__(self, spans: list[dict], jobs: dict):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.own_jobs: dict[int, list[dict]] = defaultdict(list)
        for j in jobs.values():
            g = j["group"] or ""
            if g.startswith("span-"):
                self.own_jobs[int(g[5:])].append(j)

    def jobs(self, span: dict) -> list[dict]:
        out = list(self.own_jobs.get(span["id"], []))
        for c in self.children.get(span["id"], []):
            out += self.jobs(c)
        return out

    def descendants(self, span: dict, name: str) -> list[dict]:
        out = []
        for c in self.children.get(span["id"], []):
            if c["name"] == name:
                out.append(c)
            out += self.descendants(c, name)
        return out

    def named(self, name: str, t0: float = 0.0) -> list[dict]:
        return sorted(
            (s for s in self.spans.values() if s["name"] == name and s["start"] >= t0),
            key=lambda s: s["start"],
        )

    def self_ms(self, span: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        iv = sorted((c["start"], c["end"]) for c in self.children.get(span["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"] - covered) * 1000.0


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def per_layer(spans, jobs, stages: dict, classes: dict[str, str], t0: float) -> tuple[dict, dict]:
    """(metrics, report): every per-layer metric, and the premise guards
    plus the self-time split of requests.  Only spans that start at or
    after ``t0`` (the timed window) count for the serving layers."""
    tr = Trace(spans, jobs)
    out: dict[str, float] = {}

    # -- build side: the set-up build
    assign = tr.named("docids.assign_doc_ids")
    out["docids.assign_s"] = _ms(assign[0]) / 1000.0 if assign else 0.0
    for s in BUILD_STAGES:
        out[f"build.{s}_s"] = float(stages.get(s, {}).get("duration_sec", 0.0))
    build_jobs = [j for b in tr.named("build.build") for j in tr.jobs(b)]
    for c in BUILD_COUNTERS:
        out[f"build.{c}"] = float(sum(j[c] for j in build_jobs))
    for s in BUILD_STAGES:
        st = stages.get(s)
        lo = (st["finished_at"] - st["duration_sec"]) * 1000.0 if st else 0.0
        hi = st["finished_at"] * 1000.0 if st else 0.0
        in_stage = [j for j in build_jobs if lo <= j["submit"] <= hi]
        for c in BUILD_COUNTERS:
            out[f"build.{s}.{c}"] = float(sum(j[c] for j in in_stage))

    # -- query layer, per class
    bm25 = tr.named("query.bm25_topk", t0)
    query_jobs = []
    guards: dict[str, dict] = {}
    for cls in QUERY_CLASSES:
        calls = [s for s in bm25 if classes.get(s["attrs"].get("query")) == cls]
        per_call = [tr.jobs(s) for s in calls]
        idfs = [i for s in calls for i in tr.descendants(s, "query.idfs")]
        n = len(calls)
        out[f"query.{cls}.bm25_topk_ms"] = _median(_ms(s) for s in calls)
        out[f"query.{cls}.metadata_ms"] = _median(_ms(s) for s in idfs)
        out[f"query.{cls}.jobs_per_query"] = _mean(len(js) for js in per_call)
        out[f"query.{cls}.result_memo_hit_ratio"] = (
            sum(1 for js in per_call if not js) / n if n else 0.0
        )
        out[f"query.{cls}.meta_memo_hit_ratio"] = (
            sum(1 for i in idfs if not tr.jobs(i)) / len(idfs) if idfs else 0.0
        )
        for key, field in (("scan", "input_bytes"), ("result", "result_bytes"), ("python", "python_bytes")):
            out[f"query.{cls}.{key}_bytes_per_query"] = (
                sum(j[field] for js in per_call for j in js) / n if n else 0.0
            )
        query_jobs += [j for js in per_call for j in js]
        ran = [js for js in per_call if js]
        if not ran:
            continue  # the workload sends no such read, or all hit the memo
        if cls == "broad":
            bad = [js for js in ran if len(js) < 2 or not any(j["scoring"] for j in js)]
            guards["broad_takes_wand"] = {
                "ok": not bad,
                "calls_that_ran_jobs": len(ran),
                "violations": len(bad),
                "scoring_callsites": sorted(
                    {j["callsite"] for js in ran for j in js if j["scoring"] and j["callsite"]}
                ),
            }
        else:
            bad = [js for js in ran if any(j["scoring"] for j in js)]
            guards["selective_takes_local"] = {
                "ok": not bad,
                "calls_that_ran_jobs": len(ran),
                "violations": len(bad),
            }

    done = [j for j in query_jobs if j["end"] is not None and j["first_launch"] is not None]
    out["spark.job_wall_ms"] = _median(j["end"] - j["submit"] for j in done)
    out["spark.task_wait_ms"] = _median(j["first_launch"] - j["submit"] for j in done)
    out["spark.job_overhead_ms"] = _median(j["end"] - j["submit"] - j["longest_task"] for j in done)

    # -- httpserve
    requests = tr.named("httpserve.request", t0)
    opens = tr.named("query.open", t0)
    out["httpserve.self_ms"] = _median(tr.self_ms(r) for r in requests)
    out["httpserve.handle_opens"] = float(len(opens))
    out["httpserve.open_ms"] = _median(_ms(s) for s in opens)

    # -- maintenance
    upserts = tr.named("maintenance.upsert_docs", t0)
    up_jobs = [tr.jobs(u) for u in upserts]
    add_bytes = sum(
        r["attrs"]["body_bytes"] for r in requests
        if r["attrs"]["verb"] == "POST" and tr.descendants(r, "maintenance.upsert_docs")
    )
    out["maintenance.upsert_ms"] = _median(_ms(u) for u in upserts)
    out["maintenance.upsert_jobs"] = _mean(len(js) for js in up_jobs)
    out["maintenance.bytes_written_per_add"] = (
        sum(j["output_bytes"] for js in up_jobs for j in js) / add_bytes if add_bytes else 0.0
    )
    out["maintenance.blocks_touched"] = _mean(u["attrs"].get("blocks_touched", 0) for u in upserts)
    out["maintenance.buckets_touched"] = _mean(u["attrs"].get("buckets_touched", 0) for u in upserts)
    if upserts:
        later_reads = [u for u in upserts if any(s["start"] > u["end"] for s in bm25)]
        missed = [u for u in later_reads if not any(o["start"] >= u["end"] for o in opens)]
        guards["reopen_after_each_add"] = {
            "ok": not missed,
            "adds_followed_by_reads": len(later_reads),
            "adds_without_reopen": len(missed),
        }

    # -- self time of each layer inside a request (means add up to the request)
    split: dict[str, dict] = {}
    for kind, pick in (
        ("search", lambda r: r["attrs"]["verb"] == "POST" and r["attrs"]["path"].count("/") == 1),
        ("add", lambda r: r["attrs"]["verb"] == "POST" and r["attrs"]["path"].count("/") == 2),
        ("get", lambda r: r["attrs"]["verb"] == "GET"),
    ):
        rs = [r for r in requests if pick(r)]
        if not rs:
            continue
        parts: dict[str, float] = defaultdict(float)
        for r in rs:
            parts["httpserve"] += tr.self_ms(r)
            stack = list(tr.children.get(r["id"], []))
            while stack:
                s = stack.pop()
                parts[s["name"]] += tr.self_ms(s)
                stack += tr.children.get(s["id"], [])
        split[kind] = {
            "requests": len(rs),
            "request_ms": sum(_ms(r) for r in rs) / len(rs),
            "self_ms": {k: v / len(rs) for k, v in sorted(parts.items())},
        }
    return out, {"guards": guards, "self_time_per_request": split}
