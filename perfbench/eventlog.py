"""Offline attribution of a traced session: parse the Spark event log,
fold its jobs/stages/tasks into the job groups the tracer set
(``<pass>|<step>:<phase>``), and sum groups and spans into per-layer
metrics."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# Metrics every layer reports (units are declared in BENCHMARK.json).
STD_METRICS = (
    "build_s", "exec_s", "jobs", "tasks", "task_busy_s", "sched_wait_s",
    "shuffle_mb", "spill_mb", "failed_tasks",
)


def _new_group() -> dict:
    return {"jobs": 0, "tasks": 0, "task_busy_s": 0.0, "sched_wait_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0, "write_job_s": 0.0}


def parse(log_dir: str) -> dict[str, dict]:
    """{job group: aggregates} over every event log file in ``log_dir``.
    Stage waiting is first task launch minus stage submission; shuffle
    is bytes written plus bytes read; ``write_job_s`` is the wall of
    jobs that belong to a SQL execution writing files."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    stage_first_launch: dict[int, int] = {}
    job_info: dict[int, tuple[str, str | None, int]] = {}
    write_execs: set[str] = set()
    for f in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "unlabelled"
                    groups[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    job_info[ev["Job ID"]] = (
                        group, props.get("spark.sql.execution.id"), ev["Submission Time"]
                    )
                elif kind == "SparkListenerJobEnd":
                    group, exec_id, start = job_info.get(ev["Job ID"], (None, None, 0))
                    if group is not None and exec_id in write_execs:
                        groups[group]["write_job_s"] += (ev["Completion Time"] - start) / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id"):
                        stage_group[info["Stage ID"]] = props["spark.jobGroup.id"]
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = groups[stage_group.get(sid, "unlabelled")]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += int(bool(info.get("Failed")))
                    g["task_busy_s"] += m.get("Executor Run Time", 0) / 1000.0
                    w = m.get("Shuffle Write Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_mb"] += (
                        w.get("Shuffle Bytes Written", 0)
                        + r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    ) / 1e6
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 1e6
                    launch = info.get("Launch Time", 0)
                    if sid not in stage_first_launch or launch < stage_first_launch[sid]:
                        stage_first_launch[sid] = launch
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan = ev.get("physicalPlanDescription", "")
                    if "InsertIntoHadoopFsRelation" in plan:
                        write_execs.add(str(ev["executionId"]))
    for sid, launch in stage_first_launch.items():
        if sid in stage_submit and sid in stage_group:
            groups[stage_group[sid]]["sched_wait_s"] += max(launch - stage_submit[sid], 0) / 1000.0
    return dict(groups)


def step_medians(spans: list[dict], groups: dict[str, dict], kind: str) -> dict[tuple, dict]:
    """{(layer, step, phase): {metric: median over rounds}} over the
    passes labelled ``<kind><round>.<k>``. A step's value in a
    round is its sum over the round's passes (one pass, or on
    ingest_stream the batches of one compaction cycle); the median over
    rounds keeps a one-off stall of one round out of every layer sum.
    ``span_s`` is the step's span time; the rest come from its jobs."""
    def measured(s) -> bool:
        return s["pass"].startswith(kind) and "." in s["pass"]

    rounds = sorted({s["pass"].split(".")[0] for s in spans if s["phase"] == "pass" and measured(s)})
    acc: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s in spans:
        if s["phase"] == "pass" or not measured(s):
            continue
        rnd = s["pass"].split(".")[0]
        a = acc[(s["layer"], s["name"], s["phase"])]
        a["span_s"][rnd] += s["end"] - s["start"]
        g = groups.get(f"{s['pass']}|{s['name']}:{s['phase']}") or _new_group()
        for m, v in g.items():
            a[m][rnd] += v
    return {
        key: {m: statistics.median(by_round.get(r, 0.0) for r in rounds)
              for m, by_round in a.items()}
        for key, a in acc.items()
    }


def layer_metrics(spans: list[dict], groups: dict[str, dict], table: dict, layers) -> dict:
    """Per-layer metrics: sums over each layer's steps in ``table``
    (``step_medians``). The ``session`` layer covers set-up and the
    launch-latency probe of the traced session, reported as totals."""
    out = {f"{layer}.{m}": 0.0 for layer in layers for m in STD_METRICS}
    for (layer, _, phase), m in table.items():
        out[f"{layer}.{'build_s' if phase == 'build' else 'exec_s'}"] += m["span_s"]
        for k in STD_METRICS[2:]:
            out[f"{layer}.{k}"] += m[k]
    for s in spans:
        if s["layer"] == "session" and s["pass"] in ("setup", "lambda"):
            out[f"session.{'build_s' if s['phase'] == 'build' else 'exec_s'}"] += (
                s["end"] - s["start"])
            g = groups.get(f"{s['pass']}|{s['name']}:{s['phase']}") or _new_group()
            for k in STD_METRICS[2:]:
                out[f"session.{k}"] += g[k]
    return out


def step_total(table: dict, metric: str, step: str | None = None, layer: str | None = None) -> float:
    """``metric`` of ``table`` summed over the phases of ``step`` (or
    over every step of ``layer``)."""
    return sum(m[metric] for (lay, name, _), m in table.items()
               if (step is None or name == step) and (layer is None or lay == layer))


def pass_sums(spans: list[dict], kind: str) -> list[float]:
    """Per round of ``kind``, in round order: the summed span time of
    its steps."""
    sums: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["phase"] != "pass" and s["pass"].startswith(kind) and "." in s["pass"]:
            sums[s["pass"].split(".")[0]] += s["end"] - s["start"]
    return [sums[k] for k in sorted(sums)]
