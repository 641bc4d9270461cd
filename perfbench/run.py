"""Seeded end-to-end benchmark of the engine, run from the repo root:

    python3 perfbench/run.py --workload genomics_batch --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each exists): ``genomics_batch``,
``corpus_curation`` and ``ingest_stream``. Inputs are generated from
the seed (perfbench/gen.py) and cached under ``.perfbench/inputs``.

A run is one worker process (perfbench/worker.py) with a fresh driver
JVM on local[<cores>], which sets up three Spark sessions in turn: the
first runs the cold pass, the warm passes for ``--seconds``, the
launch-latency probe and the correctness checks; the other two only
set up. ``--trace 1`` instead alternates, after a warm-up session,
untraced and traced sessions of one warm pass each (job groups per
step, spans, a Spark event log, attributed offline by
perfbench/eventlog.py) and reconciles each traced pass with the
untraced pass next to it.

Timings of warm passes are medians (and the tail percentile) over the
least-disturbed half of the samples: each sample carries the share of
CPU time the hypervisor stole while it ran, and the half with the
least steal is kept (workloads.least_disturbed). The cold pass and the
set-ups are taken as measured.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). The line before
it is the run's environment stamp, which is also saved under
``.perfbench/runs``. ``--compare A B`` diffs two saved stamps and
refuses when their core counts differ; ``--layer-map`` prints which
layer each step is attributed to and which end-to-end metric each
per-layer metric should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

STATE = ".perfbench"
TAIL_PCT = 75  # too few passes per run for a higher percentile to repeat
SESSION_TIMEOUT_S = 160


def _reap(pgid: int) -> None:
    """Kill what is left of a session's process group (its driver JVM)
    and wait until every member has exited."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 5
        try:
            os.killpg(pgid, sig)
            while time.time() < deadline:
                os.killpg(pgid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            return


def run_session(cfg: dict, work: str) -> dict:
    """Run the worker process and return its result JSON."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cfg = dict(cfg, work_dir=work, result=os.path.join(work, "result.json"),
               run_id=os.path.basename(work))
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    # Every scratch write of Python and of the JVMs (the spark-submit
    # launcher included) stays inside the work directory.
    tmp = os.path.join(work, "tmp")
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
               PYTHONHASHSEED="0")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(_HERE, "worker.py"), cfg_path],
        stdout=sys.stderr, stderr=sys.stderr, env=env, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=SESSION_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    _reap(proc.pid)
    proc.wait()
    if code != 0 or not os.path.exists(cfg["result"]):
        raise RuntimeError(f"benchmark session failed (exit {code})")
    with open(cfg["result"]) as f:
        return json.load(f)


def _pctl(values: list[float], pct: int) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def end_to_end(workload: str, sf_dir: str, r: dict) -> dict:
    import workloads as wl

    # A batch is what is handed over at once: one increment on
    # ingest_stream, the whole input set (one pass) on the batch mixes.
    # Timings are taken over the least-disturbed half of the samples
    # (wl.least_disturbed): ingest compaction cycles, and on the batch
    # mixes each query's executions, a pass at a percentile being the
    # sum of its queries' walls at that percentile.
    if workload == "ingest_stream":
        cycles = wl.least_disturbed(r["cycle_samples"])
        batches = [lat for c in cycles for lat in c[3]]
        pass_s = statistics.median(c[0] for c in cycles)
        p50, tail = statistics.median(batches), _pctl(batches, TAIL_PCT)
        rows_per_s = sum(c[2] for c in cycles) / sum(c[0] for c in cycles)
    else:
        walls = [[s[0] for s in wl.least_disturbed(samples)]
                 for samples in r["query_samples"].values()]
        pass_s = p50 = sum(statistics.median(w) for w in walls)
        tail = sum(_pctl(w, TAIL_PCT) for w in walls)
        rows_per_s = wl.input_rows(sf_dir, wl.BATCH_TABLES[workload]) / pass_s
    return {
        "setup_s": statistics.median(r["setup_s"]),
        "pass_wall_s": pass_s,
        "cold_pass_s": r["cold_s"],
        "batch_latency_p50_s": p50,
        "batch_latency_tail_s": tail,
        "ingest_rows_per_s": rows_per_s,
    }


def per_layer(r: dict, work: str) -> tuple[dict, dict]:
    import eventlog as ev
    import workloads as wl

    groups = ev.parse(os.path.join(work, "eventlog"))
    spans = r["spans"]
    table = ev.step_medians(spans, groups, "warm")
    vals = ev.layer_metrics(spans, groups, table, wl.LAYERS)
    nd_append = ev.step_total(table, "write_job_s", layer="streaming.neardup")
    nd_total = ev.step_total(table, "span_s", layer="streaming.neardup")
    vals.update({
        "session.lambda_ms_t1": r["lambda_ms_t1"],
        "session.lambda_ms_t4": r["lambda_ms_t4"],
        "session.peak_rss_mb": r["peak_rss_mb"],
        "extensions.dedup.candidate_precision": r.get("candidate_precision", 0.0),
        "streaming.neardup.probe_s": max(nd_total - nd_append, 0.0),
        "streaming.neardup.append_s": nd_append,
        "streaming.neardup.store_mb": r.get("store_mb", 0.0),
        "io.layout.curate_s": r.get("curate_s", 0.0),
        "io.layout.append_s": ev.step_total(table, "span_s", step="append_curated_bucketed"),
        "io.layout.files_per_bucket": r.get("files_per_bucket", 0.0),
    })
    # Reconciliation: every layer's build_s + exec_s summed over a pass
    # (ingest: compaction cycle) against the untraced pass wall of the
    # reference passes run alternately with the traced ones, both taken
    # as the sum of per-step medians over rounds (a pass wall is its step
    # spans up to a few microseconds, see span_coverage). The overhead is
    # the median traced pass wall minus the median untraced one.
    ref, own = r["ref_pass_walls"], r["pass_walls"]
    traced = ev.step_total(table, "span_s")
    untraced = ev.step_total(ev.step_medians(spans, {}, "ref"), "span_s")
    vals["session.trace_reconcile_ratio"] = traced / untraced
    jobs = {name: ev.step_total(table, "jobs", step=name) for _, name, _ in table}
    recon = {
        "jobs_per_pass": sum(jobs.values()),
        "jobs_per_step": jobs,
        # the share of an untraced pass that per-job launch latency
        # explains: how launch-bound (vs execution-bound) the mix is
        "jobs_x_lambda_share": sum(jobs.values()) * r["lambda_ms_t4"] / 1000.0 / untraced,
        "span_coverage": statistics.median(
            t / w for t, w in zip(ev.pass_sums(spans, "warm"), own)),
        "traced_layer_sum_s": traced,
        "untraced_pass_wall_s": untraced,
        "reconcile_ratio": traced / untraced,
        "reconciled_within_10pct": abs(traced / untraced - 1.0) <= 0.10,
        "trace_overhead_s": statistics.median(own) - statistics.median(ref),
        "pass_walls_s": {"traced": own, "untraced": ref},
        "unlabelled_jobs": groups.get("unlabelled", {}).get("jobs", 0),
    }
    return vals, recon


def declared(root: str, kind: str, values: dict) -> dict:
    """``values`` as the result's metrics: exactly the metrics of
    BENCHMARK.json's ``kind`` list, in its order and with its units."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def compare(path_a: str, path_b: str) -> int:
    """Print the per-metric ratio of two saved stamps (b / a); refuse
    artifacts measured on different core counts."""
    with open(path_a) as f:
        sa = json.load(f)
    with open(path_b) as f:
        sb = json.load(f)
    if sa["env"]["nproc"] != sb["env"]["nproc"]:
        print(f"refusing to compare: nproc {sa['env']['nproc']} vs {sb['env']['nproc']}",
              file=sys.stderr)
        return 2
    for k, m in sa["metrics"].items():
        if k in sb["metrics"] and m["value"]:
            print(f"{k}: {m['value']:.4g} -> {sb['metrics'][k]['value']:.4g} "
                  f"({sb['metrics'][k]['value'] / m['value']:.3f}x)")
    return 0


def main() -> int:
    import workloads as wl

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    p.add_argument("--layer-map", action="store_true",
                   help="print the step->layer attribution and the layer->metric map")
    args = p.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.layer_map:
        print(json.dumps({
            "steps": {**{w: dict(m) for w, m in wl.BATCH_MIXES.items()},
                      "ingest_stream": wl.INGEST_STEPS, "setup": wl.SETUP_LAYER},
            "layer_metric_map": wl.LAYER_METRIC_MAP,
        }, indent=1))
        return 0
    if not args.workload:
        p.error("--workload is required")
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "seqdatapipeline_spark"))
            and os.path.exists(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repo root (seqdatapipeline_spark/ not found)",
              file=sys.stderr)
        return 2
    import gen

    t_gen = time.perf_counter()
    sf_dir, digest = gen.inputs_for(args.workload, args.seed, os.path.join(root, STATE, "inputs"))
    gen_s = time.perf_counter() - t_gen
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(root, STATE, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    cfg = {
        "root": root, "workload": args.workload, "sf_dir": sf_dir,
        "seconds": args.seconds, "master": f"local[{nproc}]",
    }
    steal0 = wl.cpu_steal()
    try:
        r = run_session(dict(cfg, trace=bool(args.trace)), work)
        if args.trace:
            values, recon = per_layer(r, work)
            metrics = declared(root, "per_layer", values)
        else:
            values, recon = end_to_end(args.workload, sf_dir, r), None
            metrics = declared(root, "end_to_end", values)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = wl.cpu_steal()
    for line in r["failures"]:
        print(f"perfbench FAIL: {line}", file=sys.stderr)
    attempted, failed = r["attempted"], r["failed"]
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs_hash": digest, "inputs_gen_s": gen_s,
        "env": {
            "nproc": nproc, "master": cfg["master"],
            "lambda_ms_t1": r["lambda_ms_t1"], "lambda_ms_t4": r["lambda_ms_t4"],
            "steal_pct": 100.0 * wl.steal_share(steal0, steal1),
        },
        "samples": {"setups": r["setup_s"], "cold": 1, "passes": len(r["pass_walls"]),
                    "passes_kept": (len(r["pass_walls"]) + 1) // 2,
                    "ingest_batches": len(r["batch_walls"]), "tail_pct": TAIL_PCT},
        "peak_rss_mb": r["peak_rss_mb"],
        "failed_frac": failed / attempted,
        "metrics": metrics,
    }
    if recon:
        stamp["trace"] = recon
    os.makedirs(os.path.join(root, STATE, "runs"), exist_ok=True)
    with open(os.path.join(root, STATE, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(stamp, f, indent=1)
    print(json.dumps({k: v for k, v in stamp.items() if k != "metrics"}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
