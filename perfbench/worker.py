"""One benchmark run's Spark work, in a fresh process (fresh driver JVM).

``python3 perfbench/worker.py <config.json>`` runs Spark sessions one
after the other in the same JVM:

- session 0: set-up (process start, JVM launch, session start, JVM
  warm-up, program-side layout build) and the cold pass, whose results
  are collected for the correctness checks;
- untraced run: session 0 goes on with the warm passes for the
  configured seconds, the launch-latency probe and the checks; then
  SETUPS - 1 more set-ups;
- traced run: one untimed warm-up session, then TRACE_ROUNDS rounds
  of one untraced reference session (spans only) and one traced
  session (spans, job groups per step, a Spark event log), one warm
  pass each; the last session runs the probe and the checks.

It writes one result JSON to the path named in the config; ``run.py``
turns it into metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

_T0 = time.perf_counter()

_HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3  # Spark sessions per timed run; the first one on a fresh JVM
TRACE_ROUNDS = 3  # untraced/traced pass pairs of a traced run (odd: ends traced)
DRIVER_MEMORY = "2g"


class Tracer:
    """Spans kept in memory (name, layer, phase, start, end, parent pass
    span, run id) while ``enabled``; with ``label_jobs`` every step also
    labels its Spark jobs with the job group ``<pass>|<step>:<phase>``.
    Disabled, the context managers only run their body, so timed
    sessions carry no spans and no labels."""

    def __init__(self, spark, run_id: str, layer_of: dict):
        self.sc = spark.sparkContext
        self.enabled = False
        self.label_jobs = False
        self.run_id = run_id
        self.layer_of = layer_of
        self.spans: list[dict] = []
        self._pass: dict | None = None

    def _open(self, name: str, layer, phase: str) -> dict:
        span = {
            "id": len(self.spans), "name": name, "layer": layer, "phase": phase,
            "pass": self._pass["name"] if self._pass else name,
            "parent": self._pass["id"] if self._pass else None,
            "run": self.run_id, "start": time.time(), "end": None,
        }
        self.spans.append(span)
        return span

    @contextmanager
    def pass_span(self, label: str):
        if not self.enabled:
            yield
            return
        self._pass = self._open(label, None, "pass")
        try:
            yield
        finally:
            self._pass["end"] = time.time()
            self._pass = None

    @contextmanager
    def step(self, name: str, phase: str):
        if not self.enabled:
            yield
            return
        span = self._open(name, self.layer_of[name], phase)
        group = f"{span['pass']}|{name}:{phase}"
        if self.label_jobs:
            self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if self.label_jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            span["end"] = time.time()


def _log(msg: str) -> None:
    print(f"perfbench worker +{time.perf_counter() - _T0:.1f}s: {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _load_selfcheck(root: str):
    """The repo's order-insensitive value hash (scripts/selfcheck.py)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(root, "scripts", "selfcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _duck(sf_dir: str, tables: dict[str, list[str]] | None = None):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
            )
    for name, paths in (tables or {}).items():
        files = ", ".join(f"'{p}'" for p in paths)
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{files}])")
    return con


def check_batch(results, oracles, mix, sf_dir, root) -> list[str]:
    """Each query's collected cold-pass result against its DuckDB oracle
    on the generated inputs: row count, column names and selfcheck's
    order-insensitive value hash."""
    sc = _load_selfcheck(root)
    con = _duck(sf_dir)
    failures = []
    for name, _ in mix:
        if name not in results:
            continue  # raised in the cold pass, already counted
        scols, srows = results[name]
        res = con.execute(oracles[name])
        ocols, orows = [d[0] for d in res.description], res.fetchall()
        if len(srows) != len(orows) or sorted(scols) != sorted(ocols):
            failures.append(f"{name}: rows {len(srows)} vs {len(orows)}")
        elif sc.value_hash(scols, srows) != sc.value_hash(ocols, orows):
            failures.append(f"{name}: value-hash mismatch")
    return failures


def check_ingest(loop, oracles) -> list[str]:
    """End-of-run ingest identities: the union of per-batch pairs is the
    one-shot LSH result over every ingested document, and the curated
    table holds exactly base + appended rows."""
    failures = []
    con = _duck(loop.sf_dir, {"documents": loop.docs_ingested()})
    want = {tuple(r) for r in con.execute(oracles["stream_minhash_dedup"]).fetchall()}
    if want != loop.pairs:
        failures.append(
            f"stream pairs: {len(loop.pairs)} vs one-shot {len(want)}"
        )
    rows = loop.curated_rows()
    if rows != loop.base_rows + loop.appended_rows:
        failures.append(
            f"curated rows {rows} vs {loop.base_rows} + {loop.appended_rows}"
        )
    return failures


def _shingles(text: str, n: int = 3) -> set:
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n + 1, 1))}


def candidate_precision(pairs, sf_dir, threshold: float = 0.5) -> float:
    """Share of LSH candidate pairs whose exact word-3-shingle Jaccard
    clears ``threshold`` (verified pairs / candidate pairs)."""
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pydict()
    sh = {d: _shingles(t) for d, t in zip(docs["doc_id"], docs["text"])}
    if not pairs:
        return 0.0
    ok = sum(
        len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= threshold for a, b in pairs
    )
    return ok / len(pairs)


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    root, workload, sf_dir, work = cfg["root"], cfg["workload"], cfg["sf_dir"], cfg["work_dir"]
    sys.path.insert(0, root)
    sys.path.insert(0, _HERE)
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    import workloads as wl
    from seqdatapipeline_spark.session import get_spark

    queries, oracles = entry.queries(), entry.oracle_sql()
    mix = wl.BATCH_MIXES.get(workload, [])
    layer_of = {"setup": wl.SETUP_LAYER, "lambda_probe": wl.SETUP_LAYER,
                **wl.INGEST_STEPS, **dict(mix)}
    base_conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        # C1-only JIT: the driver reaches steady speed within the first
        # pass instead of drifting for minutes while C2 compiles, so a
        # short run's warm passes are comparable across runs.
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1",
    }
    out: dict = {"attempted": 0, "failed": 0, "failures": [], "setup_s": []}
    results: dict[str, tuple[list, list]] = {}

    def start(i: int, event_log: str | None = None, trace_setup: bool = False):
        """Set-up of session ``i``: session start, JVM warm-up and the
        program-side layout build (ingest_stream's curated base). The
        first session also pays process start and the JVM launch. With
        ``event_log`` the session writes a Spark event log into that
        subdirectory of the work dir; ``trace_setup`` also traces its
        set-up."""
        t = time.perf_counter() if i else _T0
        conf = dict(base_conf, **{"spark.sql.warehouse.dir": os.path.join(work, f"warehouse{i}")})
        if event_log:
            os.makedirs(os.path.join(work, event_log), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # smaller events: plans in simple form, no per-task
                # accumulator copies of the task metrics
                "spark.sql.ui.explainMode": "simple",
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
            })
        spark = get_spark(app_name=f"perfbench-{workload}", master=cfg["master"], extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark, f"{cfg['run_id']}-{i}", layer_of)
        tracer.enabled = tracer.label_jobs = trace_setup
        with tracer.pass_span("setup"), tracer.step("setup", "exec"):
            wl.noop(spark.range(0, 400_000, 1, 4).select((F.col("id") * 7).alias("x"))
                    .groupBy((F.col("x") % 97).alias("k")).count())
        loop = None
        if workload == "ingest_stream":
            loop = wl.IngestLoop(spark, sf_dir, os.path.join(work, f"state{i}"), queries, tracer)
            with tracer.pass_span("setup"):
                t_cur = time.perf_counter()
                loop.curate_base()
                out["curate_s"] = time.perf_counter() - t_cur
        out["setup_s"].append(time.perf_counter() - t)
        _log(f"session {i} set up in {out['setup_s'][-1]:.2f}s")
        return spark, tracer, loop

    def stop(spark) -> None:
        wl.clear_memos(spark)
        spark.stop()

    def run_pass(spark, tracer, label: str, collect: bool = False):
        """One pass of the mix; returns its wall and each query's wall
        (time to build and force it) and steal share. Warm passes force each
        query with the noop sink; the cold pass collects every result to
        the driver so the correctness checks need no second execution."""
        with tracer.pass_span(label):
            t_pass = time.perf_counter()
            per_query = {}
            for name, _ in mix:
                out["attempted"] += 1
                t_query, s_query = time.perf_counter(), wl.cpu_steal()
                try:
                    with tracer.step(name, "build"):
                        df = queries[name](spark, sf_dir)
                    with tracer.step(name, "exec"):
                        if collect:
                            results[name] = (list(df.columns), [tuple(r) for r in df.collect()])
                        else:
                            wl.noop(df)
                except Exception:
                    out["failed"] += 1
                    out["failures"].append(f"{label} {name}: {traceback.format_exc(limit=2)}")
                per_query[name] = (time.perf_counter() - t_query,
                                   wl.steal_share(s_query, wl.cpu_steal()))
            wall = time.perf_counter() - t_pass
        _log(f"{label} (wall s, steal %): "
             f"{ {k: (round(w, 2), round(100 * st, 1)) for k, (w, st) in per_query.items()} }")
        wl.clear_memos(spark)
        return wall, per_query

    def run_batch(loop, tracer, label: str, compact: bool = False):
        out["attempted"] += 1
        with tracer.pass_span(label):
            t = time.perf_counter()
            try:
                pairs = loop.run_batch(compact)
            except Exception:
                out["failed"] += 1
                out["failures"].append(f"{label}: {traceback.format_exc(limit=2)}")
                raise
            lat = time.perf_counter() - t
        return lat, loop.account(pairs)

    def run_cycle(loop, tracer, prefix: str, batches: list):
        """One ingest pass: a compaction cycle of INGEST_COMPACT_EVERY
        batches, the last one compacting. Appends each batch's latency
        to ``batches``; returns the cycle's wall, steal share, rows
        absorbed and batch latencies."""
        lats, rows, s0 = [], 0, wl.cpu_steal()
        for b in range(wl.INGEST_COMPACT_EVERY):
            lat, n = run_batch(loop, tracer, f"{prefix}.{len(batches)}",
                               compact=b == wl.INGEST_COMPACT_EVERY - 1)
            batches.append(lat)
            lats.append(lat)
            rows += n
        return sum(lats), wl.steal_share(s0, wl.cpu_steal()), rows, lats

    def run_warm(spark, tracer, loop, prefix: str = "warm0", n_passes: int | None = None):
        """Warm passes labelled ``<prefix>.<k>``: exactly ``n_passes``,
        or for the configured seconds and at least MIN_PASSES passes;
        returns (pass walls, ingest batch walls). Every warm sample is
        also kept with its steal share: each query execution in
        ``out["query_samples"]``, each ingest cycle in
        ``out["cycle_samples"]``."""
        passes, batches = [], []
        t_end = time.perf_counter() + cfg["seconds"]
        while (len(passes) < n_passes if n_passes else
               len(passes) < wl.MIN_PASSES[workload] or time.perf_counter() < t_end):
            if loop is not None and (
                loop.next_batch + wl.INGEST_COMPACT_EVERY > loop.batches_available()
            ):
                break  # every generated increment is used up
            if loop is None:
                wall, per_query = run_pass(spark, tracer, f"{prefix}.{len(passes)}")
                passes.append(wall)
                for name, sample in per_query.items():
                    out.setdefault("query_samples", {}).setdefault(name, []).append(sample)
            else:
                # ingest: a pass is one compaction cycle, so every run
                # carries the same share of compacting batches
                cycle = run_cycle(loop, tracer, prefix, batches)
                passes.append(cycle[0])
                out.setdefault("cycle_samples", []).append(cycle)
        _log(f"{prefix}: passes {[round(p, 2) for p in passes]}")
        return passes, batches

    def finish(spark, tracer, loop) -> None:
        """Launch-latency probe and correctness checks (and, traced, the
        per-layer extras) in the session that ran the measured passes."""
        with tracer.pass_span("lambda"), tracer.step("lambda_probe", "exec"):
            out["lambda_ms_t1"] = wl.lambda_probe(spark, 1)
            out["lambda_ms_t4"] = wl.lambda_probe(spark, 4)
        out["attempted"] += len(mix) if loop is None else 2
        try:
            if loop is None:
                fails = check_batch(results, oracles, mix, sf_dir, root)
            else:
                fails = check_ingest(loop, oracles)
        except Exception:
            fails = [f"check raised: {traceback.format_exc(limit=2)}"]
        out["failed"] += len(fails)
        out["failures"].extend(fails)
        _log(f"probe and checks done, {len(fails)} failed")
        if cfg["trace"]:
            if "dedup_minhash_lsh" in results:
                out["candidate_precision"] = candidate_precision(
                    results["dedup_minhash_lsh"][1], sf_dir
                )
            if loop is not None:
                out["store_mb"] = loop.store_mb()
                out["files_per_bucket"] = statistics.mean(loop.files_per_bucket)
            out["spans"] = tracer.spans

    # Session 0: set-up and the cold pass (ingest: first compaction
    # cycle) on a fresh JVM.
    spark, tracer, loop = start(0)
    if loop is None:
        out["cold_s"], _ = run_pass(spark, tracer, "cold", collect=True)
    else:
        out["cold_s"] = run_cycle(loop, tracer, "cold", [])[0]
    _log(f"cold pass {out['cold_s']:.2f}s")
    if not cfg["trace"]:
        # The warm passes follow in the same session: in a restarted one
        # the first pass would also pay the new SparkContext's warm-up
        # (Python workers, block and shuffle managers). The remaining
        # set-ups come after.
        out["pass_walls"], out["batch_walls"] = run_warm(spark, tracer, loop)
        finish(spark, tracer, loop)
        for i in range(1, SETUPS):
            stop(spark)
            spark, tracer, loop = start(i)
    else:
        # One untimed warm-up session first, traced like the measured
        # ones but with an event log that is not parsed: the sessions
        # right after the cold pass still run slower (JVM warm-up), and
        # would otherwise weigh on whichever kind comes first.
        stop(spark)
        spark, tracer, loop = start(1, "eventlog-warmup")
        tracer.enabled = tracer.label_jobs = True
        run_warm(spark, tracer, loop, "warmup", n_passes=1)
        stop(spark)
        # Untraced reference and traced sessions alternate, one pass
        # (ingest: one compaction cycle) each, ordered RT, TR, RT, ...
        # so that both kinds see the same machine load and JVM warmth.
        # Reference sessions record spans only; traced ones also label
        # jobs and write the event log. The last session is traced, its
        # set-up included, and stays open for the probe and the checks.
        out.update(ref_pass_walls=[], pass_walls=[], batch_walls=[])
        spans, i = [], 2
        for rnd in range(TRACE_ROUNDS):
            last_round = rnd == TRACE_ROUNDS - 1
            for traced in ((False, True) if rnd % 2 == 0 else (True, False)):
                spark, tracer, loop = start(i, "eventlog" if traced else None,
                                            trace_setup=traced and last_round)
                i += 1
                tracer.enabled, tracer.label_jobs = True, traced
                prefix = f"{'warm' if traced else 'ref'}{rnd}"
                walls, batch_walls = run_warm(spark, tracer, loop, prefix, n_passes=1)
                if traced:
                    out["pass_walls"] += walls
                    out["batch_walls"] += batch_walls
                else:
                    out["ref_pass_walls"] += walls
                if not (traced and last_round):
                    spans += tracer.spans
                    stop(spark)
        tracer.spans[:0] = spans
        finish(spark, tracer, loop)

    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    out["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    stop(spark)
    with open(cfg["result"], "w") as f:
        json.dump(out, f)
    _log("session stopped")


if __name__ == "__main__":
    main(sys.argv[1])
