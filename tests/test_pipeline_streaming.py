"""Tests for the stage-DAG runner (short-circuit + status sink) and
the applyInPandasWithState stateful status stream."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from seqdatapipeline_spark.pipelines import dag
from seqdatapipeline_spark.streaming import stateful, watch


def test_dag_short_circuit_and_status(spark):
    src = spark.createDataFrame([(i,) for i in range(10)], "x int")
    tmp = tempfile.mkdtemp()
    try:
        stages = [
            dag.Stage("keep_even", lambda df: df.filter(F.col("x") % 2 == 0), ok_code="q"),
            dag.Stage("drop_all", lambda df: df.filter(F.lit(False)), ok_code="t"),
            dag.Stage("never_runs", lambda df: df, ok_code="a"),
        ]
        run = dag.run_pipeline(spark, src, stages, sample_id="s1",
                               status_path=os.path.join(tmp, "status"))
        assert [r.status for r in run.results] == ["q", "failed", "skipped"]
        assert not run.ok and run.output is None
        status = spark.read.parquet(os.path.join(tmp, "status"))
        got = {r.id: r.status for r in status.collect()}
        assert got["s1:keep_even"] == "q" and got["s1:drop_all"] == "failed"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dag_all_ok(spark):
    src = spark.createDataFrame([(1,), (2,)], "x int")
    run = dag.run_pipeline(spark, src, [dag.Stage("id", lambda df: df)])
    assert run.ok and run.output is not None and run.output.count() == 2


def _write_events(path, name, rows):
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stateful_status_across_batches(spark):
    """State must survive micro-batch boundaries via the checkpoint:
    batch 2 sees sample s1's count continue from batch 1."""
    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ck")
    os.makedirs(inbox)
    try:
        schema = "sample_id string, stage string, status string, ts long"
        seen: dict[int, dict] = {}

        def run_once(epoch_tag):
            stream = (
                spark.readStream.schema(schema).json(inbox)
            )
            out = stateful.sample_status_stream(stream)

            def sink(df, epoch):
                for r in df.collect():
                    seen.setdefault(epoch_tag, {})[r.sample_id] = (
                        r.n_events, r.last_stage, r.last_status, r.failed
                    )

            q = out.writeStream.foreachBatch(sink).option(
                "checkpointLocation", ckpt
            ).outputMode("update").trigger(availableNow=True).start()
            q.awaitTermination()

        _write_events(inbox, "b1.json", [
            {"sample_id": "s1", "stage": "qCheck", "status": "q", "ts": 1},
            {"sample_id": "s1", "stage": "trim", "status": "t", "ts": 2},
            {"sample_id": "s2", "stage": "qCheck", "status": "failed", "ts": 1},
        ])
        run_once(1)
        assert seen[1]["s1"] == (2, "trim", "t", False)
        assert seen[1]["s2"] == (1, "qCheck", "failed", True)

        _write_events(inbox, "b2.json", [
            {"sample_id": "s1", "stage": "align", "status": "a", "ts": 3},
        ])
        run_once(2)
        # n_events continues from persisted state: 2 + 1 = 3
        assert seen[2]["s1"] == (3, "align", "a", False)
        assert "s2" not in seen[2]  # no new events → no emission
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_across_batches(spark):
    """A duplicate payload arriving in a later micro-batch must be
    dropped: dedup state survives the batch boundary."""
    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ck")
    os.makedirs(inbox)
    try:
        schema = "doc_id long, text string"
        emitted: list[tuple] = []

        def run_once():
            stream = spark.readStream.schema(schema).json(inbox)
            out = watch.streaming_dedup(stream)

            def sink(df, epoch):
                emitted.extend((r.doc_id, r.text) for r in df.collect())

            q = out.writeStream.foreachBatch(sink).option(
                "checkpointLocation", ckpt
            ).outputMode("append").trigger(availableNow=True).start()
            q.awaitTermination()

        _write_events(inbox, "b1.json", [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "alpha beta"},   # in-batch dup
            {"doc_id": 3, "text": "gamma"},
        ])
        run_once()
        texts = sorted(t for _, t in emitted)
        assert texts == ["alpha beta", "gamma"]

        _write_events(inbox, "b2.json", [
            {"doc_id": 4, "text": "alpha beta"},   # cross-batch dup
            {"doc_id": 5, "text": "delta"},
        ])
        run_once()
        texts = sorted(t for _, t in emitted)
        assert texts == ["alpha beta", "delta", "gamma"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stream_attribution_across_batches(spark):
    """Watermarked stream-stream join: a click arriving in a LATER
    micro-batch than its purchase must still match (the purchase is
    buffered in join state), and matches outside the 30-minute horizon
    must not appear."""
    tmp = tempfile.mkdtemp()
    cdir, pdir, ckpt = (os.path.join(tmp, d) for d in ("c", "p", "ck"))
    os.makedirs(cdir); os.makedirs(pdir)
    try:
        got: list[tuple] = []

        def run_once():
            clicks = (
                spark.readStream.schema("click_id long, user_id long, click_ts string")
                .json(cdir)
                .withColumn("click_ts", F.col("click_ts").cast("timestamp"))
            )
            purchases = (
                spark.readStream.schema("purchase_id long, user_id long, purchase_ts string")
                .json(pdir)
                .withColumn("purchase_ts", F.col("purchase_ts").cast("timestamp"))
            )
            out = watch.stream_attribution_join(
                clicks, purchases, key="user_id", within="30 minutes"
            )

            def sink(df, epoch):
                got.extend((r.click_id, r.purchase_id) for r in df.collect())

            q = out.writeStream.foreachBatch(sink).option(
                "checkpointLocation", ckpt
            ).outputMode("append").trigger(availableNow=True).start()
            q.awaitTermination()

        _write_events(pdir, "p1.json", [
            {"purchase_id": 100, "user_id": 1, "purchase_ts": "2024-01-01 10:00:00"},
            {"purchase_id": 101, "user_id": 1, "purchase_ts": "2024-01-01 08:00:00"},
        ])
        _write_events(cdir, "c1.json", [])
        run_once()
        assert got == []  # no clicks yet; purchases buffered in state

        # click lands in a later batch: 10:20 matches the 10:00 purchase
        # (within 30 min) but not the 08:00 one (outside horizon)
        _write_events(cdir, "c2.json", [
            {"click_id": 7, "user_id": 1, "click_ts": "2024-01-01 10:20:00"},
        ])
        run_once()
        assert got == [(7, 100)]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_incremental_rollup(spark):
    """Two micro-batches folded into the rollup state must equal the
    batch aggregate over all rows — counts, sums, and extrema merge
    additively across batches."""
    from seqdatapipeline_spark.streaming import rollup

    tmp = tempfile.mkdtemp()
    inbox, ckpt, state = (os.path.join(tmp, d) for d in ("in", "ck", "state"))
    os.makedirs(inbox)
    try:
        def partial(df):
            return df.groupBy("k").agg(
                F.count("*").cast("long").alias("n"),
                F.sum("v").alias("sv"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )

        merges = {"n": "sum", "sv": "sum", "mn": "min", "mx": "max"}

        def sink(batch_df, _epoch):
            rollup.merge_rollup(partial(batch_df), state, ["k"], merges)

        def run_once():
            stream = spark.readStream.schema("k string, v double").json(inbox)
            watch.run_batches(stream, sink, ckpt)

        _write_events(inbox, "b1.json", [
            {"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}, {"k": "b", "v": 5.0},
        ])
        run_once()
        _write_events(inbox, "b2.json", [
            {"k": "a", "v": 10.0}, {"k": "c", "v": -1.0},
        ])
        run_once()

        got = {
            r.k: (r.n, r.sv, r.mn, r.mx)
            for r in spark.read.parquet(state).collect()
        }
        assert got == {
            "a": (3, 13.0, 1.0, 10.0),
            "b": (1, 5.0, 5.0, 5.0),
            "c": (1, -1.0, -1.0, -1.0),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_preset_pipelines_run_with_status(spark, sf_dir, tmp_path):
    """The operational form: run_pipeline over the RNA preset logs one
    ok status row per stage and matches the composed lazy plan."""
    import os

    from seqdatapipeline_spark.pipelines import dag, presets

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    stages = presets.rna_stages()
    run = dag.run_pipeline(spark, li, stages, sample_id="rna-demo")
    assert run.ok and len(run.results) == 3
    assert [r.stage for r in run.results] == ["filter_chrm", "dedup", "count_genes"]
    composed = presets.compose(li, stages)
    assert sorted(map(tuple, run.output.collect())) == sorted(map(tuple, composed.collect()))


def test_preset_chip_islands_merge(spark):
    """Two enriched regions separated by > gap bins come out as two
    peaks; duplicate positions collapse before the pileup."""
    from pyspark.sql import functions as F

    from seqdatapipeline_spark.pipelines import presets

    rows = []
    eid = 0
    # region A: bins 0-1 (positions 0..9), 3 distinct positions per bin
    for pos in [0.0, 1.0, 2.0, 5.0, 6.0, 7.0]:
        for dup in range(2):  # duplicates must not inflate counts
            rows.append((eid, "c1", pos)); eid += 1
    # region B: bin 10 (positions 50..54), far beyond gap=2
    for pos in [50.0, 51.0, 52.0]:
        rows.append((eid, "c1", pos)); eid += 1
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = presets.compose(df, presets.chip_stages()).collect()
    got = {(r.start_bin, r.end_bin): r.pileup for r in out}
    assert got == {(0, 1): 6, (10, 10): 3}


# --------------------------------------------------------- incremental neardup

def test_replay_batched_equals_batch_lsh(spark, tmp_path):
    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.streaming import neardup as nd

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows = [(i, base) for i in range(5)] + [
        (10, base.replace("old", "new")),
        (11, "totally unrelated text about query engines and shuffles right here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {(r.doc_a, r.doc_b) for r in dd.minhash_dedup_pairs(docs).collect()}
    inc = {(r.doc_a, r.doc_b) for r in
           nd.replay_batched(docs, str(tmp_path / "state"), n_batches=3).collect()}
    assert inc == batch and len(batch) >= 10  # 5 identical docs alone give C(5,2)


def test_streaming_neardup_cross_batch_pairs(spark, tmp_path):
    """Two files drained one-per-trigger: the duplicate pair spans
    batches, so it can only surface via the persistent band store."""
    from seqdatapipeline_spark.streaming import neardup as nd

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    spark.createDataFrame([(1, base)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(inbox / "f1.parquet"))
    spark.createDataFrame([(2, base)], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(inbox / "f2.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox / "*.parquet"))
    )
    def sink(batch_df, _epoch):
        pairs = nd.merge_band_store(batch_df, str(tmp_path / "bands"))
        pairs.write.mode("append").parquet(str(tmp_path / "pairs"))

    watch.run_batches(stream, sink, str(tmp_path / "ckpt"))
    pairs = {(r.doc_a, r.doc_b) for r in
             spark.read.parquet(str(tmp_path / "pairs")).collect()}
    assert (1, 2) in pairs


def test_stream_late_monitor_equals_batch(spark):
    """The 4-batch carried-watermark drain must reproduce the one-shot
    batch lateness accounting exactly (cross-batch lateness can only
    come from the persisted high-wm state)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    batch = {r.user_id: (r.n_events, r.n_late, r.late_rate)
             for r in qs["late_event_rate"](spark, sf).collect()}
    stream = {r.user_id: (r.n_events, r.n_late, r.late_rate)
              for r in qs["stream_late_monitor"](spark, sf).collect()}
    assert stream == batch


def test_lateness_flags_on_out_of_order_arrivals(spark):
    """The synthetic events table is perfectly ordered (0 late by
    construction), so drive the lateness kernel directly with a
    shuffled replay: arrival order disagrees with event time and the
    watermark must flag exactly the events that fell > tolerance
    behind the running max."""
    import datetime as dt

    from seqdatapipeline_spark.ops.windows import lateness_flags

    base = dt.datetime(2024, 1, 1)
    rows = [
        # (event_id = arrival order, user, ts offset seconds)
        (0, 1, 0),
        (1, 1, 1000),    # wm 0 -> not late (moves wm to 1000)
        (2, 1, 400),     # 1000-400=600 > 300 -> LATE
        (3, 1, 900),     # 1000-900=100 -> not late
        (4, 1, 2000),    # new max
        (5, 1, 100),     # 2000-100 -> LATE
        (6, 2, 500),
        (7, 2, 450),     # 500-450=50 -> not late
    ]
    df = spark.createDataFrame(
        [(eid, u, base + dt.timedelta(seconds=s)) for eid, u, s in rows],
        "event_id long, user_id long, ts timestamp",
    )
    got = {
        (r["user_id"], r["__t"]): r["late"]
        for r in lateness_flags(df, tolerance_s=300.0).collect()
    }
    epoch = base.timestamp()
    assert got[(1, epoch + 400)] == 1
    assert got[(1, epoch + 100)] == 1
    assert sum(got.values()) == 2


def test_stream_session_windows_equals_batch(spark):
    """The 4-batch event-time drain with carried open-session state
    must reproduce the one-shot F.session_window result exactly —
    cross-batch sessions only survive via the state handoff."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"
    batch = sorted(
        map(tuple, qs["session_windows"](spark, sf).collect())
    )
    stream = sorted(
        map(tuple, qs["stream_session_windows"](spark, sf).collect())
    )
    assert stream == batch
    # sessions genuinely straddle batch boundaries at this sf
    assert len(batch) > 100


def test_session_kernel_via_real_readstream(spark):
    """Drive streaming.sessions.session_batch_update through an actual
    spark.readStream file source + foreachBatch sink — batch boundaries
    come from the SOURCE's offsets (one run per file wave), proving the
    registry drain's min/max(ts) probes are batch-splitting stand-ins,
    not part of the kernel. Result must equal one-shot sessionization
    of the full event set."""
    from seqdatapipeline_spark.ops.windows import epoch_seconds
    from seqdatapipeline_spark.streaming.sessions import (
        session_batch_update,
        session_finalize,
    )

    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ck")
    os.makedirs(inbox)
    try:
        schema = "user_id long, ts timestamp, value double"
        hold = {"state": None, "closed": []}

        def run_once():
            stream = spark.readStream.schema(schema).json(inbox)

            def sink(df, epoch):
                closed, hold["state"] = session_batch_update(
                    df, hold["state"], gap=1800.0
                )
                hold["closed"].append(closed)

            q = stream.writeStream.foreachBatch(sink).option(
                "checkpointLocation", ckpt
            ).outputMode("append").trigger(availableNow=True).start()
            q.awaitTermination()

        t0 = "2026-03-01 10:{m:02d}:00"
        wave1 = [
            # u1: one session, continues into wave 2 (gap < 30 min)
            {"user_id": 1, "ts": t0.format(m=0), "value": 1.0},
            {"user_id": 1, "ts": t0.format(m=10), "value": 2.0},
            # u2: session that will CLOSE (wave-2 event > 30 min later)
            {"user_id": 2, "ts": t0.format(m=5), "value": 5.0},
            # u3: only appears in wave 1 → open state carried untouched
            {"user_id": 3, "ts": t0.format(m=7), "value": 7.0},
        ]
        wave2 = [
            {"user_id": 1, "ts": "2026-03-01 10:30:00", "value": 3.0},
            {"user_id": 2, "ts": "2026-03-01 11:00:00", "value": 6.0},
            # u2 second session in the same batch (in-batch split)
            {"user_id": 2, "ts": "2026-03-01 12:00:00", "value": 8.0},
        ]
        _write_events(inbox, "w1.json", wave1)
        run_once()
        _write_events(inbox, "w2.json", wave2)
        run_once()

        closed_all = hold["closed"][0]
        for c in hold["closed"][1:]:
            closed_all = closed_all.unionByName(c)
        got = sorted(
            map(tuple, session_finalize(closed_all, hold["state"]).collect())
        )

        rows = [
            (r["user_id"], r["ts"], r["value"]) for r in wave1 + wave2
        ]
        allv = spark.createDataFrame(rows, "user_id long, ts string, value double")
        allv = allv.select("user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
        want = sorted(
            map(
                tuple,
                allv.groupBy(F.session_window("ts", "1800 seconds"), "user_id")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("value").alias("val"),
                )
                .select(
                    "user_id",
                    F.floor(epoch_seconds(F.col("session_window.start")))
                    .cast("long")
                    .alias("session_start"),
                    F.col("n").cast("long").alias("n"),
                    F.round("val", 4).alias("total_value"),
                )
                .collect(),
            )
        )
        assert got == want
        # the cross-batch merge actually happened: u1 has ONE session of 3
        u1 = [r for r in got if r[0] == 1]
        assert len(u1) == 1 and u1[0][2] == 3
        # u2 closed + split: three sessions total
        assert len([r for r in got if r[0] == 2]) == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_late_monitor_kernel_via_real_readstream(spark):
    """Drive streaming.sessions.late_monitor_batch through an actual
    spark.readStream file source + foreachBatch sink and require the
    additively-merged state to equal the one-pass answer — the
    registry drain's max(event_id) probe is provably test-only."""
    from seqdatapipeline_spark.streaming.sessions import (
        late_monitor_batch,
        late_monitor_report,
    )

    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ck")
    os.makedirs(inbox)
    try:
        schema = "user_id long, event_id long, ts timestamp, value double"
        state_path = os.path.join(tmp, "late_state")

        def run_once():
            stream = spark.readStream.schema(schema).json(inbox)

            def sink(df, epoch):
                late_monitor_batch(df, state_path, tolerance_s=300.0)

            q = stream.writeStream.foreachBatch(sink).option(
                "checkpointLocation", ckpt
            ).outputMode("append").trigger(availableNow=True).start()
            q.awaitTermination()

        wave1 = [
            {"user_id": 1, "event_id": 1, "ts": "2026-03-01 10:00:00", "value": 1.0},
            {"user_id": 1, "event_id": 2, "ts": "2026-03-01 10:20:00", "value": 1.0},
            # arrives after wm 10:20, event time 10:01 → 19 min late
            {"user_id": 1, "event_id": 3, "ts": "2026-03-01 10:01:00", "value": 1.0},
            {"user_id": 2, "event_id": 4, "ts": "2026-03-01 10:00:00", "value": 1.0},
        ]
        wave2 = [
            # late ONLY against the carried wave-1 watermark (10:20)
            {"user_id": 1, "event_id": 5, "ts": "2026-03-01 10:02:00", "value": 1.0},
            {"user_id": 2, "event_id": 6, "ts": "2026-03-01 10:04:00", "value": 1.0},
        ]
        _write_events(inbox, "w1.json", wave1)
        run_once()
        _write_events(inbox, "w2.json", wave2)
        run_once()

        got = {
            r.user_id: (r.n_events, r.n_late)
            for r in late_monitor_report(
                spark.read.parquet(state_path)
            ).collect()
        }
        # one-pass reference over the same rows, same kernel
        ref_path = os.path.join(tmp, "ref_state")
        rows = [
            (r["user_id"], r["event_id"], r["ts"], r["value"])
            for r in wave1 + wave2
        ]
        allv = spark.createDataFrame(
            rows, "user_id long, event_id long, ts string, value double"
        ).select(
            "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"), "value"
        )
        late_monitor_batch(allv, ref_path, tolerance_s=300.0)
        want = {
            r.user_id: (r.n_events, r.n_late)
            for r in late_monitor_report(spark.read.parquet(ref_path)).collect()
        }
        assert got == want
        # the cross-batch watermark carry detected wave-2 lateness
        assert got[1] == (4, 2)
        assert got[2] == (2, 0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_into_curated_keeps_fast_paths_current(spark):
    """Streaming ingest into the curated text store: seed the bucketed
    table with half the corpus, stream the other half in as two
    micro-batch files, and the curated-path consumer must equal the
    plain full-corpus answer while the collapse plan still reports the
    bucketed clustering with no exchange."""
    import __spark_entry__ as entrymod
    from seqdatapipeline_spark.extensions import dedup as dd
    from seqdatapipeline_spark.io import layout as lay

    sf = "/root/testdata/sf0.001"
    qs = entrymod.queries()
    plain_pairs = set(map(tuple, qs["dedup_minhash_lsh"](spark, sf).collect()))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    name = lay.bucketed_table_name(sf, "documents", "content_hash")
    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ck")
    os.makedirs(inbox)
    try:
        lay.write_curated_bucketed(
            docs.select("doc_id", "text")
            .filter(F.col("doc_id") % 2 == 0)
            .withColumn("content_hash", F.md5("text")),
            name,
            "content_hash",
            n_buckets=8,
        )
        rest = docs.filter(F.col("doc_id") % 2 == 1).collect()
        half = len(rest) // 2
        import json

        for fname, rows in (("b1.json", rest[:half]), ("b2.json", rest[half:])):
            with open(os.path.join(inbox, fname), "w") as f:
                for r in rows:
                    f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(inbox)
        watch.stream_into_curated(
            stream,
            name,
            "content_hash",
            ckpt,
            transform=lambda df: df.withColumn("content_hash", F.md5("text")),
        )
        cur = spark.table(name)
        assert cur.count() == docs.count()
        assert set(map(tuple, qs["dedup_minhash_lsh"](spark, sf).collect())) == plain_pairs
        g_cur = dd.exact_groups(*dd.text_collapse_args(cur, "doc_id", "text", 3))
        p_cur = g_cur._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p_cur
        assert p_cur.count("Exchange hashpartitioning") == 0, p_cur
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_into_curated_resumes_after_reattach(spark):
    """The full production loop across a restart: curate → catalog
    forgets the table (simulated via an external-table DROP; the true
    cross-process case is test_reattach_curated_across_process_restart)
    → reattach_curated → streaming ingest RESUMES into the reattached
    table with the bucket spec intact."""
    import json

    from seqdatapipeline_spark.io import layout as lay
    from seqdatapipeline_spark.io.sinks import write_bucketed

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    table = "t_stream_reattach"
    tmp = tempfile.mkdtemp()
    inbox, ckpt = os.path.join(tmp, "in"), os.path.join(tmp, "ck")
    loc = os.path.join(tmp, "tbl")
    os.makedirs(inbox)
    try:
        seed = (
            docs.select("doc_id", "text")
            .filter(F.col("doc_id") % 2 == 0)
            .withColumn("content_hash", F.md5("text"))
        )
        write_bucketed(seed, table, ["content_hash"], n_buckets=4, path=loc)
        n_seed = spark.table(table).count()
        spark.sql(f"DROP TABLE {table}")  # external: data + manifest survive
        attached = lay.reattach_curated(spark, warehouse_dir=tmp)
        assert table in attached, attached
        rest = docs.filter(F.col("doc_id") % 2 == 1).collect()
        with open(os.path.join(inbox, "b1.json"), "w") as f:
            for r in rest:
                f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        stream = spark.readStream.schema("doc_id long, text string").json(inbox)
        watch.stream_into_curated(
            stream,
            table,
            "content_hash",
            ckpt,
            transform=lambda df: df.withColumn("content_hash", F.md5("text")),
        )
        cur = spark.table(table)
        assert cur.count() == n_seed + len(rest) == docs.count()
        plan = (
            cur.groupBy("content_hash")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(tmp, ignore_errors=True)
