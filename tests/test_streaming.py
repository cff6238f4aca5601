"""Streaming ingestion tests: incremental exactly-once span ingest."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from imgfact_spark import synth
from imgfact_spark.streaming import ingest_spans_incremental, windowed_event_counts


def test_incremental_span_ingest(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    # batch 1 arrives
    synth.synth_documents(spark, 50).write.mode("append").parquet(input_dir)
    ingest_spans_incremental(spark, input_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    expected1 = (
        synth.synth_documents(spark, 50)
        .selectExpr("size(spans) n").agg({"n": "sum"}).collect()[0][0]
    )
    assert n1 == expected1

    # batch 2 arrives — only the NEW files are processed (no duplicates)
    synth.synth_documents(spark, 80).filter("doc_id >= 'doc_000000050'").write.mode(
        "append"
    ).parquet(input_dir)
    ingest_spans_incremental(spark, input_dir, out_dir, ckpt)
    n2 = spark.read.parquet(out_dir).count()
    expected2 = (
        synth.synth_documents(spark, 80)
        .filter("doc_id >= 'doc_000000050'")
        .selectExpr("size(spans) n").agg({"n": "sum"}).collect()[0][0]
    )
    assert n2 == expected1 + expected2

    # re-run with nothing new: no change (exactly-once)
    ingest_spans_incremental(spark, input_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n2

    # span order survives: reassemble one doc and compare
    from imgfact_spark.pipeline.ingest import reassemble_spans

    spans = spark.read.parquet(out_dir)
    back = reassemble_spans(spans).filter("doc_id = 'doc_000000007'").collect()[0]
    orig = (
        synth.synth_documents(spark, 50)
        .filter("doc_id = 'doc_000000007'")
        .collect()[0]
    )
    assert [tuple(s) for s in back["spans"]] == [tuple(s) for s in orig["spans"]]


def test_windowed_event_counts_batch_parity(spark):
    import datetime as dt

    rows = [
        (i, dt.datetime(2026, 1, 1, h, 30), 100 + i, "click", 1.5)
        for i, h in enumerate([0, 0, 1, 1, 1, 3])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        (r["window_start"].hour, r["n_events"]) for r in windowed_event_counts(df, "1 hour").collect()
    }
    assert got == {(0, 2), (1, 3), (3, 1)}


def _session_events(spark):
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # user 7: two sessions split by a 40-min gap; user 9: one session
    for mins, val in [(0, 1.0), (5, 2.0), (10, 3.0), (50, 4.0), (55, 5.0)]:
        rows.append((eid, base + dt.timedelta(minutes=mins), 7, "click", val))
        eid += 1
    for mins, val in [(2, 10.0), (20, 20.0)]:
        rows.append((eid, base + dt.timedelta(minutes=mins), 9, "view", val))
        eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


def test_sessionize_batch_semantics(spark):
    from imgfact_spark.streaming import sessionize_events_batch

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize_events_batch(_session_events(spark), gap_seconds=1800).collect()
    }
    base = 1767225600  # 2026-01-01T00:00:00Z
    assert got == {
        (7, base, base + 600, 3, 6.0),
        (7, base + 3000, base + 3300, 2, 9.0),
        (9, base + 120, base + 1200, 2, 30.0),
    }


def test_sessionize_stream_matches_batch_across_microbatches(spark, tmp_path):
    """applyInPandasWithState carries the open session across micro-batches
    (separate triggered runs sharing one state checkpoint) and emits closed
    sessions identical to the batch twin."""
    import os
    import time

    from imgfact_spark.streaming import (
        sessionize_events_batch,
        sessionize_events_stream,
    )

    ev = _session_events(spark)
    input_dir = str(tmp_path / "sess_in")
    out_dir = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(input_dir, exist_ok=True)

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(input_dir)
        q = (
            sessionize_events_stream(stream, gap_seconds=1800)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow + ProcessingTimeTimeout lingers in a final
        # "cleaning up state" batch waiting for the 30-min timeouts; stop
        # once the data is drained (state is committed per micro-batch).
        # A settle period avoids racing the initial file listing, whose
        # status also transiently reads "no new data".
        t0 = time.time()
        while q.isActive and time.time() - t0 < 120:
            st = q.status
            if (
                time.time() - t0 > 12
                and not st["isDataAvailable"]
                and "cleaning up state" in st["message"]
            ):
                break
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)

    # arrival batch 1 SPLITS user 7's first session; batch 2 completes it —
    # correct output requires real cross-batch state.
    ev.filter("event_id < 2").coalesce(1).write.mode("append").parquet(input_dir)
    run_once()
    ev.filter("event_id >= 2").coalesce(1).write.mode("append").parquet(input_dir)
    run_once()

    emitted = {
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
    }
    batch = {
        tuple(r)
        for r in sessionize_events_batch(ev, gap_seconds=1800)
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
    }
    # stream emits exactly the CLOSED sessions (open tails stay in state
    # until a timeout or later event) — all emitted rows must be batch rows,
    # and the session closed by the 40-min gap must have been emitted with
    # its batch-1 prefix stitched to its batch-2 continuation.
    assert emitted <= batch
    base = 1767225600
    assert (7, base, base + 600, 3, 6.0) in emitted


_FIRST_BATCH = "doc_id < 'doc_000000060'"


def _kg_inputs(spark):
    """120 synthetic documents, the KB entity union and rel2desc."""
    docs = synth.synth_documents(spark, 120).cache()
    kb = synth.kb_df(spark)
    ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    return docs, ents, synth.rel2desc_df(spark)


_GROUNDING_COLS = ("s", "p", "o", "media_ref", "doc_id", "score", "rank", "subset")


def _kg_rows(triples, groundings):
    return (
        sorted(map(tuple, triples.select("s", "p", "o", "n_docs", "subset").collect())),
        sorted(map(tuple, groundings.select(*_GROUNDING_COLS).collect())),
    )


def _batch_rows(spark, tmp_path, docs, r2d, ents, cfg):
    """kg rows of ``run_pipeline`` over ``docs``, in a fresh store."""
    import tempfile

    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import run_pipeline

    store = TableStore(tempfile.mkdtemp(prefix="batch_", dir=tmp_path))
    res = run_pipeline(spark, docs, r2d, ents, store, cfg, input_fingerprint=store.root)
    return _kg_rows(res.kg_triples, res.kg_groundings)


class _Stream:
    """A landing directory drained by incremental_extract into its logs."""

    def __init__(self, spark, tmp_path, docs, r2d, ents, cfg):
        self.spark, self.docs, self.r2d, self.ents, self.cfg = spark, docs, r2d, ents, cfg
        self.input_dir = str(tmp_path / "ikg_in")
        self.work_dir = str(tmp_path / "ikg_work")
        self.ckpt = str(tmp_path / "ikg_ckpt")
        os.makedirs(self.input_dir, exist_ok=True)

    def land(self, cond):
        from imgfact_spark.streaming import incremental_extract

        self.docs.filter(cond).write.mode("append").parquet(self.input_dir)
        incremental_extract(
            self.spark, self.input_dir, self.work_dir, self.ckpt, self.r2d, self.ents
        )

    def kg_rows(self):
        from imgfact_spark.streaming import incremental_kg_tables

        return _kg_rows(*incremental_kg_tables(self.spark, self.work_dir, self.cfg))


@pytest.mark.parametrize(
    "model",
    [{}, {"scoring": "checkpoint"}, {"entity_gate": "checkpoint"}],
    ids=["default", "scoring_checkpoint", "entity_gate_checkpoint"],
)
def test_incremental_kg_matches_batch_pipeline(spark, tmp_path, model):
    """Streaming incremental KG construction == the batch pipeline on the
    documents landed so far: docs arrive in two batches, extraction runs
    once per doc into append logs, and after EACH batch the aggregate layer
    over the logs reproduces run_pipeline's kg_triples and kg_groundings
    EXACTLY (gate state committed for the first batch must not survive
    into the second) — under the default config and under each
    served-model dispatch (xxhash64 hash mode, so the model-mode
    checkpoints are the ones served)."""
    from imgfact_spark.pipeline.runner import PipelineConfig

    docs, ents, r2d = _kg_inputs(spark)
    cfg = PipelineConfig(min_evidence=1, checkpoint="final", **model)
    stream = _Stream(spark, tmp_path, docs, r2d, ents, cfg)

    stream.land(_FIRST_BATCH)
    first = docs.filter(_FIRST_BATCH)
    assert stream.kg_rows() == _batch_rows(spark, tmp_path, first, r2d, ents, cfg)

    stream.land(f"NOT ({_FIRST_BATCH})")
    assert stream.kg_rows() == _batch_rows(spark, tmp_path, docs, r2d, ents, cfg)


def test_incremental_kg_state_reuse_and_invalidation(spark, tmp_path, jobs_in_group):
    """The corpus gates are committed under kg_state/ once per log snapshot
    × config: a second call over unchanged logs runs no gate job, only the
    2 jobs of opening the two logs; a foreachBatch replay (rewritten batch
    directory) or a changed ``vcc_threshold`` recomputes them, and the
    tables then equal run_pipeline over the matching input."""
    from dataclasses import replace

    from imgfact_spark.pipeline.runner import PipelineConfig, document_stages, lazy_stage
    from imgfact_spark.streaming import incremental_kg_tables

    docs, ents, r2d = _kg_inputs(spark)
    cfg = PipelineConfig(min_evidence=1, checkpoint="final")
    stream = _Stream(spark, tmp_path, docs, r2d, ents, cfg)
    stream.land(_FIRST_BATCH)
    stream.land(f"NOT ({_FIRST_BATCH})")
    work = stream.work_dir
    assert sorted(os.listdir(f"{work}/candidates_log")) == ["batch_id=0", "batch_id=1"]

    def call(group, call_cfg):
        out = []
        n = jobs_in_group(group, lambda: out.append(
            incremental_kg_tables(spark, work, call_cfg)))
        return n, _kg_rows(*out[0])

    def opened_logs():  # what a call costs when it computes nothing
        spark.read.parquet(f"{work}/media_log")
        spark.read.parquet(f"{work}/candidates_log")

    log_jobs = jobs_in_group("ikg_open_logs", opened_logs)
    computed, rows = call("ikg_first", cfg)
    reused, rows_again = call("ikg_reuse", cfg)
    assert computed > reused == log_jobs
    assert rows_again == rows

    # a replayed foreachBatch rewrites its own directory: same rows, new files
    replay = document_stages(
        lazy_stage, docs.filter(f"NOT ({_FIRST_BATCH})"), r2d, ents, cfg
    )
    replay["candidates"].write.mode("overwrite").parquet(f"{work}/candidates_log/batch_id=1")
    replayed, rows_replayed = call("ikg_replay", cfg)
    assert replayed > log_jobs
    assert rows_replayed == rows == _batch_rows(spark, tmp_path, docs, r2d, ents, cfg)

    strict = replace(cfg, vcc_threshold=0.5)
    changed, rows_strict = call("ikg_strict", strict)
    assert changed > log_jobs
    assert rows_strict != rows
    assert rows_strict == _batch_rows(spark, tmp_path, docs, r2d, ents, strict)


def _scan_roots(df) -> list[str]:
    """The root path of every file scan in ``df``'s optimized plan, one
    entry per scan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        paths = leaves.apply(i).relation().location().rootPaths()
        roots += [paths.apply(j).toString() for j in range(paths.size())]
    return sorted(roots)


def test_incremental_kg_plans_read_committed_gates(spark, tmp_path):
    """Neither returned frame scans candidates_log: both read the committed
    whitelist, and kg_groundings scans media_log once, for the grounding
    join."""
    from imgfact_spark.pipeline.runner import PipelineConfig
    from imgfact_spark.streaming import incremental_kg_tables

    docs, ents, r2d = _kg_inputs(spark)
    cfg = PipelineConfig(min_evidence=1, checkpoint="final")
    stream = _Stream(spark, tmp_path, docs, r2d, ents, cfg)
    stream.land(_FIRST_BATCH)
    triples, groundings = incremental_kg_tables(spark, stream.work_dir, cfg)
    prefix = "file:" + stream.work_dir + "/"
    rel = lambda df: [r.removeprefix(prefix) for r in _scan_roots(df)]  # noqa: E731
    assert rel(triples) == ["kg_state/whitelisted_candidates"]
    assert rel(groundings) == ["kg_state/whitelisted_candidates", "media_log"]


def test_windowed_counts_late_data_cannot_change_finalized_window(spark, tmp_path):
    """Real watermark semantics, not just batch parity: once the watermark
    finalizes (emits) a window in append mode, a late event for that
    window is dropped — it neither changes the emitted count nor
    resurrects the window for a second emission.

    (Measured Spark nuance the test encodes: a late row landing in the
    SAME micro-batch in which its window is being evicted can still be
    merged before eviction — the hard guarantee starts one batch later,
    so the late row here arrives one batch AFTER finalization.)"""
    import datetime as dt
    import time

    from imgfact_spark.streaming import windowed_event_counts

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    )
    in_dir = str(tmp_path / "in")
    base = dt.datetime(2026, 1, 1)

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 0: on-time event in window [00:00, 01:00) + one far ahead —
    # post-batch watermark 03:20 passes that window's end
    write_file([
        (0, base + dt.timedelta(minutes=30), 1, "click", 1.0),
        (1, base + dt.timedelta(hours=3, minutes=30), 2, "click", 1.0),
    ])
    time.sleep(1.3)  # distinct mtimes → file source preserves batch order
    # batch 1: window 0 is evicted+emitted (count 1) during this batch
    write_file([(2, base + dt.timedelta(hours=3, minutes=40), 4, "click", 1.0)])
    time.sleep(1.3)
    # batch 2: the LATE event for the finalized window + a current one
    write_file([
        (3, base + dt.timedelta(minutes=45), 3, "click", 1.0),
        (4, base + dt.timedelta(hours=3, minutes=50), 5, "click", 1.0),
    ])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    out = windowed_event_counts(stream, "1 hour", watermark="10 minutes")
    emitted: list[tuple[int, list]] = []

    def capture(bdf, batch_id):
        emitted.append(
            (batch_id, [(r["window_start"].hour, r["n_events"]) for r in bdf.collect()])
        )

    q = (
        out.writeStream.foreachBatch(capture)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    all_rows = [r for _, rows in emitted for r in rows]
    # window 0 emitted EXACTLY once, with only the on-time count — the
    # late row neither changed it nor triggered a second emission
    assert all_rows.count((0, 1)) == 1 and (0, 2) not in all_rows, emitted
    # the 03:00 window is still open (watermark never passed 04:00) — in
    # append mode it must not have been emitted
    assert not any(h == 3 for h, _ in all_rows), emitted


def test_dedup_stream_drops_recrawled_docs_across_restarts(spark, tmp_path):
    """Two-wave AvailableNow run: wave 2 re-delivers 10 wave-1 documents as
    new files; the checkpointed dedup state must swallow them so only
    genuinely new documents reach the sink."""
    from imgfact_spark.streaming import dedup_stream, stream_documents

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    fp = F.xxhash64(F.to_json(F.col("spans")))

    synth.synth_documents(spark, 50).write.mode("append").parquet(in_dir)
    q = (
        dedup_stream(stream_documents(spark, in_dir), fp)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out_dir)
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 50

    # wave 2: 50 new docs + 10 re-crawled wave-1 docs (same content, new files)
    synth.synth_documents(spark, 100).filter(
        "doc_id >= 'doc_000000050'"
    ).write.mode("append").parquet(in_dir)
    synth.synth_documents(spark, 10).write.mode("append").parquet(in_dir)
    q = (
        dedup_stream(stream_documents(spark, in_dir), fp)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out_dir)
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 100  # the 10 re-crawls were dropped
    assert got.select("doc_id").distinct().count() == 100

    # batch parity: same operator on a batch frame == dropDuplicates
    batch = synth.synth_documents(spark, 60).unionByName(
        synth.synth_documents(spark, 10)
    )
    assert dedup_stream(batch, fp).count() == 60


def test_incremental_lsh_dedup_rejects_index_of_other_hash_family(spark, tmp_path):
    """The persisted LSH index carries the MINHASH_FAMILY_VERSION it was
    written under (stamped by the first batch); a run against an index
    stamped with another family raises instead of re-admitting every
    historical duplicate."""
    import json

    from imgfact_spark.operators.dedup import MINHASH_FAMILY_VERSION
    from imgfact_spark.streaming import incremental_lsh_dedup

    schema = "doc_id long, text string"
    in_dir, work, ckpt = (str(tmp_path / d) for d in ("in", "work", "ckpt"))
    docs = spark.createDataFrame(
        [(i, f"doc {i} about graphs and images") for i in range(6)], schema
    )
    docs.coalesce(1).write.parquet(in_dir)
    incremental_lsh_dedup(spark, in_dir, work, ckpt, docs.schema)
    stamp_path = os.path.join(work, "index_family.json")
    with open(stamp_path) as f:
        stamp = json.load(f)
    assert stamp["minhash_family_version"] == MINHASH_FAMILY_VERSION

    stamp["minhash_family_version"] = 1
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    with pytest.raises(ValueError, match="rebuild the index"):
        incremental_lsh_dedup(spark, in_dir, work, ckpt, docs.schema)


def test_dedup_stream_within_watermark_plan(spark):
    """With an event-time column the stream must compile to the
    state-bounded dropDuplicatesWithinWatermark, not unbounded dedup."""
    from imgfact_spark.streaming import dedup_stream

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    )  # schema: (timestamp, value)
    out = dedup_stream(src, F.col("value"), ts_col="timestamp", watermark="10 minutes")
    plan = out._jdf.queryExecution().analyzed().toString().lower()
    assert "deduplicatewithinwatermark" in plan, plan


def test_incremental_event_counts_matches_batch_anomaly(spark, tmp_path):
    """Two-wave streaming partial-count log, re-summed and scored, equals
    batch rolling_anomaly over the full event set — with waves split by
    event parity so EVERY bucket composes partials from both waves (and a
    NULL-ts event that must never bucket)."""
    import datetime as dt

    from imgfact_spark.operators.stats import rolling_anomaly
    from imgfact_spark.streaming import (
        event_anomaly_tables,
        incremental_event_counts,
    )

    rows = []
    eid = 0
    for h in range(40):
        for _ in range(4 + (h % 5)):
            rows.append(
                (eid, dt.datetime(2024, 5, 1) + dt.timedelta(hours=h, minutes=eid % 60),
                 "view" if eid % 3 else "click")
            )
            eid += 1
    rows.append((eid, None, "click"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")

    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")
    ev.filter("event_id % 2 = 0").write.mode("append").parquet(in_dir)
    incremental_event_counts(spark, in_dir, work, ckpt)
    ev.filter("event_id % 2 = 1").write.mode("append").parquet(in_dir)
    incremental_event_counts(spark, in_dir, work, ckpt)

    got = {
        (r.event_type, r.bucket_us): (r.n, r.z)
        for r in event_anomaly_tables(
            spark, work, ["event_type"], trailing=10, min_history=5
        ).collect()
    }
    want = {
        (r.event_type, r.bucket_us): (r.n, r.z)
        for r in rolling_anomaly(
            ev, "ts", ["event_type"], trailing=10, min_history=5
        ).collect()
    }
    assert got == want and len(got) == 80  # 40 hours x 2 types, no NULL row
