"""Structured Streaming ingestion for the KG pipeline.

The reference is pure batch (SURVEY.md §2.10) — its only incremental
mechanism is skip-finished-chunks resume.  The Spark-native generalization:
new document files land in a directory (or Kafka/Iceberg CDC in
production), a streaming query explodes them to spans incrementally, and
the batch pipeline stages run on the growing spans table.  Exactly-once is
the sink+checkpoint contract; ``Trigger.AvailableNow`` gives the reference's
"process what's there, then stop" batch-resume behavior with streaming
bookkeeping.

Also provides the generic windowed/watermarked event aggregation over the
driver's ``events`` stream shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from imgfact_spark.synth import DOC_SCHEMA


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source document stream with the authoritative input schema."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_dir)
    )


def ingest_spans_incremental(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """Incrementally explode arriving documents into the spans table.

    AvailableNow: drains everything currently in ``input_dir`` then stops —
    re-running after new files arrive processes ONLY the new files (file
    source tracks progress in the checkpoint), the streaming-native form of
    the reference's skip-finished-chunks loop (inference.py:139-143).
    """
    from imgfact_spark.pipeline.ingest import explode_spans

    docs = stream_documents(spark, input_dir)
    spans = explode_spans(docs)
    q = (
        spans.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    rel2desc: DataFrame,
    kb_entities: DataFrame,
    await_termination: bool = True,
):
    """Incremental KG extraction: per arriving document micro-batch, run
    the per-document half of the pipeline dataflow
    (:func:`~imgfact_spark.pipeline.runner.document_stages`: span explode →
    media parse → mention detection → entity linking) once and append its
    narrow media / candidates projections to two logs —
    ``{work_dir}/media_log`` and ``{work_dir}/candidates_log``.

    The expensive per-document work (regex matching, dictionary linking)
    thus happens EXACTLY ONCE per document; the corpus-global half (gates,
    whitelist, aggregation) is recomputed over the append-only logs by
    :func:`incremental_kg_tables` — cheap relative to extraction, and the
    classic incremental-extract / recompute-reduce design when no lakehouse
    MERGE is available.  Exactly-once per batch via foreachBatch + the
    stream checkpoint.
    """
    from imgfact_spark.pipeline.runner import PipelineConfig, document_stages, lazy_stage

    docs = stream_documents(spark, input_dir)
    cfg = PipelineConfig()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = document_stages(lazy_stage, batch_df, rel2desc, kb_entities, cfg)
        # idempotent per-batch writes: foreachBatch is at-least-once on
        # retry, so each batch overwrites ITS OWN directory (batch_id=N
        # becomes a discovered partition column downstream) instead of
        # appending — a replayed batch replaces itself, never duplicates.
        for name in ("media", "candidates"):
            out[name].write.mode("overwrite").parquet(
                f"{work_dir}/{name}_log/batch_id={batch_id}"
            )

    q = (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def incremental_kg_tables(spark: SparkSession, work_dir: str, cfg=None):
    """Current kg_triples / kg_groundings views over the incremental logs.

    Runs the corpus-global half of the pipeline dataflow
    (:func:`~imgfact_spark.pipeline.runner.kg_stages`: visual gates →
    relation whitelist → grounding scores/thresholds/top-K → canonical
    rewrite) — the one the batch runner runs, with every ``cfg`` dispatch —
    lazily over the accumulated extraction logs; the parity test pins this
    equal to ``run_pipeline`` over the full corpus.  Correctness note:
    distinct-media evidence composes across batches because media_refs are
    globally unique per document occurrence (new docs bring new refs).
    """
    from imgfact_spark.pipeline.runner import (
        CANDIDATE_COLS,
        MEDIA_COLS,
        PipelineConfig,
        kg_stages,
        lazy_stage,
    )

    media = spark.read.parquet(f"{work_dir}/media_log").select(*MEDIA_COLS)
    candidates = spark.read.parquet(f"{work_dir}/candidates_log").select(*CANDIDATE_COLS)
    out = kg_stages(lazy_stage, media, candidates, cfg or PipelineConfig())
    return out["kg_triples"], out["kg_groundings"]


def sessionize_events_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Session windows per user with an inactivity gap — batch twin of the
    stateful streaming operator (identical output contract; tests pin the
    two paths equal on the same data).

    Gaps-and-islands: per user ordered by event time, a session starts
    where the gap to the previous event exceeds ``gap_seconds``; session id
    is the running count of starts (one window shuffle on the user key —
    distributed, no global sort).

    → (user_id, session_start, session_end, n_events, sum_value) with the
    boundary times as epoch seconds (bigint — timestamp-free driver-compare
    contract).
    """
    from pyspark.sql import Window

    epoch = F.unix_timestamp(F.col(ts_col)).alias("_ep")
    w = Window.partitionBy(user_col).orderBy("_ep")
    tagged = (
        events.select(F.col(user_col), epoch, F.col(value_col))
        .withColumn("_prev", F.lag("_ep").over(w))
        .withColumn(
            "_new",
            (F.col("_prev").isNull() | ((F.col("_ep") - F.col("_prev")) > gap_seconds))
            .cast("int"),
        )
        .withColumn(
            "_sess",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return tagged.groupBy(user_col, "_sess").agg(
        F.min("_ep").alias("session_start"),
        F.max("_ep").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), 4).alias("sum_value"),
    ).drop("_sess")


def sessionize_events_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session windows via
    ``applyInPandasWithState`` (SURVEY §2.10 extension; the Spark-native
    form of a custom stateful operator the reference cannot express).

    State per user = the open session (start, last_ts, n, sum).  Each
    micro-batch folds its (time-sorted) events into the state, EMITS every
    session that closed (gap exceeded inside or across batches) and keeps
    the still-open session in state; a ``ProcessingTimeTimeout`` flushes an
    idle user's open session.  Emitted rows match the batch twin's contract
    exactly for closed sessions.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{user_col} long, session_start long, session_end long,"
        " n_events long, sum_value double"
    )
    state_schema = "start long, last long, n long, s double"

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        (user,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                st, last, n, s = state.get
                rows.append((user, st, last, n, round(s, 4)))
                state.remove()
        else:
            ep = []
            vals = []
            for pdf in pdfs:
                ep.extend(int(t.timestamp()) for t in pdf[ts_col])
                vals.extend(float(v) for v in pdf[value_col])
            order = sorted(range(len(ep)), key=lambda i: ep[i])
            cur = state.get if state.exists else None
            for i in order:
                t, v = ep[i], vals[i]
                if cur is None:
                    cur = (t, t, 1, v)
                elif t - cur[1] > gap_seconds:
                    rows.append((user, cur[0], cur[1], cur[2], round(cur[3], 4)))
                    cur = (t, t, 1, v)
                else:
                    cur = (cur[0], t, cur[2] + 1, cur[3] + v)
            if cur is not None:
                state.update(cur)
                state.setTimeoutDuration(gap_seconds * 1000)
        if rows:  # yielding an empty object-dtype frame trips Arrow; skip
            yield pd.DataFrame(
                rows,
                columns=[
                    user_col, "session_start", "session_end", "n_events", "sum_value",
                ],
            )

    return events.groupBy(user_col).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def dedup_stream(
    df: DataFrame,
    fingerprint_col,
    ts_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the first-arriving row per fingerprint
    (on a batch DataFrame: identical ``dropDuplicates`` semantics).

    State bounding is the scale contract: with ``ts_col`` the stream is
    watermarked and deduped via ``dropDuplicatesWithinWatermark``, so a
    key's state is dropped once the watermark passes it — the only viable
    shape for an unbounded re-crawl feed (plain dropDuplicates state grows
    with every distinct document ever seen).  Without ``ts_col`` it falls
    back to unbounded ``dropDuplicates``, appropriate for bounded key
    domains and finite backfills; the dedup state lives in the query
    checkpoint either way, so an AvailableNow restart resumes with
    everything already seen.

    The reference is pure batch (SURVEY §2.10); this guards the
    incremental-KG ingest path against re-crawled duplicate documents
    re-entering extraction."""
    c = (
        F.col(fingerprint_col)
        if isinstance(fingerprint_col, str)
        else fingerprint_col
    )
    # collision-proof temp name: never clobber (and then drop) a caller
    # column that happens to be called "_fp"
    fp_name = "_fp"
    while fp_name in df.columns:
        fp_name += "_"
    out = df.withColumn(fp_name, c)
    if df.isStreaming and ts_col is not None:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [fp_name]
        )
    else:
        out = out.dropDuplicates([fp_name])
    return out.drop(fp_name)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type — the
    standard late-data-tolerant streaming aggregation; works identically on
    a batch DataFrame (used by tests and the batch oracle)."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy(win.alias("win"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


def incremental_event_counts(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    bucket: str = "hour",
    ts_col: str = "ts",
    await_termination: bool = True,
):
    """Streaming leg of the volume-anomaly monitor: per arriving event
    micro-batch, pre-aggregate PARTIAL (keys, bucket) counts and append
    them to a batch-id-partitioned log.  Idempotent under foreachBatch's
    at-least-once replay (each batch overwrites ITS OWN directory, the
    incremental_extract pattern), and integer counts are associative, so
    re-summing the log per bucket is EXACTLY the batch count no matter how
    waves/restarts sliced the events.  Scoring stays a batch window over
    the tiny counts relation (:func:`event_anomaly_tables`) — state per
    key is buckets, never events, which is why the monitor needs no
    stateful streaming operator at all.
    """
    from imgfact_spark.operators.stats import bucket_counts

    keys = list(keys or ["event_type"])

    schema = spark.read.parquet(input_dir).schema

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # the SAME bucketing leg as the batch detector (shared helper —
        # drift here would silently break the stream==batch guarantee)
        partial = bucket_counts(
            batch_df, ts_col, keys, bucket, count_col="n_partial"
        )
        partial.write.mode("overwrite").parquet(
            f"{work_dir}/counts_log/batch_id={batch_id}"
        )

    ev = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        ev.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def event_anomaly_tables(
    spark: SparkSession,
    work_dir: str,
    keys: list[str] | None = None,
    trailing: int = 24,
    min_history: int = 12,
) -> DataFrame:
    """Current anomaly view over the incremental counts log: re-sum the
    per-batch partials per bucket (exact integers), then the batch
    z-score window — bit-identical to running
    :func:`~imgfact_spark.operators.stats.rolling_anomaly` over the full
    event set (the st_event_anomaly driver query certifies a two-wave run
    against the SAME DuckDB oracle as the batch x_event_anomaly)."""
    from imgfact_spark.operators.stats import zscore_over_counts

    keys = list(keys or ["event_type"])
    counts = (
        spark.read.parquet(f"{work_dir}/counts_log")
        .groupBy(*keys, "bucket_us")
        .agg(F.sum("n_partial").alias("n"))
    )
    return zscore_over_counts(counts, keys, trailing, min_history)


def incremental_lsh_dedup(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    schema,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    hash_mode: str = "xxhash64",
    await_termination: bool = True,
):
    """Streaming NEAR-dup dedup against a persisted LSH band index — the
    continuously-crawled-corpus form of
    :func:`~imgfact_spark.operators.dedup.dedup_against_index` (which
    carries the scale argument; st_dedup_stream is the exact-fingerprint
    watermarked sibling).  Each drained micro-batch dedups against the
    index accumulated by every PRIOR batch, appends its surviving docs to
    ``{work_dir}/kept`` and ONLY their band rows (the
    ``IncrementalDedupResult.kept_bands`` delta) to ``{work_dir}/index``
    — the index store is append-only, never rewritten.  Idempotent on
    foreachBatch retry: each batch overwrites its own batch_id=N
    partition, exactly like :func:`incremental_extract`.

    Band values are only comparable under the hash family (and banding
    parameters) they were computed with, so the first batch stamps them in
    ``{work_dir}/index_family.json``; a later run whose family differs —
    e.g. a :data:`~imgfact_spark.operators.dedup.MINHASH_FAMILY_VERSION`
    bump — or an index without a stamp raises instead of re-admitting
    every historical duplicate.  Rebuild the index to recover.
    """
    import json
    import os

    from pyspark.sql import types as T

    from imgfact_spark.operators.dedup import MINHASH_FAMILY_VERSION, dedup_against_index

    index_path = f"{work_dir}/index"
    stamp_path = f"{work_dir}/index_family.json"
    family = {
        "hash_mode": hash_mode,
        # md5 (oracle) mode is engine-pinned and unversioned
        "minhash_family_version": MINHASH_FAMILY_VERSION if hash_mode == "xxhash64" else None,
        "n": n, "num_hashes": num_hashes, "bands": bands, "rows_per_band": rows_per_band,
    }
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamped = json.load(f)
        if stamped != family:
            raise ValueError(
                f"LSH index at {index_path} was built with hash family {stamped}, "
                f"this run computes {family}: rebuild the index"
            )
    elif os.path.exists(index_path):
        raise ValueError(
            f"LSH index at {index_path} has no hash-family stamp: rebuild the index"
        )

    index_schema = T.StructType(
        [
            schema[id_col],
            T.StructField("band", T.IntegerType()),
            T.StructField("bh", T.LongType()),
        ]
    )
    src = spark.readStream.schema(schema).parquet(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        if not os.path.exists(stamp_path):
            os.makedirs(work_dir, exist_ok=True)
            with open(stamp_path, "w") as f:
                json.dump(family, f)
        try:
            # STRICTLY PRIOR batches only (batch_id is the discovered
            # partition column): on a foreachBatch replay the directory
            # already holds this batch's own rows from the failed attempt
            # — reading them back would make every survivor collide with
            # itself, overwrite kept/batch_id=N with an EMPTY result and
            # silently lose the batch.  The filter makes the replay
            # recompute the identical result (true idempotency; the
            # review pass caught the unfiltered read).
            index = (
                spark.read.parquet(index_path)
                .filter(F.col("batch_id") < batch_id)
                .select(id_col, "band", "bh")
            )
        except AnalysisException as exc:
            # first batch only: the index directory does not exist yet.
            # Match the ERROR CLASS, not just the exception type — in
            # Spark 4 column-resolution/schema errors on an existing but
            # malformed index directory are also AnalysisException, and a
            # corrupt index silently treated as empty would re-admit
            # every historical duplicate (r6 ADVICE item).
            cond = (
                exc.getCondition()
                if hasattr(exc, "getCondition")
                else exc.getErrorClass()
            )
            if cond != "PATH_NOT_FOUND":
                raise
            index = spark.createDataFrame([], index_schema)
        res = dedup_against_index(
            batch_df, index, text_col, id_col,
            n=n, num_hashes=num_hashes, bands=bands,
            rows_per_band=rows_per_band, hash_mode=hash_mode,
        )
        # run the collision chain ONCE: materialize the (tiny, batch-sized)
        # kept-band delta, then derive the kept docs from its ids — the
        # two independent lazy writes would each re-scan the accumulated
        # index and re-run both joins (2N index scans after N batches)
        kept_bands = res.kept_bands.localCheckpoint(eager=True)
        kept_bands.write.mode("overwrite").parquet(
            f"{index_path}/batch_id={batch_id}"
        )
        batch_df.join(
            kept_bands.select(id_col).distinct(), id_col, "left_semi"
        ).write.mode("overwrite").parquet(f"{work_dir}/kept/batch_id={batch_id}")

    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
