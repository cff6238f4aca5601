"""Structured Streaming queries (st_*): incremental KG construction,
watermarked stream dedup, streaming anomaly monitor, windowed counts and
sessionization — each certified by the SAME DuckDB oracle as its batch
twin where one exists."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imgfact_spark.entry_queries._registry import ORACLES, QUERIES, _register, _t
from imgfact_spark.entry_queries.core import _e2e_inputs, _e2e_triples_oracle_sql




@_register("st_incremental_kg")
def st_incremental_kg(spark, sf_dir):
    """Incremental (streaming) KG construction == batch: the SAME corpus
    as kg_construct_triples arrives as TWO parquet file waves; each wave is
    drained by an AvailableNow foreachBatch run (streaming.
    incremental_extract — per-doc extraction exactly once per document,
    file-source checkpoint skipping already-processed files), then the
    corpus-global layer reduces over the append-only logs
    (incremental_kg_tables, gates committed once per log snapshot).  The
    final kg_triples must equal the batch pipeline's — certified by the
    same DuckDB oracle as kg_construct_triples."""
    import shutil
    import tempfile

    from imgfact_spark.pipeline.runner import PipelineConfig
    from imgfact_spark.streaming import incremental_extract, incremental_kg_tables

    docs, kb, r2d = _e2e_inputs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="imgfact_stkg_")
    try:
        in_dir, work, ckpt = f"{root}/in", f"{root}/work", f"{root}/ckpt"
        custkey = F.substring("doc_id", 2, 10).cast("int")
        wave1 = docs.filter(custkey <= 200)
        wave2 = docs.filter(custkey > 200)
        cfg = PipelineConfig(
            min_evidence=1, vcc_threshold=0.02, relation_min_total=0,
            relation_min_count=0, hash_mode="md5",
        )
        wave1.write.mode("append").parquet(in_dir)
        incremental_extract(spark, in_dir, work, ckpt, r2d, kb)
        wave2.write.mode("append").parquet(in_dir)
        incremental_extract(spark, in_dir, work, ckpt, r2d, kb)
        kg_triples, _ = incremental_kg_tables(spark, work, cfg)
        # eager localCheckpoint materializes the result off the temp files,
        # so the working root (waves, logs, checkpoint) can be deleted
        # instead of leaking a tempdir per invocation
        return kg_triples.select("s", "p", "o", "n_docs").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)




ORACLES["st_incremental_kg"] = _e2e_triples_oracle_sql()




@_register("st_dedup_stream")
def st_dedup_stream(spark, sf_dir):
    """Streaming exact dedup across a restart == batch DISTINCT: the
    documents table arrives as two parquet file waves, the second of which
    re-delivers 50 wave-1 documents verbatim (a re-crawl); each wave is
    drained by an AvailableNow run of ``streaming.dedup_stream`` sharing
    one checkpoint, so the state store must swallow the re-crawls.  The
    surviving rows are exactly one per distinct document — the DuckDB
    oracle is a plain projection of the full table.  Fingerprint is
    md5(doc_id|text), cross-engine exact."""
    import shutil
    import tempfile

    from imgfact_spark.streaming import dedup_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    fp = F.md5(F.concat_ws("|", F.col("doc_id").cast("string"), F.col("text")))
    root = tempfile.mkdtemp(prefix="imgfact_stdedup_")
    try:
        in_dir, out_dir, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"

        def drain():
            src = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 16)
                .parquet(in_dir)
            )
            q = (
                dedup_stream(src, fp)
                .writeStream.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start(out_dir)
            )
            q.awaitTermination()

        docs.filter("doc_id < 250").write.mode("append").parquet(in_dir)
        drain()
        docs.filter("doc_id >= 250").write.mode("append").parquet(in_dir)
        docs.filter("doc_id < 50").write.mode("append").parquet(in_dir)  # re-crawl
        drain()
        out = spark.read.parquet(out_dir).select("doc_id", fp.alias("fp"))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)




ORACLES["st_dedup_stream"] = """
SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|' || text) AS fp
FROM documents
"""




@_register("st_event_anomaly")
def st_event_anomaly(spark, sf_dir):
    """Streaming volume-anomaly monitor == batch rolling_anomaly: events
    arrive as two parquet waves split by event_id parity (so EVERY hourly
    bucket needs partial counts from BOTH waves to be correct); each wave
    is drained by an AvailableNow run of
    ``streaming.incremental_event_counts`` sharing one checkpoint
    (idempotent per-batch partial-count logs), then
    ``event_anomaly_tables`` re-sums the log and scores — certified by
    the SAME DuckDB oracle as the batch x_event_anomaly."""
    import shutil
    import tempfile

    from imgfact_spark.streaming import (
        event_anomaly_tables,
        incremental_event_counts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "event_type"
    )
    root = tempfile.mkdtemp(prefix="imgfact_stanom_")
    try:
        in_dir, work, ckpt = f"{root}/in", f"{root}/work", f"{root}/ckpt"
        ev.filter("event_id % 2 = 0").write.mode("append").parquet(in_dir)
        incremental_event_counts(spark, in_dir, work, ckpt)
        ev.filter("event_id % 2 = 1").write.mode("append").parquet(in_dir)
        incremental_event_counts(spark, in_dir, work, ckpt)
        out = event_anomaly_tables(
            spark, work, ["event_type"], trailing=24, min_history=12
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)




# same oracle as the batch query: the streaming partial-count log must
# re-sum to the identical hourly counts and therefore identical z-scores
ORACLES["st_event_anomaly"] = ORACLES["x_event_anomaly"]




@_register(
    "st_windowed_event_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def st_windowed_event_counts(spark, sf_dir):
    """Tumbling-window aggregation (streaming.windowed_event_counts) — the
    batch-parity form of the watermarked streaming agg."""
    from imgfact_spark.streaming import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, "1 hour").select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )




@_register(
    "st_sessionization",
    """
    WITH e AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ep,
             CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events
    ),
    tagged AS (
      SELECT user_id, ep, v,
             CASE WHEN lag(ep) OVER (PARTITION BY user_id ORDER BY ep) IS NULL
                    OR ep - lag(ep) OVER (PARTITION BY user_id ORDER BY ep) > 1800
                  THEN 1 ELSE 0 END AS new_s
      FROM e
    ),
    sess AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ep
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM tagged
    )
    SELECT user_id, MIN(ep) AS session_start, MAX(ep) AS session_end,
           COUNT(*) AS n_events, SUM(v)::BIGINT AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
)
def st_sessionization(spark, sf_dir):
    """Session windows per user with a 30-min inactivity gap — the batch
    twin (streaming.sessionize_events_batch) of the applyInPandasWithState
    stateful streaming operator; tests pin the two paths equal.  Event
    values are quantized to integer cents so the per-session sum is exact
    under any summation order (float SUM is order-dependent across
    engines); boundaries are epoch seconds (timestamp-free contract)."""
    from imgfact_spark.streaming import sessionize_events_batch

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.floor(F.col("value") * 100).cast("long")
    )
    return sessionize_events_batch(ev, gap_seconds=1800)



@_register(
    "st_incremental_dedup",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, u.s FROM toks, UNNEST(t) AS u(s)
    ),
    h AS (
      SELECT doc_id, r.i AS hidx,
             MIN(('0x' || substr(md5(s || chr(31) || CAST(r.i AS VARCHAR)), 1, 15))::BIGINT) AS mh
      FROM sh, UNNEST(range(0, 32)) AS r(i)
      GROUP BY doc_id, r.i
    ),
    sig AS (
      SELECT doc_id, list(mh ORDER BY hidx) AS sig FROM h GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b.b AS band,
             ('0x' || substr(md5(array_to_string(sig[b.b*8+1 : b.b*8+8], ',')), 1, 15))::BIGINT AS bh
      FROM sig, UNNEST(range(0, 4)) AS b(b)
    ),
    -- wave 1 (docs >= 450) arrives first and self-dedups vs an EMPTY
    -- index: greedy within-batch rule drops the larger id of each pair
    w1 AS (SELECT doc_id, band, bh FROM bands WHERE doc_id >= 450),
    w1_dom AS (
      SELECT DISTINCT b.doc_id FROM w1 a
      JOIN w1 b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    w1_kept AS (
      SELECT DISTINCT doc_id FROM w1
      WHERE doc_id NOT IN (SELECT doc_id FROM w1_dom)
    ),
    -- the persisted index after wave 1 = band rows of wave-1 SURVIVORS
    index_bands AS (
      SELECT band, bh FROM w1 WHERE doc_id IN (SELECT doc_id FROM w1_kept)
    ),
    w2 AS (SELECT doc_id, band, bh FROM bands WHERE doc_id < 450),
    w2_vs AS (
      SELECT DISTINCT n.doc_id FROM w2 n
      JOIN index_bands i ON n.band = i.band AND n.bh = i.bh
    ),
    w2_surv AS (
      SELECT * FROM w2 WHERE doc_id NOT IN (SELECT doc_id FROM w2_vs)
    ),
    w2_dom AS (
      SELECT DISTINCT b.doc_id FROM w2_surv a
      JOIN w2_surv b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT doc_id FROM documents
    WHERE (doc_id >= 450 AND doc_id NOT IN (SELECT doc_id FROM w1_dom))
       OR (doc_id < 450 AND doc_id NOT IN (SELECT doc_id FROM w2_vs)
                        AND doc_id NOT IN (SELECT doc_id FROM w2_dom))
    """,
)
def st_incremental_dedup(spark, sf_dir):
    """Streaming near-dup dedup against a persisted, append-only LSH band
    index (streaming.incremental_lsh_dedup): the corpus arrives as TWO
    parquet waves drained by separate AvailableNow runs — wave 1 (docs
    ≥450) self-dedups against the empty index and seeds it with its
    survivors' bands; wave 2 (docs <450) dedups against THAT index, then
    within itself.  One DuckDB oracle replays both waves — signatures,
    banding, the wave-1 greedy pass, the index contents, wave 2's
    index-collision and greedy passes — so the entire streaming kept-set
    is value-hash certified, not just row-counted.  Each wave is written
    as one file so a drain is exactly one foreachBatch call (the greedy
    rule is batch-scoped by design)."""
    import shutil
    import tempfile

    from imgfact_spark.streaming import incremental_lsh_dedup

    d = _t(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="imgfact_stdedup_")
    try:
        in_dir, work, ckpt = f"{root}/in", f"{root}/work", f"{root}/ckpt"
        d.filter(F.col("doc_id") >= 450).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        incremental_lsh_dedup(
            spark, in_dir, work, ckpt, d.schema, n=1, num_hashes=32,
            bands=4, rows_per_band=8, hash_mode="md5",
        )
        d.filter(F.col("doc_id") < 450).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)
        incremental_lsh_dedup(
            spark, in_dir, work, ckpt, d.schema, n=1, num_hashes=32,
            bands=4, rows_per_band=8, hash_mode="md5",
        )
        kept = spark.read.parquet(f"{work}/kept").select("doc_id")
        return kept.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
