"""The KG-construction workloads, their timed loops and the traced run.

Every workload runs ``local[nproc]`` in one process over a cached corpus
(:mod:`inputs`) and checks each output against the planted-truth reference
(:mod:`oracle`); a unit whose output differs, or that raises, counts as
failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import oracle, trace
from perfbench.inputs import Corpus


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_batches: int  # landing batches: the stream's micro-batches


#: Why each workload exists is recorded in BENCHMARK.json.  Sizes keep a run
#: inside the benchmark's time budget; at these sizes the pipeline's fixed
#: per-build cost (planning, job scheduling, commits) outweighs per-row work.
WORKLOADS = {
    w.name: w
    for w in (Workload("batch_fused", 16_000, 2), Workload("incremental", 6_000, 3))
}


def pipeline_config():
    """The production configuration (xxhash64 scores, broadcast entity dims)
    with a fused plan: only the two KG tables are committed."""
    from imgfact_spark.pipeline.runner import PipelineConfig

    return PipelineConfig(min_evidence=1, checkpoint="final")

FINAL_TABLES = ("kg_triples", "kg_groundings")


def scaled(w: Workload, n_docs: int) -> Workload:
    return replace(w, n_docs=n_docs)


# ------------------------------------------------------------------ context
@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def unit(self, label: str, fn):
        """Run one checked unit: ``fn`` returns an error string or None."""
        self.attempted += 1
        try:
            err = fn()
        except Exception:  # a raising unit is a failed unit; keep measuring
            traceback.print_exc(file=sys.stderr)
            err = f"{label} raised"
        if err:
            self.failed += 1
            print(f"[perfbench] FAILED {label}: {err}", file=sys.stderr)


@dataclass
class Ctx:
    workload: Workload
    corpus: Corpus
    work: str
    spark: object = None
    docs: object = None
    ents: object = None
    r2d: object = None
    want: tuple = ()
    tally: Tally = field(default_factory=Tally)
    _n: int = 0

    def scratch(self, prefix: str) -> str:
        self._n += 1
        path = os.path.join(self.work, f"{prefix}{self._n}")
        os.makedirs(path)
        return path


def spark_session(work: str, cpus: int, event_log: str | None = None):
    from imgfact_spark.session import get_spark

    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf
    )


def open_inputs(ctx: Ctx) -> None:
    from imgfact_spark import synth

    spark = ctx.spark
    ctx.docs = spark.read.parquet(ctx.corpus.docs)
    kb = synth.kb_df(spark, seed=ctx.corpus.seed)
    ctx.ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
    ctx.r2d = synth.rel2desc_df(spark)


def check_tables(ctx: Ctx, triples, groundings) -> str | None:
    want_t, want_g = ctx.want
    return oracle.compare(
        "kg_triples", triples.select(*oracle.TRIPLE_COLS).toPandas(), want_t
    ) or oracle.compare(
        "kg_groundings", groundings.select(*oracle.GROUNDING_COLS).toPandas(), want_g
    )


def run_build(ctx: Ctx, store):
    from imgfact_spark.pipeline.runner import run_pipeline

    return run_pipeline(
        ctx.spark, ctx.docs, ctx.r2d, ctx.ents, store, pipeline_config(),
        input_fingerprint=ctx.corpus.fingerprint, materialize_input=False,
    )


# ------------------------------------------------------------- timed units
@contextmanager
def _measured(samples: dict, key: str):
    """Wall and CPU seconds (JVM plus Python workers) of the block."""
    t0, c0 = time.time(), trace.tree_cpu_seconds()
    yield
    samples[key].append(time.time() - t0)
    samples[f"{key}_cpu"].append(trace.tree_cpu_seconds() - c0)


def _build_unit(ctx: Ctx, samples: dict, store) -> str | None:
    """One build into an empty store, checked."""
    with _measured(samples, "commit"):
        res = run_build(ctx, store)
    return check_tables(ctx, *_final(res))


def _resume_unit(ctx: Ctx, samples: dict, store) -> str | None:
    """Lose the ``kg_groundings`` sink of a finished build and run again: the
    fused plan recomputes that sink's DAG and reads ``kg_triples`` back."""
    store.drop("kg_groundings")
    with _measured(samples, "resume"):
        res = run_build(ctx, store)
    return check_tables(ctx, *_final(res))


@dataclass
class Stream:
    """One incremental stream: its landing dir, logs, checkpoint and sinks."""

    input_dir: str
    work_dir: str
    ckpt: str
    store: object

    @classmethod
    def fresh(cls, ctx: Ctx) -> "Stream":
        from imgfact_spark.io import TableStore

        root = ctx.scratch("stream")
        os.makedirs(os.path.join(root, "in"))
        return cls(
            os.path.join(root, "in"), os.path.join(root, "logs"),
            os.path.join(root, "ckpt"), TableStore(os.path.join(root, "kg")),
        )

    def land(self, corpus: Corpus, i: int) -> None:
        """Land batch ``i``: copy its files next to the landing dir, then
        rename them in, so the stream never sees a partial file."""
        src = corpus.batch(i)
        names = [f for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
        staging = os.path.dirname(self.input_dir)
        for f in names:
            shutil.copyfile(os.path.join(src, f), os.path.join(staging, f"b{i:03d}-{f}"))
        for f in names:
            os.rename(os.path.join(staging, f"b{i:03d}-{f}"),
                      os.path.join(self.input_dir, f"b{i:03d}-{f}"))

    def extract(self, ctx: Ctx) -> None:
        from imgfact_spark.streaming import incremental_extract

        incremental_extract(
            ctx.spark, self.input_dir, self.work_dir, self.ckpt, ctx.r2d, ctx.ents
        )

    def reduce(self, ctx: Ctx):
        from imgfact_spark.streaming import incremental_kg_tables

        triples, groundings = incremental_kg_tables(ctx.spark, self.work_dir, pipeline_config())
        return (
            self.store.write(triples, "kg_triples", partition_by=["subset"]),
            self.store.write(groundings, "kg_groundings", partition_by=["subset"]),
        )


def _stream_unit(ctx: Ctx, samples: dict) -> str | None:
    """A fresh stream fed every landing batch in a closed loop; the final
    tables are checked, then the kg tables are lost and rebuilt from the
    committed logs (the restart path), checked again.  The first batch
    starts the query and warms the JVM up, so it is not sampled."""
    stream = Stream.fresh(ctx)
    for i in range(ctx.corpus.n_batches):
        stream.land(ctx.corpus, i)
        with _measured(samples if i else _samples(), "commit"):  # from landing
            stream.extract(ctx)
            kg = stream.reduce(ctx)
        if i:
            samples["docs"].append(_batch_docs(ctx.corpus, i))
    err = check_tables(ctx, *kg)
    if err:
        return err
    for name in FINAL_TABLES:
        stream.store.drop(name)
    with _measured(samples, "resume"):
        stream.extract(ctx)  # nothing new landed: the restart only re-arms the query
        kg = stream.reduce(ctx)
    return check_tables(ctx, *kg)


def _batch_docs(corpus: Corpus, i: int) -> int:
    per = -(-corpus.n_docs // corpus.n_batches)
    return min(per, corpus.n_docs - i * per)


def timed(ctx: Ctx, seconds: float) -> dict:
    """Repeat the workload's unit while the next one is expected to end
    inside ``seconds`` (at least once).  A batch workload first warms the
    JVM up with a build over the first landing batch and ends with one
    resume; a stream warms up on its own first batch."""
    from imgfact_spark.io import TableStore

    incremental = ctx.workload.name == "incremental"
    if not incremental:
        def warm_up():
            docs = ctx.spark.read.parquet(ctx.corpus.batch(0))
            run_build(replace(ctx, docs=docs), TableStore(ctx.scratch("store")))
            return None  # a prefix of the corpus: no reference for it

        ctx.tally.unit("warm-up", warm_up)
    samples = _samples()
    stores: list = []

    def unit():
        if incremental:
            return _stream_unit(ctx, samples)
        stores.append(TableStore(ctx.scratch("store")))
        return _build_unit(ctx, samples, stores[-1])

    t0 = time.time()
    n = 0
    while n == 0 or (time.time() - t0) * (n + 1) / n <= seconds:
        ctx.tally.unit(ctx.workload.name, unit)
        n += 1
    if not incremental:
        ctx.tally.unit("resume", lambda: _resume_unit(ctx, samples, stores[-1]))
    return samples


def _samples() -> dict:
    return {k: [] for k in ("commit", "commit_cpu", "resume", "resume_cpu", "docs")}


def _final(res):
    return res.kg_triples, res.kg_groundings


def end_to_end(ctx: Ctx, samples: dict, setup: list[float]) -> dict:
    """Work is counted in CPU seconds of the JVM and its Python workers:
    on a shared host the hypervisor's steal moves wall times by a third
    between runs minutes apart, while CPU seconds stay within a few
    percent.  Wall times stay in the detail line."""
    cpu = samples["commit_cpu"]
    if not cpu or not samples["resume_cpu"]:
        rate = resume = 0.0  # every unit failed; the run is reported failed
    else:
        if ctx.workload.name == "incremental":
            rate = sum(samples["docs"]) / sum(cpu)
        else:
            rate = ctx.corpus.n_docs / statistics.median(cpu)
        resume = statistics.median(samples["resume_cpu"])
    return {
        "kg_docs_per_cpu_s": (rate, "docs/cpu_s"),
        "resume_cpu_s": (resume, "s"),
        "setup_s": (statistics.median(setup), "s"),
    }


# --------------------------------------------------------------- traced run
LAYERS = (
    "pipeline.ingest", "pipeline.extract", "pipeline.entity_filter",
    "pipeline.relation_filter", "pipeline.grounding", "pipeline.canonicalize",
)
#: the committed table each layer's ``rows_out`` reports
LAYER_OUTPUT = {
    "pipeline.ingest": "spans",
    "pipeline.extract": "candidates",
    "pipeline.entity_filter": "visual_candidates",
    "pipeline.relation_filter": "whitelisted_candidates",
    "pipeline.grounding": "groundings",
    "pipeline.canonicalize": "kg_groundings",
}


def layered_run(ctx: Ctx, tracer: trace.Tracer, store, counts: dict) -> str | None:
    """Each layer's public functions in the runner's "all" order, every
    output materialized with ``TableStore.write``; one span per layer.
    ``counts["join_rows"]``: (triple, media) pairs the grounding join hands
    to the scorer, counted afterwards outside every span (the optimizer
    folds the score predicate into the join, so its own row metric counts
    survivors only)."""
    from pyspark.sql import functions as F

    from imgfact_spark.pipeline import canonicalize as canon
    from imgfact_spark.pipeline import entity_filter, extract, grounding, ingest
    from imgfact_spark.pipeline import relation_filter as rf

    cfg = pipeline_config()
    bd = cfg.broadcast_entity_dims
    with tracer.span("pipeline.ingest"):
        spans = store.write(ingest.explode_spans(ctx.docs), "spans")
        media = store.write(ingest.media_spans(spans), "media")
    with tracer.span("pipeline.extract"):
        mentions = store.write(extract.detect_mentions(spans, ctx.r2d), "mentions")
        cand = store.write(
            extract.link_entities(mentions, ctx.ents, broadcast_dim=bd), "candidates"
        )
    with tracer.span("pipeline.entity_filter"):
        visual = store.write(
            entity_filter.visual_entities(
                media, cfg.min_evidence, cfg.vcc_threshold, hash_mode=cfg.hash_mode
            ),
            "visual_entities",
        )
        vis_cand = store.write(
            entity_filter.filter_visual_triples(cand, visual, broadcast_dim=bd),
            "visual_candidates",
        )
    with tracer.span("pipeline.relation_filter"):
        ratio = rf.visual_relation_ratio_fused(
            cand, visual, min_total=cfg.relation_min_total, broadcast_dim=bd
        )
        wl = rf.select_relations(ratio, min_count=cfg.relation_min_count)
        wl_cand = store.write(rf.apply_relation_whitelist(vis_cand, wl), "whitelisted_candidates")
    with tracer.span("pipeline.grounding"):
        scored = grounding.score_groundings(
            grounding.grounding_candidates(wl_cand, media), hash_mode=cfg.hash_mode
        )
        kept = grounding.filter_groundings(scored, cfg.pair_threshold, cfg.ent_threshold)
        grounded = store.write(grounding.topk_groundings(kept, cfg.topk), "groundings")
    counts["join_rows"] = float(grounding.grounding_candidates(wl_cand, media).count())
    with tracer.span("pipeline.canonicalize"):
        rewritten = canon.rewrite_triples_norm(wl_cand.select("doc_id", "s", "p", "o"))
        triples = rewritten.groupBy("s", "p", "o").agg(
            F.countDistinct("doc_id").alias("n_docs")
        ).withColumn(
            "subset",
            F.format_string(
                "Triplelist%03d",
                F.pmod(F.xxhash64("s", "p", "o"), F.lit(cfg.n_subset_partitions)) + 1,
            ),
        )
        kg_t = store.write(triples, "kg_triples", partition_by=["subset"])
        kg_g = store.write(
            canon.rewrite_triples_norm(grounded).select(
                "s", "p", "o", "media_ref", "doc_id", "score", "rank", "subset"
            ),
            "kg_groundings",
            partition_by=["subset"],
        )
    return check_spans(ctx, store.path("spans")) or check_tables(ctx, kg_t, kg_g)


def check_spans(ctx: Ctx, spans_path: str) -> str | None:
    """Per-document span-sequence equality of the ingest output against the
    input documents: (kind, text, media_ref, offset) in input order."""
    cols = ["doc_id", "pos", "kind", "text", "media_ref", "offset"]
    table = pq.read_table(ctx.corpus.docs, columns=["doc_id", "spans"])
    spans = table.column("spans").combine_chunks()
    flat = pc.list_flatten(spans)
    parent = pc.list_parent_indices(spans)
    offsets = spans.offsets.to_numpy()
    import numpy as np

    idx = np.arange(len(flat)) - offsets[parent.to_numpy()]
    want = pd.DataFrame(
        {
            "doc_id": pc.take(table.column("doc_id").combine_chunks(), parent).to_pandas(),
            "pos": idx.astype("int64"),
            **{c: pc.struct_field(flat, c).to_pandas() for c in cols[2:]},
        }
    )
    got = pq.read_table(spans_path, columns=cols).to_pandas()
    got["pos"] = got["pos"].astype("int64")
    got["offset"] = got["offset"].astype("int64")
    want["offset"] = want["offset"].astype("int64")
    key = ["doc_id", "pos"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if got.equals(want):
        return None
    merged = got.merge(want, how="outer", on=cols, indicator=True)
    bad = merged.loc[merged["_merge"] != "both", "doc_id"].nunique()
    return f"spans: {bad} documents differ from their input span sequence"


def traced(ctx: Ctx, cpus: int) -> dict:
    """Per-layer numbers from one traced pass (event log on, a job group per
    span).  The tracing overhead compares the traced runner call with the
    median of three untraced builds in the same JVM, one before the traced
    pass and two after it."""
    from imgfact_spark.io import TableStore

    def untraced_build():
        store = TableStore(ctx.scratch("store"))
        t0 = time.time()
        res = run_build(ctx, store)
        plain.append(time.time() - t0)
        return check_tables(ctx, *_final(res))

    plain: list[float] = []
    ctx.tally.unit("warm-up", untraced_build)
    plain.clear()
    ctx.tally.unit("untraced build", untraced_build)

    # restart the context with the event log on (same JVM)
    ctx.spark.stop()
    log_dir = os.path.join(ctx.work, "eventlog")
    ctx.spark = spark_session(ctx.work, cpus, event_log=log_dir)
    open_inputs(ctx)
    tracer = trace.Tracer(ctx.spark.sparkContext)

    runner_store = TableStore(ctx.scratch("store"))
    with tracer.span("pipeline.runner") as runner_span:
        res = run_build(ctx, runner_store)
    ctx.tally.unit("traced build", lambda: check_tables(ctx, *_final(res)))

    layer_store = TableStore(ctx.scratch("layers"))
    counts: dict[str, float] = {}
    ctx.tally.unit("layered run", lambda: layered_run(ctx, tracer, layer_store, counts))

    stream = Stream.fresh(ctx)
    batch_spans = []
    for i in range(ctx.corpus.n_batches):
        stream.land(ctx.corpus, i)
        with tracer.span(f"streaming.incremental_extract#{i}") as s_ex:
            stream.extract(ctx)
        with tracer.span(f"streaming.incremental_kg_tables#{i}") as s_kg:
            kg = stream.reduce(ctx)
        batch_spans.append((s_ex, s_kg))
    ctx.tally.unit("traced stream", lambda: check_tables(ctx, *kg))
    log_mb = _dir_mb(stream.work_dir)

    ctx.spark.stop()  # finalizes the event log
    ctx.spark = spark_session(ctx.work, cpus)
    open_inputs(ctx)
    for _ in range(2):
        ctx.tally.unit("untraced build", untraced_build)
    log = trace.EventLog.read(log_dir)
    by_span = log.assign(tracer.spans)
    spans = {s.name: s for s in tracer.spans}

    out: dict[str, tuple[float, str]] = {}
    for name in LAYERS:
        summ = trace.span_summary(log, spans[name], by_span[name])
        for k, v in summ.items():
            out[f"{name}.{k}"] = (v, _UNITS[k])
        out[f"{name}.rows_out"] = (float(layer_store.lineage(LAYER_OUTPUT[name])["rows"]), "rows")
    rows = lambda t: float(layer_store.lineage(t)["rows"])  # noqa: E731

    ex_jobs = by_span["pipeline.extract"]
    ex_execs = log.executions_of(ex_jobs)
    ex_stages = log.stages_of(ex_jobs)
    is_kernel = lambda n: n.startswith("MapIn")  # noqa: E731
    kernel_in = log.accum_total(
        ex_stages, trace.node_metric_ids(ex_execs, is_kernel, "number of output rows", below=True)
    )
    out["pipeline.extract.kernel_rows_in"] = (kernel_in, "rows")
    out["pipeline.extract.hit_ratio"] = (rows("mentions") / max(kernel_in, 1.0), "ratio")
    out["pipeline.extract.kernel_python_s"] = (
        log.accum_total(ex_stages, trace.node_metric_ids(ex_execs, is_kernel, "time to run Python workers")) / 1000.0,
        "s",
    )
    out["pipeline.entity_filter.keep_ratio"] = (
        rows("visual_candidates") / max(rows("candidates"), 1.0), "ratio"
    )
    join_rows = counts.get("join_rows", 0.0)
    out["pipeline.grounding.join_rows"] = (join_rows, "rows")
    out["pipeline.grounding.keep_ratio"] = (rows("groundings") / max(join_rows, 1.0), "ratio")

    # the runner call: io bookkeeping and driver gaps
    r_jobs = by_span["pipeline.runner"]
    r_stages = log.stages_of(r_jobs)
    r_execs = log.executions_of(r_jobs)
    busy = trace.busy_seconds(r_stages, runner_span.start, runner_span.end)
    writes = [e for e in r_execs if trace.node_metric_ids([e], _is_write, "job commit time")]
    store_root = "file:" + os.path.abspath(runner_store.root)
    bookkeeping = [
        e for e in r_execs
        if e not in writes and any(
            store_root in str((n.get("metadata") or {}).get("Location", ""))
            for root in e.nodes for n in trace.walk(root)
        )
    ]
    bk_ids = {e.eid for e in bookkeeping}
    commit_ms = log.driver_total(trace.node_metric_ids(writes, _is_write, "job commit time"))
    out["io.commits"] = (float(len(writes)), "count")
    out["io.write_mb"] = (sum(st.bytes_out for st in r_stages) / trace.MB, "MB")
    out["io.bookkeeping_jobs"] = (float(sum(j.execution in bk_ids for j in r_jobs)), "count")
    out["io.commit_s"] = (
        commit_ms / 1000.0 + sum(e.end - e.start for e in bookkeeping), "s"
    )
    out["pipeline.runner.wall_s"] = (runner_span.wall, "s")
    out["pipeline.runner.jobs"] = (float(len(r_jobs)), "count")
    out["pipeline.runner.busy_s"] = (busy, "s")
    out["pipeline.runner.gap_s"] = (runner_span.wall - busy, "s")

    # streaming: per-batch medians; read volume of the last reduce
    for kind in ("incremental_extract", "incremental_kg_tables"):
        per = []
        for i in range(len(batch_spans)):
            name = f"streaming.{kind}#{i}"
            summ = trace.span_summary(log, spans[name], by_span[name])
            per.append(summ)
        for k in ("wall_s", "task_s", "jobs"):
            out[f"streaming.{kind}.{k}"] = (statistics.median(p[k] for p in per), _UNITS[k])
    last = f"streaming.incremental_kg_tables#{len(batch_spans) - 1}"
    out["streaming.incremental_kg_tables.read_mb"] = (
        sum(st.bytes_in for st in log.stages_of(by_span[last])) / trace.MB, "MB"
    )
    out["streaming.log_mb"] = (log_mb, "MB")

    layers_wall = sum(spans[n].wall for n in LAYERS)
    untraced = statistics.median(plain)
    out["trace.layers_wall_s"] = (layers_wall, "s")
    out["trace.remainder_s"] = (
        runner_span.wall - layers_wall - out["pipeline.runner.gap_s"][0], "s"
    )
    out["trace.runner_untraced_s"] = (untraced, "s")
    out["trace.overhead_pct"] = (100.0 * (runner_span.wall / untraced - 1.0), "%")
    return out


def _is_write(node_name: str) -> bool:
    return "InsertIntoHadoopFsRelationCommand" in node_name


_UNITS = {
    "wall_s": "s", "task_s": "s", "gap_s": "s", "jobs": "count", "shuffle_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "task_skew": "ratio",
}


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / trace.MB
