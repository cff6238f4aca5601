"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line (kept compact — the driver records only the
last 2,000 bytes of stdout, so the line carries per-section min + median
and the headline throughput keys only):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "median": {...},
   "throughput": {core keys}, "failed_sections": {name: error head}}
(``failed_sections`` only when a section raised; the line is capped at
``LINE_CAP`` bytes, see ``final_line``.)
The FULL record (reps_detail, every throughput extra) is written to
BENCH/BENCH_DETAIL_latest.json ($SPARK_GRAFT_BENCH_DETAIL overrides).

Each section runs one UNTIMED warm-up rep (JVM/JIT + page-cache warm-up
cost 2-4× on first touch — r4 reps_detail showed kg [34.8, 17.3, 8.0] —
which distorted medians), then ``SPARK_GRAFT_BENCH_REPS`` timed reps
(default 3) and reports the MIN — the host VM shows heavy noisy-neighbor
variance (4× wall-clock swings on identical plans), and min-of-N is the
standard estimator for the machine-limited cost under external noise.
Every rep's wall time is also emitted (``reps_detail``) plus the
per-section TRUE median (middle elements averaged on even counts), so a
noisy run is self-evident from one JSON line: headline min far below the
other reps ⇒ the window was noisy, not the code (the r3
driver-vs-recorded 2.4× minhash ambiguity, diagnosed only by
archaeology, never recurs).

Queries:
  * kg_construct   — full KG-construction pipeline over a pre-materialized
                     synthesized interleaved-doc table (the north-rule input
                     shape); throughput reported as docs/sec and triples/sec.
  * topk_window    — per-group top-K over lineitem (W1).
  * salted_agg     — salted two-phase count over lineitem part keys.
  * minhash_dedup  — MinHash signatures + LSH banding over documents.
  * cosine_topk    — brute-force cosine top-10, 50 queries × corpus.
  * lsh_topk       — LSH-bucketed ANN for the same queries.
  * ivf_topk       — IVF cell-probed ANN for the same queries; recall@10
                     of both indexes vs brute force rides the detail file
                     (lsh_recall / ivf_recall).
  * messy_swap     — bucketed cyclic cross-cluster swap over events (J9).

Text-operator sections (bm25 → dsir below) run over a synthesized
web-shaped corpus (synth.synth_text_corpus, $SPARK_GRAFT_BENCH_TEXT_DOCS
docs, default 20k): the 5,000-row driver table was fixed-cost dominated
and failed the Gopher stopword gate corpus-wide (keep-rate 0).

  * bm25_topk      — Okapi BM25 top-20 for a 4-term query over documents.
  * sampling       — seeded stratified (1k/lang) + weighted A-Res (1k) samples.
  * text_gates     — PII redaction + repetition ratio over every document
                     plus per-lang exact length quantiles (new r4 corpus
                     gates; map-only except the quantile agg).
  * dup_passages   — exact duplicate-passage coverage (Lee et al. 2022
                     style 5-gram position join + interval union) over
                     every document; xxhash64 production hash path.
  * packing        — sequence packing: whitespace token counts + exact
                     distributed prefix sum + fragment fan-out into
                     512-token training sequences over every document.
  * lm_fluency     — bigram-LM perplexity gate: train corpus bigram/unigram
                     counts, score every document's avg smoothed logprob
                     (CCNet-style quality bucketing).
  * dsir           — DSIR importance weights (hashed-bigram target/raw
                     log-likelihood ratio vs the English slice) over every
                     document.
  * pagerank       — 3-iteration PageRank over the supplier→part edge
                     relation of lineitem (production native-sum fold).
  * kg_construct_skew — the same pipeline over a hard-skew corpus
                     (skew_prob=0.75: the planted head entity is in ~90% of
                     docs) — the measured cost of the AQE-skew-split/salted
                     plan, reported as kg_skew_ratio vs the default corpus.
  * kg_shuffle_dims — the web-scale configuration
                     (broadcast_entity_dims=False: entity-scaled dims join
                     as AQE-managed shuffle joins, the 10^8-entity shape)
                     on the default corpus; kg_shuffle_dims_ratio shows the
                     flip is a plan change, not a cliff.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_DOCS,
     SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_BENCH_WARMUP (default 1).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import traceback

#: byte ceiling of the stdout line; its reader keeps only the last 2,000
#: bytes of stdout, so this leaves a margin
LINE_CAP = 1500


def _failure(exc: Exception) -> str:
    traceback.print_exc()  # full trace to stderr; the line gets the head
    return f"{type(exc).__name__}: {exc}"[:160]


def run_section(
    name: str, fn, reps: int, warmup: int,
    timings: dict, reps_detail: dict, failed_sections: dict,
) -> None:
    """Time one section: ``warmup`` untimed reps, then ``reps`` timed reps;
    the min goes to ``timings``.  A section that raises is recorded in
    ``failed_sections`` (exception type + message head) and the run goes on,
    so one broken section never costs the whole line."""
    try:
        for _ in range(warmup):
            fn()  # untimed: JVM/JIT + page cache warm-up (2-4× on cold)
        times = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            times.append(round(time.time() - t0, 3))
    except Exception as exc:
        failed_sections[name] = _failure(exc)
        return
    reps_detail[name] = times
    timings[name] = min(times)


def final_line(line: dict) -> str:
    """The one stdout JSON line, at most ``LINE_CAP`` bytes.  Degrades by
    dropping the redundant sections first (median repeats queries' shape;
    every dropped field is still in the detail file), then cuts
    ``failed_sections`` to its names, then drops ``queries``; ``value`` and
    the run identity always survive."""
    out = json.dumps(line)
    for key in ("median", "throughput", "failed_sections", "queries"):
        if len(out.encode()) <= LINE_CAP:
            break
        if key == "failed_sections" and key in line:
            line[key] = sorted(line[key])
        else:
            line.pop(key, None)
        out = json.dumps(line)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
    # default 3: this host's noisy-neighbor swings (up to 4×) make min-of-2
    # a coin flip; min-of-3 reliably finds the machine-limited floor.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    from pyspark.sql import functions as F

    from imgfact_spark.session import get_spark

    spark = get_spark(
        app_name="imgfact_bench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        },
    )

    timings: dict[str, float] = {}
    reps_detail: dict[str, list[float]] = {}
    failed_sections: dict[str, str] = {}
    extras: dict = {}

    warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))

    def bench_section(name: str, fn) -> None:
        run_section(name, fn, reps, warmup, timings, reps_detail, failed_sections)

    # ---------------------------------------------------------- kg pipeline
    from imgfact_spark import synth
    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline

    tmp = tempfile.mkdtemp(prefix="imgfact_bench_")
    try:
        # input synthesis is test scaffolding, not the measured job: the
        # north-rule workload is construction over an EXISTING doc table,
        # so materialize the corpus once (untimed) and time the pipeline.
        fp = f"synth:42:{n_docs}"
        input_store = TableStore(os.path.join(tmp, "input"))
        docs_stable = input_store.write(
            synth.synth_documents(spark, n_docs, partitions=cpus * 2),
            "documents",
            input_fingerprint=fp,
        )
        kb = synth.kb_df(spark)
        ents = (
            kb.selectExpr("s as entity")
            .union(kb.selectExpr("o as entity"))
            .distinct()
        )
        r2d = synth.rel2desc_df(spark)
        run_no = [0]

        def kg_run():
            run_no[0] += 1
            store = TableStore(os.path.join(tmp, f"run{run_no[0]}"))
            res = run_pipeline(
                spark, docs_stable, r2d, ents, store,
                PipelineConfig(
                    min_evidence=1, use_lsh_aliases=False, checkpoint="final"
                ),
                input_fingerprint=fp,
                materialize_input=False,
            )
            extras["kg_triples"] = res.kg_triples.count()

        bench_section("kg_construct", kg_run)
        if "kg_construct" in timings:
            extras["kg_docs_per_sec"] = round(n_docs / timings["kg_construct"], 1)
            extras["kg_triples_per_sec"] = round(
                extras["kg_triples"] / timings["kg_construct"], 1
            )

        # ------------------------------------------------------- relational
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

        def topk_run():
            from imgfact_spark.operators.topk import topk_per_group

            topk_per_group(
                li,
                keys=["l_orderkey"],
                order_by=[F.desc("l_extendedprice")],
                k=3,
                tiebreak=["l_linenumber"],
            ).count()

        bench_section("topk_window", topk_run)

        def salted_run():
            from imgfact_spark.operators.salted import salted_count

            salted_count(
                li.select("l_partkey", "l_orderkey"), keys=["l_partkey"], n_salts=16
            ).count()

        bench_section("salted_agg", salted_run)

        # ------------------------------------------------------ text corpus
        # The driver documents.parquet (5,000 uniform short rows) is
        # fixed-cost dominated and degenerate for the curation gates (every
        # doc fails the Gopher stopword rule → keep-rate 0, the r5 verdict
        # item).  Text-operator sections run over a synthesized web-shaped
        # corpus instead: realistic length spread, Zipf vocabulary, live
        # keep/reject mix, dup-passage/PII/lang structure — materialized
        # once, untimed (input synthesis is scaffolding, not the job).
        text_docs = int(os.environ.get("SPARK_GRAFT_BENCH_TEXT_DOCS", "20000"))
        text_fp = f"synthtext:7:{text_docs}"
        text_store = TableStore(os.path.join(tmp, "textcorpus"))
        d = text_store.write(
            synth.synth_text_corpus(spark, text_docs, partitions=cpus * 2),
            "documents",
            input_fingerprint=text_fp,
        )
        extras["text_docs"] = text_docs

        def minhash_run():
            from imgfact_spark.operators.dedup import (
                minhash_lsh_dup_pairs,
                minhash_signature,
                shingle_df,
            )

            sh = shingle_df(d, "text", "doc_id", n=3)
            sig = minhash_signature(sh, "doc_id", num_hashes=64)
            pairs = minhash_lsh_dup_pairs(sig, "doc_id", bands=16, rows_per_band=4)
            extras["minhash_pairs"] = pairs.count()

        bench_section("minhash_dedup", minhash_run)

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

        def cosine_run():
            from imgfact_spark.operators.similarity import brute_force_topk

            brute_force_topk(e, q, k=10).count()

        bench_section("cosine_topk", cosine_run)

        def lsh_run():
            from imgfact_spark.operators.similarity import lsh_topk

            lsh_topk(e, q, dim=64, k=10, n_planes=5, n_tables=8).count()

        bench_section("lsh_topk", lsh_run)

        def ivf_run():
            from imgfact_spark.operators.similarity import ivf_topk

            ivf_topk(e, q, dim=64, k=10, n_cells=32, nprobe=8).count()

        bench_section("ivf_topk", ivf_run)

        # ANN quality (untimed): recall@10 of each approximate index vs the
        # exact brute-force top-10 over the same 50 queries AND the same
        # config the wall is measured at — a recall regression must be as
        # visible per round as a wall regression.  The driver embeddings
        # are near-random (little neighbor structure), so recall tracks
        # the candidate fraction here; r6 operating points were chosen
        # from a measured sweep (planes=5/tables=8 → 0.57, cells=32/
        # nprobe=8 → 0.65; the r5 wall-only config 10/4 scored 0.13).
        # Structured-fixture recall is pinned by tests/test_similarity.py.
        def _ann_recall() -> None:
            from imgfact_spark.operators.similarity import (
                brute_force_topk,
                ivf_topk,
                lsh_topk,
            )

            bf = brute_force_topk(e, q, k=10).select("query_id", "vec_id")
            bf = bf.localCheckpoint(eager=True)
            denom = bf.count()
            for label, res in (
                ("lsh_recall", lsh_topk(e, q, dim=64, k=10, n_planes=5, n_tables=8)),
                ("ivf_recall", ivf_topk(e, q, dim=64, k=10, n_cells=32, nprobe=8)),
            ):
                hits = (
                    res.select("query_id", "vec_id")
                    .join(bf, ["query_id", "vec_id"], "left_semi")
                    .count()
                )
                extras[label] = round(hits / denom, 4)

        _ann_recall()

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")

        def messy_run():
            from imgfact_spark.operators.messy_swap import messy_swap

            df = ev.select(
                F.col("event_id").cast("string").alias("img_path"),
                F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("cluster_id"),
                "event_id",
            )
            extras["messy_rows"] = messy_swap(df, key_cols=["event_id"]).count()

        bench_section("messy_swap", messy_run)

        def bm25_run():
            from imgfact_spark.operators.retrieval import bm25_topk

            # terms span the corpus Zipf vocabulary head → tail (rank 1,
            # 12, 123, 1234): realistic posting-list size skew per term
            bm25_topk(
                d, ["enterm00001", "enterm00012", "enterm00123", "enterm01234"],
                k=20,
            ).count()

        bench_section("bm25_topk", bm25_run)

        def sample_run():
            from imgfact_spark.operators.sampling import (
                sample_stratified,
                sample_weighted,
            )

            sample_stratified(
                d.select("doc_id", "lang"), ["lang"], k=1000, seed=7
            ).count()
            sample_weighted(
                d.select("doc_id", "n_chars"), 1000, seed=11, weight_col="n_chars"
            ).count()

        bench_section("sampling", sample_run)

        def text_gates_run():
            from imgfact_spark.functions.text import redact_pii, repetition_ratio
            from imgfact_spark.operators.stats import length_quantiles

            d.select(
                F.count("*"),
                F.sum(F.length(redact_pii("text"))),
                F.floor(F.sum(repetition_ratio("text")) * 1e4),
            ).collect()
            length_quantiles(d, "n_chars", by=["lang"]).count()

        bench_section("text_gates", text_gates_run)

        def dup_passages_run():
            from imgfact_spark.operators.dedup import duplicate_passage_stats

            stats = duplicate_passage_stats(d, "text", "doc_id", k=5, min_df=2)
            extras["dup_passage_docs"] = stats.filter(F.col("dup_tokens") > 0).count()

        bench_section("dup_passages", dup_passages_run)

        def packing_run():
            from imgfact_spark.functions.text import token_count
            from imgfact_spark.operators.packing import pack_sequences
            from imgfact_spark.operators.sampling import seeded_key

            toks = d.select("doc_id", token_count("text").alias("n_tokens"))
            frags = pack_sequences(
                toks, "doc_id", "n_tokens", seq_len=512,
                order_by=[seeded_key(13, "doc_id"), F.col("doc_id")],
            )
            extras["packed_seqs"] = frags.agg(
                (F.max("seq_id") + 1).alias("n")
            ).collect()[0]["n"]

        bench_section("packing", packing_run)

        def lm_run():
            from imgfact_spark.operators.lm import bigram_lm_scores

            scores = bigram_lm_scores(d, "text", "doc_id", alpha=0.1)
            # consume avg_logprob, not just a count — Catalyst prunes
            # unused columns, and a count-only sink would drop the whole
            # logprob fold from the measured plan
            # sum the per-doc 1e-6-truncated scores as exact integers — a
            # parallel double sum is partition-order dependent and its
            # floor can flip by 1 between identical runs
            row = scores.agg(
                F.count(F.when(F.col("n_bigrams") > 0, 1)).alias("n"),
                F.sum(
                    F.round(F.col("avg_logprob") * 1e6).cast("bigint")
                ).alias("s"),
            ).collect()[0]
            extras["lm_scored_docs"] = row["n"]
            extras["lm_logprob_sum_e6"] = int(row["s"])

        bench_section("lm_fluency", lm_run)

        def gopher_run():
            from imgfact_spark.functions.text import gopher_rules

            # consume keep AND n_words so Catalyst can't prune any rule
            row = d.select(gopher_rules("text").alias("g")).agg(
                F.count(F.when(F.col("g.keep"), 1)).alias("n_keep"),
                F.sum("g.n_words").alias("w"),
            ).collect()[0]
            extras["gopher_keep_docs"] = row["n_keep"]

        bench_section("gopher_rules", gopher_run)

        def tfidf_run():
            from imgfact_spark.operators.retrieval import tfidf_keywords

            row = tfidf_keywords(d, k=10).agg(
                F.count("*").alias("n"),
                # consume score (already 1e-6-truncated → exact integers)
                F.sum(F.round(F.col("score") * 1e6).cast("bigint")).alias("s"),
            ).collect()[0]
            extras["tfidf_rows"] = row["n"]

        bench_section("tfidf_keywords", tfidf_run)

        def rollup_run():
            from imgfact_spark.operators.rollup import time_rollup

            ev_b = spark.read.parquet(f"{sf_dir}/events.parquet")
            row = time_rollup(
                ev_b, "ts", ["event_type"], "value", ("day", "hour")
            ).agg(
                F.count("*").alias("n"), F.bit_xor("sum_cents").alias("sig")
            ).collect()[0]
            extras["rollup_cells"] = row["n"]

        bench_section("time_rollup", rollup_run)

        def dsir_run():
            from imgfact_spark.operators.selection import dsir_weights

            w = dsir_weights(
                d, "text", "doc_id", target=d.filter(F.col("lang") == "en")
            )
            # consume weight as exact 1e-6 integers (already floor-truncated)
            # so Catalyst can't prune the fold from the measured plan
            row = w.agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("weight") * 1e6).cast("bigint")).alias("s"),
            ).collect()[0]
            extras["dsir_docs"] = row["n"]
            extras["dsir_weight_sum_e6"] = int(row["s"])

        bench_section("dsir", dsir_run)

        def pagerank_run():
            from imgfact_spark.operators.graph import pagerank

            li_b = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            edges = li_b.select(
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
                F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
            )
            # production fold (native sums); the deterministic fold is the
            # oracle path and is driver-checked, not benchmarked
            ranks = pagerank(edges, iterations=3, deterministic=False)
            row = ranks.agg(
                F.count("*").alias("n"), F.sum("rank").alias("s")
            ).collect()[0]
            extras["pagerank_nodes"] = row["n"]
            # value identity at 1e-6 granularity (float-associativity noise
            # is ~1e-15 relative — far below this) so a rank corruption that
            # preserves the node count still surfaces in the JSON line
            extras["pagerank_rank_sum_e6"] = int(round(row["s"] * 1e6))

        bench_section("pagerank", pagerank_run)

        # ------------------------------------------- kg variants: skew + dims
        # hard-skew corpus: 75% of fact draws hit the single-head block ⇒ the
        # planted head entity appears in ~90% of docs; the grounding joins
        # and entity aggs concentrate on one key and must survive via the
        # salted aggs + AQE skew split (session.py skewJoin factor 3)
        skew_fp = f"synth:42:{n_docs}:skew0.75"
        skew_store = TableStore(os.path.join(tmp, "input_skew"))
        docs_skew = skew_store.write(
            synth.synth_documents(
                spark, n_docs, partitions=cpus * 2, skew_prob=0.75
            ),
            "documents",
            input_fingerprint=skew_fp,
        )

        def kg_skew_run():
            run_no[0] += 1
            store = TableStore(os.path.join(tmp, f"skewrun{run_no[0]}"))
            res = run_pipeline(
                spark, docs_skew, r2d, ents, store,
                PipelineConfig(
                    min_evidence=1, use_lsh_aliases=False, checkpoint="final"
                ),
                input_fingerprint=skew_fp,
                materialize_input=False,
            )
            extras["kg_skew_triples"] = res.kg_triples.count()

        bench_section("kg_construct_skew", kg_skew_run)
        if {"kg_construct", "kg_construct_skew"} <= timings.keys():
            extras["kg_skew_ratio"] = round(
                timings["kg_construct_skew"] / timings["kg_construct"], 3
            )

        # web-scale dims configuration: entity-scaled dimension tables join
        # as AQE-managed shuffle joins instead of broadcasts (the 10^8-entity
        # regime where no executor holds the entity dim in memory)
        def kg_shuffle_dims_run():
            run_no[0] += 1
            store = TableStore(os.path.join(tmp, f"dimsrun{run_no[0]}"))
            res = run_pipeline(
                spark, docs_stable, r2d, ents, store,
                PipelineConfig(
                    min_evidence=1, use_lsh_aliases=False, checkpoint="final",
                    broadcast_entity_dims=False,
                ),
                input_fingerprint=fp,
                materialize_input=False,
            )
            extras["kg_shuffle_dims_triples"] = res.kg_triples.count()

        bench_section("kg_shuffle_dims", kg_shuffle_dims_run)
        if {"kg_construct", "kg_shuffle_dims"} <= timings.keys():
            extras["kg_shuffle_dims_ratio"] = round(
                timings["kg_shuffle_dims"] / timings["kg_construct"], 3
            )
    except Exception as exc:  # a failure between sections: keep the line
        failed_sections["harness"] = _failure(exc)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    total = round(sum(timings.values()), 3)

    def _median(v: list[float]) -> float:
        # true median: even rep counts average the two middle elements (the
        # upper-middle pick overstated dispersion at reps=2)
        s = sorted(v)
        m = len(s) // 2
        return round(s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2, 3)

    medians = {k: _median(v) for k, v in reps_detail.items()}

    # Full record (reps_detail + every throughput extra) goes to a side
    # file: the driver keeps only the last 2,000 bytes of stdout, and the
    # round-5 line outgrew it (BENCH_r05.json "parsed": null — the round
    # published no machine-readable bench).  stdout gets ONE compact line.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH", "BENCH_DETAIL_latest.json"),
    )
    detail = {
        "metric": "imgfact_spark headline suite (KG construct + operators)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_docs": n_docs,
        "reps": reps,
        "reps_detail": reps_detail,
        "median": medians,
        "throughput": extras,
        "failed_sections": failed_sections,
    }
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
        sys.stderr.write(f"bench: detail written to {detail_path}\n")
    except OSError as exc:  # stdout line must survive an unwritable dir
        sys.stderr.write(f"bench: detail write failed: {exc}\n")

    # headline throughput only — the handful of numbers BASELINE.md tracks
    # per round; everything else lives in the detail file
    core_keys = (
        "kg_docs_per_sec", "kg_triples_per_sec", "kg_skew_ratio",
        "kg_shuffle_dims_ratio", "lsh_recall", "ivf_recall",
        "gopher_keep_docs", "text_docs",
    )
    line: dict = {
        "metric": "imgfact_spark headline suite (KG construct + operators)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "n_docs": n_docs,
        "reps": reps,
        "median": medians,
        "throughput": {k: extras[k] for k in core_keys if k in extras},
    }
    if failed_sections:
        line["failed_sections"] = failed_sections
    print(final_line(line))


if __name__ == "__main__":
    sys.stderr.write("bench: starting\n")
    main()
