"""Seeded inputs, generated once per (workload, seed, size) and cached.

A corpus directory holds the documents (``docs/``, 8 parquet files), the
same documents split into ``n_batches`` landing batches (``batches/NNN/``,
4 files each), the planted truth and the expected KG tables from
:mod:`oracle`.  It is built in a scratch directory and renamed into place,
so a half-written corpus is never read.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pandas as pd

DOC_FILES = 8
BATCH_FILES = 4


@dataclass(frozen=True)
class Corpus:
    root: str
    seed: int
    n_docs: int
    n_batches: int

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    def batch(self, i: int) -> str:
        return os.path.join(self.root, "batches", f"{i:03d}")

    @property
    def fingerprint(self) -> str:
        # metadata identity of the input: the runner skips its content scan
        return f"synth:{self.seed}:{self.n_docs}"

    def ready(self) -> bool:
        return os.path.exists(os.path.join(self.root, "_READY"))

    def expected(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        from perfbench import oracle

        t = pd.read_parquet(os.path.join(self.root, "kg_triples.parquet"))
        g = pd.read_parquet(os.path.join(self.root, "kg_groundings.parquet"))
        return oracle.canonical(t, oracle.TRIPLE_COLS), oracle.canonical(g, oracle.GROUNDING_COLS)


def corpus_for(cache_dir: str, workload, seed: int) -> Corpus:
    key = f"{workload.name}-seed{seed}-n{workload.n_docs}-b{workload.n_batches}"
    return Corpus(os.path.join(cache_dir, key), seed, workload.n_docs, workload.n_batches)


def prepare(spark, corpus: Corpus) -> None:
    """Generate the corpus and its expected tables (idempotent)."""
    from pyspark.sql import functions as F

    from imgfact_spark import synth
    from perfbench import oracle

    if corpus.ready():
        return
    tmp = corpus.root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    docs_dir = os.path.join(tmp, "docs")
    synth.synth_documents(
        spark, corpus.n_docs, seed=corpus.seed, partitions=DOC_FILES
    ).write.parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    per_batch = -(-corpus.n_docs // corpus.n_batches)
    for i in range(corpus.n_batches):
        lo, hi = i * per_batch, min((i + 1) * per_batch, corpus.n_docs)
        (
            docs.filter(
                (F.col("doc_id") >= f"doc_{lo:09d}") & (F.col("doc_id") < f"doc_{hi:09d}")
            )
            .repartition(BATCH_FILES)
            .write.parquet(os.path.join(tmp, "batches", f"{i:03d}"))
        )
    truth = synth.synth_truth(spark, corpus.n_docs, seed=corpus.seed).toPandas()
    triples, groundings = oracle.expected_tables(truth, oracle.media_spans(docs_dir))
    triples.to_parquet(os.path.join(tmp, "kg_triples.parquet"))
    groundings.to_parquet(os.path.join(tmp, "kg_groundings.parquet"))
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(corpus.root, ignore_errors=True)
    os.rename(tmp, corpus.root)
