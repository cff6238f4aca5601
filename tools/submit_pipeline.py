"""Production entry point — run the KG-construction pipeline via spark-submit.

Cluster deployment (north rule: multi-executor, --py-files):

    zip -r imgfact_spark.zip imgfact_spark
    spark-submit --master yarn --deploy-mode cluster \
        --num-executors 1000 --executor-cores 4 --executor-memory 16g \
        --conf spark.sql.shuffle.partitions=8000 \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --py-files imgfact_spark.zip \
        tools/submit_pipeline.py \
        --input iceberg.raw.documents --store /warehouse/kg \
        --rel2desc /fixtures/rel2desc.txt --entities iceberg.dim.entities \
        --input-fingerprint snapshot:812374 --checkpoint all

Local smoke (same code path):

    python tools/submit_pipeline.py --synth-docs 10000 --store /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="documents table: parquet path or catalog table")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="synthesize N docs instead of reading --input (smoke)")
    ap.add_argument("--store", required=True, help="warehouse dir for stage tables")
    ap.add_argument("--catalog-prefix", default=None,
                    help="Iceberg catalog prefix (e.g. iceberg.kg) → writeTo path")
    ap.add_argument("--rel2desc", default=None, help="rel2desc.txt path (reference format)")
    ap.add_argument("--entities", default=None,
                    help="entity vocabulary: parquet/csv path with `entity` column")
    ap.add_argument("--input-fingerprint", default=None,
                    help="input identity for resume (Iceberg snapshot id etc.)")
    ap.add_argument("--checkpoint", default="all", choices=["all", "final"])
    ap.add_argument("--scoring", default="column", choices=["column", "checkpoint"])
    ap.add_argument("--min-evidence", type=int, default=10,
                    help="reference default 10 (entity_filtering/dataloading.py:21)")
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--use-lsh-aliases", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session/master comes from the launcher; local
    # runs fall back to the tuned factory
    spark = SparkSession.getActiveSession()
    if spark is None:
        from imgfact_spark.session import get_spark

        spark = get_spark(app_name="imgfact_submit")

    from imgfact_spark import synth
    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline

    if args.synth_docs:
        docs = synth.synth_documents(spark, args.synth_docs)
        fingerprint = args.input_fingerprint or f"synth:42:{args.synth_docs}"
        kb = synth.kb_df(spark)
        ents = kb.selectExpr("s as entity").union(kb.selectExpr("o as entity")).distinct()
        r2d = synth.rel2desc_df(spark)
    else:
        if not args.input:
            ap.error("--input or --synth-docs required")
        docs = (
            spark.read.table(args.input)
            if "." in args.input and "/" not in args.input
            else spark.read.parquet(args.input)
        )
        fingerprint = args.input_fingerprint
        from imgfact_spark.sources import read_rel2desc
        from pyspark.sql import functions as F

        r2d_raw = read_rel2desc(spark, args.rel2desc)
        r2d = r2d_raw.select(
            "p",
            F.coalesce(F.nullif("template", F.lit("")), "label").alias("template"),
            "label",
        )
        ents = (
            spark.read.parquet(args.entities)
            if args.entities and args.entities.endswith((".parquet", "/"))
            else spark.read.table(args.entities)
        )

    store = TableStore(args.store, catalog_table_prefix=args.catalog_prefix)
    cfg = PipelineConfig(
        min_evidence=args.min_evidence,
        topk=args.topk,
        checkpoint=args.checkpoint,
        scoring=args.scoring,
        use_lsh_aliases=args.use_lsh_aliases,
    )
    t0 = time.time()
    res = run_pipeline(
        spark, docs, r2d, ents, store, cfg,
        input_fingerprint=fingerprint,
        materialize_input=bool(args.synth_docs),
    )
    n_triples = res.kg_triples.count()
    n_groundings = res.kg_groundings.count()
    print(
        json.dumps(
            {
                "kg_triples": n_triples,
                "kg_groundings": n_groundings,
                "wall_s": round(time.time() - t0, 2),
                "store": args.store,
                "checkpoint": args.checkpoint,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
