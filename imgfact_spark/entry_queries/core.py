"""Core SURVEY §2 queries: scans/filters/joins/aggregations/windows,
the KG-construction pipeline (flagship + triples), model-kernel serving
(M1/M2/M4/M6), multimodal, API and eval-prep surfaces."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imgfact_spark.entry_queries._registry import ORACLES, QUERIES, _register, _t




# =========================================================================
# S-class: scans / sources (SURVEY.md §2.1)
# =========================================================================


@_register(
    "s2_manifest_explode",
    """
    SELECT l_orderkey, l_linenumber,
           UNNEST(range(1, CAST(l_quantity AS INT) + 1)) AS img_no
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def s2_manifest_explode(spark, sf_dir):
    """S2: crawl-manifest count → exploded per-image rows
    (entity_based_image_filtering/dataloading.py:8-46)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.explode(
                F.sequence(F.lit(1), F.col("l_quantity").cast("int"))
            ).alias("img_no"),
        )
    )




@_register(
    "s7_json_index_scan",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events WHERE event_id <= 1000
    """,
)
def s7_json_index_scan(spark, sf_dir):
    """S7: JSON index scan (imgfact_api/imgfact.py:30-40 analogue)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") <= 1000).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )




# =========================================================================
# P-class: projections / filters (SURVEY.md §2.2)
# =========================================================================


@_register(
    "p2_malformed_filter",
    r"""
    SELECT doc_id FROM documents
    WHERE len(string_split_regex(trim(text), '\s+')) >= 10
    """,
)
def p2_malformed_filter(spark, sf_dir):
    """P2: drop short/malformed rows by field count (filter_tuples.py:19-21)."""
    from imgfact_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.filter(token_count("text") >= 10).select("doc_id")




@_register(
    "p3_min_image_count",
    """
    SELECT o_custkey AS entity_id, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 10
    """,
)
def p3_min_image_count(spark, sf_dir):
    """P3: min-evidence gate (entity_filtering/dataloading.py:21-22,
    img_count >= 10) — entity=customer, images=orders."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("entity_id"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 10)
    )




@_register(
    "p5_score_threshold",
    """
    SELECT l_orderkey, l_linenumber, l_discount AS score
    FROM lineitem WHERE l_discount > 0.04
    """,
)
def p5_score_threshold(spark, sf_dir):
    """P5: score-threshold filter (ptuningfilter.py:16,40-45)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_discount") > 0.04).select(
        "l_orderkey", "l_linenumber", F.col("l_discount").alias("score")
    )




@_register(
    "p6_dual_threshold",
    """
    WITH base AS (
      SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
    ),
    scored AS (
      SELECT l_orderkey, l_linenumber,
             ((('0x' || substr(md5(concat_ws('|', 'e1', l_orderkey::VARCHAR,
                                              l_linenumber::VARCHAR)), 1, 15))::BIGINT
               % 1000000) / CAST(1000000 AS DOUBLE)) AS score_s,
             ((('0x' || substr(md5(concat_ws('|', 'e2', l_orderkey::VARCHAR,
                                              l_linenumber::VARCHAR)), 1, 15))::BIGINT
               % 1000000) / CAST(1000000 AS DOUBLE)) AS score_o
      FROM base
    )
    SELECT l_orderkey, l_linenumber,
           (score_s + score_o) / 2 AS avg_score, score_s, score_o
    FROM scored
    WHERE score_s >= 0.87 AND score_o >= 0.87
    """,
)
def p6_dual_threshold(spark, sf_dir):
    """P6: dual-threshold AND — two independent per-entity scores must BOTH
    clear 0.87; kept rows emit (avg, score_s, score_o)
    (ptuningfilter_ent.py:32,60-65 — predlabels = label_s * label_o, the
    product of binary labels, with the averaged-score result tuple).
    Scores are the md5-mode deterministic kernel, bitwise-identical in
    DuckDB; previously this gate was only driver-checked inside the e2e
    pipeline chain."""
    from imgfact_spark.functions.scoring import det_score_col

    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .distinct()
    )
    s1 = det_score_col(F.lit("e1"), "l_orderkey", "l_linenumber", hash_mode="md5")
    s2 = det_score_col(F.lit("e2"), "l_orderkey", "l_linenumber", hash_mode="md5")
    scored = li.withColumn("score_s", s1).withColumn("score_o", s2)
    return scored.filter(
        (F.col("score_s") >= 0.87) & (F.col("score_o") >= 0.87)
    ).select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("score_s") + F.col("score_o")) / 2).alias("avg_score"),
        "score_s",
        "score_o",
    )




@_register(
    "s5_json_roundtrip",
    """
    SELECT doc_id AS pair,
           substr(text, 1, 40) AS pos_sent,
           'n1:' || doc_id || '|' || 'n2:' || doc_id AS negs
    FROM documents
    """,
)
def s5_json_roundtrip(spark, sf_dir):
    """S5+S14: JSONL parse + JSON serialize as one roundtrip — each doc is
    serialized to a JSON line (``to_json`` = the S14 dict-sink format,
    prepare_data.py:40 json.dump) and parsed back with a typed schema
    (``from_json`` = the S5 line reader, CPgen.py:78-87 json.loads with
    pair/pos_sent/neg_sents[:N] slicing).  The oracle pins the parsed
    values, proving serialize∘parse is the identity on real text (quotes,
    unicode and control chars included)."""
    d = _t(spark, sf_dir, "documents")
    payload = F.to_json(
        F.struct(
            F.col("doc_id").alias("pair"),
            F.substring("text", 1, 40).alias("pos_sent"),
            F.array(
                F.concat(F.lit("n1:"), F.col("doc_id").cast("string")),
                F.concat(F.lit("n2:"), F.col("doc_id").cast("string")),
                F.concat(F.lit("n3:"), F.col("doc_id").cast("string")),
            ).alias("neg_sents"),
        )
    )
    parsed = d.select(
        F.from_json(
            payload, "pair bigint, pos_sent string, neg_sents array<string>"
        ).alias("j")
    )
    return parsed.select(
        F.col("j.pair").alias("pair"),
        F.col("j.pos_sent").alias("pos_sent"),
        F.concat_ws("|", F.slice("j.neg_sents", 1, 2)).alias("negs"),
    )




@_register(
    "p8_blacklist_filter",
    """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    """,
)
def p8_blacklist_filter(spark, sf_dir):
    """P8: relation blacklist (p_spo_setup.py:40-43, skip child/spouse)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select("o_orderkey", "o_orderpriority")




@_register(
    "p9_normalize_underscore",
    """
    SELECT c_custkey, replace(c_name, ' ', '_') AS name_underscore
    FROM customer
    """,
)
def p9_normalize_underscore(spark, sf_dir):
    """P9: underscore/space normalization (filter_tuples.py:37)."""
    from imgfact_spark.functions.text import norm_underscore

    c = _t(spark, sf_dir, "customer")
    return c.select("c_custkey", norm_underscore("c_name").alias("name_underscore"))




@_register(
    "p10_strip_parenthetical",
    r"""
    SELECT p_partkey,
           trim(regexp_replace(p_name || ' (' || p_brand || ')', '\([^()]*\)', '', 'g')) AS cleaned
    FROM part
    """,
)
def p10_strip_parenthetical(spark, sf_dir):
    """P10: del_bar parenthetical stripping (ptuning.py:88-106) — qualifier
    synthesized from p_brand, stripped back off."""
    from imgfact_spark.functions.text import strip_parenthetical

    p = _t(spark, sf_dir, "part")
    qualified = F.concat(F.col("p_name"), F.lit(" ("), F.col("p_brand"), F.lit(")"))
    return p.select(
        "p_partkey", F.trim(strip_parenthetical(qualified)).alias("cleaned")
    )




@_register(
    "p13_template_fill",
    """
    SELECT s_suppkey, printf('%s works for %s.', s_name, n_name) AS sentence
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
)
def p13_template_fill(spark, sf_dir):
    """P13 + J6: template-fill via broadcast dimension join
    (prepare_data.py:62-75)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_suppkey",
            F.format_string("%s works for %s.", "s_name", "n_name").alias("sentence"),
        )
    )




@_register(
    "p14_train_vocab_semi",
    """
    SELECT c_custkey FROM customer
    WHERE c_nationkey IN (SELECT DISTINCT s_nationkey FROM supplier)
    """,
)
def p14_train_vocab_semi(spark, sf_dir):
    """P14: train-vocabulary semi filter (prepare_data.py:59-75)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return c.join(
        F.broadcast(s.select(F.col("s_nationkey").alias("c_nationkey")).distinct()),
        "c_nationkey",
        "left_semi",
    ).select("c_custkey")




# =========================================================================
# J-class: joins (SURVEY.md §2.3)
# =========================================================================


@_register(
    "j1_double_semi_join",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000)
      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 25)
    """,
)
def j1_double_semi_join(spark, sf_dir):
    """J1: double broadcast semi-join — triples ⋉ visual entities on BOTH
    endpoints (filter_tuples.py:22-24)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return (
        li.join(
            F.broadcast(s.select(F.col("s_suppkey").alias("l_suppkey"))),
            "l_suppkey",
            "left_semi",
        )
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey",
            "left_semi",
        )
        .select("l_orderkey", "l_linenumber")
    )




@_register(
    "j2_abstract_image_join",
    """
    SELECT c.c_custkey, c.c_name, cnt.n_orders
    FROM customer c
    JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) cnt
      ON c.c_custkey = cnt.o_custkey
    WHERE cnt.n_orders >= 10
    """,
)
def j2_abstract_image_join(spark, sf_dir):
    """J2+S3: abstracts ⨝ image manifest with evidence gate
    (entity_filtering/dataloading.py:36-44, count filter 21-22)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cnt = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 10)
    )
    return c.join(cnt, "c_custkey").select("c_custkey", "c_name", "n_orders")




@_register(
    "j3_visual_ratio",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS vis_count,
           COUNT(*) AS all_count,
           FLOOR(CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS DOUBLE) * 10000 / COUNT(*)) / 10000 AS ratio
    FROM orders GROUP BY o_orderpriority HAVING COUNT(*) >= 20
    """,
)
def j3_visual_ratio(spark, sf_dir):
    """J3+O2: visual/all ratio with total gate
    (gen_visual_relations.py:16-31).

    Ratio is truncated via floor(x*1e4)/1e4 on BOTH engines: DuckDB's
    ``ROUND`` on a ``* 1.0`` literal yields DECIMAL (round-1 driver hash
    mismatch), while floor over identical IEEE double ops is bitwise equal.

    The oracle's ``SUM(CASE ...)`` is explicitly CAST to BIGINT: DuckDB's
    integer SUM returns HUGEINT, which pandas materializes as float64 while
    Spark emits int64 — a dtype-family mismatch under the driver's
    pandas-dtype-tagged hash even when values are identical (the round-1/2
    driver hash failure).
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias(
                "vis_count"
            ),
            F.count("*").alias("all_count"),
        )
        .filter(F.col("all_count") >= 20)
        .withColumn(
            "ratio",
            F.floor(F.col("vis_count").cast("double") * 10000 / F.col("all_count"))
            / 10000,
        )
    )




@_register(
    "j5_positional_zip_join",
    """
    WITH l AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos FROM documents),
         r AS (SELECT vec_id, label, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pos FROM embeddings)
    SELECT l.pos, l.doc_id, r.vec_id, r.label
    FROM l JOIN r ON l.pos = r.pos
    """,
)
def j5_positional_zip_join(spark, sf_dir):
    """J5: positional zip join — i-th row pairs with i-th row
    (prepare_data.py:43-59 zip semantics) via imgfact_spark.operators.zip_join."""
    from imgfact_spark.operators.zip_join import zip_join

    d = _t(spark, sf_dir, "documents").select("doc_id")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return zip_join(d, e, left_order=["doc_id"], right_order=["vec_id"]).select(
        "pos", "doc_id", "vec_id", "label"
    )




@_register(
    "j7_first_seen_label_ids",
    """
    SELECT c_mktsegment,
           ROW_NUMBER() OVER (ORDER BY first_key) - 1 AS label_id
    FROM (SELECT c_mktsegment, MIN(c_custkey) AS first_key
          FROM customer GROUP BY c_mktsegment)
    """,
)
def j7_first_seen_label_ids(spark, sf_dir):
    """J7/A11: first-seen dense label-id assignment (prepare_data.py:27-39)
    — deterministic row_number over first occurrence, no
    monotonically_increasing_id."""
    c = _t(spark, sf_dir, "customer")
    firsts = c.groupBy("c_mktsegment").agg(F.min("c_custkey").alias("first_key"))
    w = Window.orderBy("first_key")
    return firsts.select(
        "c_mktsegment", (F.row_number().over(w) - 1).alias("label_id")
    )




@_register(
    "j8_theta_diff_partner",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             MIN(l_partkey) AS l_partkey,
             MAX(l_extendedprice) AS l_extendedprice
      FROM lineitem WHERE l_orderkey <= 2000
      GROUP BY l_orderkey, l_linenumber
    )
    SELECT a.l_orderkey, a.l_linenumber,
           (SELECT b.l_linenumber FROM base b
            WHERE b.l_orderkey = a.l_orderkey
              AND b.l_partkey <> a.l_partkey
            ORDER BY b.l_extendedprice DESC, b.l_linenumber
            LIMIT 1) AS partner_linenumber
    FROM base a
    """,
)
def j8_theta_diff_partner(spark, sf_dir):
    """J8: per-key theta anti-match pairing — partner from the same group
    whose attribute differs, best-score first, null when no mismatch exists
    (app_s_prepare_data.py:42-50 get_diff_img semantics, made
    deterministic).  (l_orderkey, l_linenumber) is non-unique in the driver
    data, so rows are first collapsed to one per key."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.min("l_partkey").alias("l_partkey"),
            F.max("l_extendedprice").alias("l_extendedprice"),
        )
    )
    a = li.alias("a")
    b = li.alias("b")
    joined = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        "left",
    )
    w = Window.partitionBy("a.l_orderkey", "a.l_linenumber").orderBy(
        F.desc("b.l_extendedprice"), F.asc("b.l_linenumber")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("a.l_orderkey").alias("l_orderkey"),
            F.col("a.l_linenumber").alias("l_linenumber"),
            F.col("b.l_linenumber").alias("partner_linenumber"),
        )
    )




@_register(
    "j8b_diff_partner_pop",
    """
    WITH base AS (
      SELECT l_orderkey, MIN(l_partkey) AS l_partkey, l_linenumber
      FROM lineitem WHERE l_orderkey <= 500
      GROUP BY l_orderkey, l_linenumber
    ),
    p AS (
      SELECT l_orderkey, l_partkey, CAST(l_linenumber AS VARCHAR) AS img
      FROM base
    ),
    k AS (
      SELECT *,
             md5(concat_ws(chr(31), '998244353', l_orderkey::VARCHAR,
                           l_partkey::VARCHAR, img)) AS ok
      FROM p
    ),
    sz AS (
      SELECT l_orderkey, l_partkey, COUNT(*) AS csz
      FROM k GROUP BY l_orderkey, l_partkey
    ),
    szo AS (
      SELECT *,
             COALESCE(SUM(csz) OVER (PARTITION BY l_orderkey
                                     ORDER BY csz DESC, l_partkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS coff,
             MAX(csz) OVER (PARTITION BY l_orderkey) AS m,
             SUM(csz) OVER (PARTITION BY l_orderkey) AS n
      FROM sz
    ),
    pos AS (
      SELECT k.l_orderkey, k.l_partkey, k.img,
             szo.coff + ROW_NUMBER() OVER (PARTITION BY k.l_orderkey, k.l_partkey
                                           ORDER BY k.ok, k.img) - 1 AS pos,
             szo.m, szo.n
      FROM k JOIN szo ON k.l_orderkey = szo.l_orderkey
                     AND k.l_partkey = szo.l_partkey
    ),
    tgt AS (SELECT *, (pos + m) % n AS tgt FROM pos)
    SELECT a.l_orderkey, a.l_partkey, b.img AS img, a.img AS img_orig
    FROM tgt a JOIN tgt b ON a.l_orderkey = b.l_orderkey AND a.tgt = b.pos
    """,
)
def j8b_diff_partner_pop(spark, sf_dir):
    """J8/O6 pop semantics as an operator query: evalprep.diff_image_partner
    rotation pairing — each group's images PERMUTED (given away exactly
    once, the reference's get_diff_img pop, app_p_prepare_data.py:46-56),
    crossing the differ-class boundary wherever the pigeonhole allows.
    The oracle replicates the class-contiguous layout + max-class-shift
    rotation with identical md5 order keys."""
    from imgfact_spark.evalprep import diff_image_partner

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 500)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.min("l_partkey").alias("l_partkey"))
    )
    pairs = li.select(
        "l_orderkey", "l_partkey", F.col("l_linenumber").cast("string").alias("img")
    )
    return diff_image_partner(
        pairs, group_col="l_orderkey", differ_cols=("l_partkey",), img_col="img"
    )




@_register(
    "j11_round_robin_modulo",
    """
    SELECT o_orderkey,
           CAST((ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1) % 3 AS INT) AS slot
    FROM orders
    """,
)
def j11_round_robin_modulo(spark, sf_dir):
    """J11: round-robin modulo assignment — k-th occurrence gets slot
    k mod n (image_naive_pkl.py:88-94)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_orderkey",
        F.pmod(F.row_number().over(w) - 1, F.lit(3)).cast("int").alias("slot"),
    )




# =========================================================================
# A-class: aggregations (SURVEY.md §2.4)
# =========================================================================


@_register(
    "a1_relation_counts",
    "SELECT event_type, COUNT(*) AS count FROM events GROUP BY event_type",
)
def a1_relation_counts(spark, sf_dir):
    """A1: partial+final group-by count (gen_candidate_relations.py:26-44)
    via the salted two-phase aggregation operator (skew guard)."""
    from imgfact_spark.operators.salted import salted_count

    ev = _t(spark, sf_dir, "events")
    return salted_count(ev, keys=["event_type"], n_salts=8)




@_register(
    "a4_distinct_entity_union",
    """
    SELECT o_custkey AS entity_id FROM orders
    UNION
    SELECT c_custkey AS entity_id FROM customer
    """,
)
def a4_distinct_entity_union(spark, sf_dir):
    """A4: distinct entity set as union of subject+object columns
    (imgfact_api/imgfact.py:49-62)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("entity_id"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("entity_id"))
    return o.unionByName(c).distinct()




@_register(
    "a5_concat_key_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def a5_concat_key_dedup(spark, sf_dir):
    """A5: row dedup via composite key (multimodal_naive.py:132-133) —
    dropDuplicates, not string-concat hacks."""
    ev = _t(spark, sf_dir, "events")
    return ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )




@_register(
    "a6_vector_mean_pool",
    """
    SELECT label, gs.i - 1 AS idx,
           ROUND(AVG(embedding[gs.i]), 4) AS avg_val
    FROM embeddings, generate_series(1, 64) gs(i)
    GROUP BY label, gs.i
    """,
)
def a6_vector_mean_pool(spark, sf_dir):
    """A6: per-key element-wise mean pooling of vectors
    (naive_prepare_data.py:133-139) — posexplode + avg (scales to any dim;
    no UDAF needed)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("idx", "val"))
        .groupBy("label", "idx")
        .agg(F.round(F.avg("val"), 4).alias("avg_val"))
    )




@_register(
    "a7_class_counter_max",
    """
    SELECT event_type, COUNT(*) AS count,
           (SELECT MAX(cnt) FROM (SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)) AS max_count
    FROM events GROUP BY event_type
    """,
)
def a7_class_counter_max(spark, sf_dir):
    """A7: class counts + global max (p_spo_setup.py:63-67)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("count"))
    mx = counts.agg(F.max("count").alias("max_count"))
    return counts.crossJoin(F.broadcast(mx))




@_register(
    "a8_oversample_balance",
    """
    WITH counts AS (SELECT p_brand, COUNT(*) AS cnt FROM part WHERE p_partkey <= 300 GROUP BY p_brand),
         mx AS (SELECT MAX(cnt) AS max_cnt FROM counts)
    SELECT p.p_partkey, p.p_brand
    FROM part p
    JOIN counts c ON p.p_brand = c.p_brand
    CROSS JOIN mx
    CROSS JOIN (SELECT UNNEST(range(1, 10000)) AS rep) r
    WHERE p.p_partkey <= 300 AND r.rep <= CAST(FLOOR(mx.max_cnt / c.cnt) AS INT)
    """,
)
def a8_oversample_balance(spark, sf_dir):
    """A8: oversample to balance classes — replicate each row
    floor(max_count/count) times (p_spo_setup.py:84-89) via the
    oversample_balance operator (explode(sequence))."""
    from imgfact_spark.operators.balance import oversample_balance

    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return oversample_balance(p, "p_brand").select("p_partkey", "p_brand")




@_register(
    "a9_ranking_metrics",
    """
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rnk
      FROM (SELECT l_orderkey, l_linenumber, MAX(l_extendedprice) AS l_extendedprice
            FROM lineitem GROUP BY l_orderkey, l_linenumber)
    ),
    label_rank AS (SELECT l_orderkey, rnk FROM ranked WHERE l_linenumber = 1)
    SELECT ROUND(AVG(CASE WHEN rnk = 1 THEN 1.0 ELSE 0.0 END), 6) AS hit1,
           ROUND(AVG(1.0 / rnk), 6) AS mrr,
           ROUND(AVG(CAST(rnk AS DOUBLE)), 6) AS mr
    FROM label_rank
    """,
)
def a9_ranking_metrics(spark, sf_dir):
    """A9+W3: hit@1 / MRR / MR over per-group ranking of the true label
    (multimodal_naive.py:209-234)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_extendedprice").alias("l_extendedprice"))
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    ranked = li.withColumn("rnk", F.row_number().over(w))
    labels = ranked.filter(F.col("l_linenumber") == 1)
    return labels.agg(
        F.round(F.avg(F.when(F.col("rnk") == 1, 1.0).otherwise(0.0)), 6).alias("hit1"),
        F.round(F.avg(1.0 / F.col("rnk")), 6).alias("mrr"),
        F.round(F.avg(F.col("rnk").cast("double")), 6).alias("mr"),
    )




@_register(
    "a9_weighted_prf",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             MAX(l_extendedprice) AS price, MAX(l_returnflag) AS cls
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    ),
    ranked AS (
      SELECT l_orderkey, l_linenumber, cls,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY price DESC, l_linenumber) AS rnk
      FROM base
    ),
    samples AS (
      SELECT t.l_orderkey, t.cls AS y_true, p.cls AS y_pred, t.rnk AS rank_true
      FROM ranked t
      JOIN ranked p ON t.l_orderkey = p.l_orderkey AND p.rnk = 1
      WHERE t.l_linenumber = 1
    ),
    per_true AS (
      SELECT y_true AS cls, COUNT(*) AS support,
             CAST(SUM(CASE WHEN y_pred = y_true THEN 1 ELSE 0 END) AS BIGINT) AS tp
      FROM samples GROUP BY y_true
    ),
    per_pred AS (SELECT y_pred AS cls, COUNT(*) AS npred FROM samples GROUP BY y_pred),
    cl AS (
      SELECT t.cls, t.support, t.tp, COALESCE(p.npred, 0) AS npred
      FROM per_true t LEFT JOIN per_pred p ON t.cls = p.cls
    ),
    terms AS (
      SELECT cls,
             CASE WHEN npred > 0
                  THEN CAST(support AS DOUBLE) * tp / npred ELSE 0.0 END AS prec_term,
             CAST(support AS DOUBLE) * 2 * tp / (npred + support) AS f1_term
      FROM cl
    ),
    folded AS (
      SELECT list_dot_product(list(prec_term ORDER BY cls),
                              list(CAST(1.0 AS DOUBLE) ORDER BY cls)) AS prec_sum,
             list_dot_product(list(f1_term ORDER BY cls),
                              list(CAST(1.0 AS DOUBLE) ORDER BY cls)) AS f1_sum
      FROM terms
    ),
    tot AS (
      SELECT CAST(SUM(support) AS BIGINT) AS n,
             CAST(SUM(tp) AS BIGINT) AS tp_total
      FROM cl
    ),
    h AS (
      SELECT CAST(SUM(CASE WHEN rank_true <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits5
      FROM samples
    )
    SELECT CAST(h.hits5 AS DOUBLE) / tot.n AS hit5,
           FLOOR(folded.prec_sum / tot.n * 1000000) / 1000000 AS weighted_prec,
           CAST(tot.tp_total AS DOUBLE) / tot.n AS weighted_rec,
           FLOOR(folded.f1_sum / tot.n * 1000000) / 1000000 AS weighted_f1
    FROM folded, tot, h
    """,
)
def a9_weighted_prf(spark, sf_dir):
    """A9 completion: hit@5 + support-weighted precision/recall/F1 over the
    top-1 prediction, the remaining metrics of the reference's eval table
    (multimodal_naive.py:270-279 — sklearn ``average="weighted"``,
    ``zero_division=0``).

    Per sample (order): y_true = class of the designated true item
    (l_linenumber=1), y_pred = class of the top-ranked-by-price item,
    rank_true = the true item's rank.  Weighted recall reduces exactly to
    sum(tp)/N (micro accuracy); per-class F1 uses the algebraic identity
    f1_c = 2·tp_c/(npred_c+support_c), which equals 2PR/(P+R) with sklearn's
    zero_division=0 convention.  Cross-class double sums are folded
    SEQUENTIALLY over class-sorted arrays on both engines (Spark
    F.aggregate fold == DuckDB list_dot_product with a ones vector —
    bitwise-equal per the house determinism rule), then floor-truncated at
    1e-6; hit5 and weighted_rec are exact integer ratios needing no
    truncation.
    """
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.max("l_extendedprice").alias("price"),
        F.max("l_returnflag").alias("cls"),
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("price"), F.asc("l_linenumber")
    )
    ranked = base.withColumn("rnk", F.row_number().over(w))
    truth = ranked.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", F.col("cls").alias("y_true"), F.col("rnk").alias("rank_true")
    )
    pred = ranked.filter(F.col("rnk") == 1).select(
        "l_orderkey", F.col("cls").alias("y_pred")
    )
    samples = truth.join(pred, "l_orderkey")
    per_true = samples.groupBy(F.col("y_true").alias("cls")).agg(
        F.count("*").alias("support"),
        F.sum(F.when(F.col("y_pred") == F.col("y_true"), 1).otherwise(0)).alias("tp"),
    )
    per_pred = samples.groupBy(F.col("y_pred").alias("cls")).agg(
        F.count("*").alias("npred")
    )
    cl = per_true.join(per_pred, "cls", "left").na.fill({"npred": 0})
    terms = cl.select(
        "cls",
        "support",
        "tp",
        F.when(
            F.col("npred") > 0,
            F.col("support").cast("double") * F.col("tp") / F.col("npred"),
        )
        .otherwise(F.lit(0.0))
        .alias("prec_term"),
        (
            F.col("support").cast("double")
            * 2
            * F.col("tp")
            / (F.col("npred") + F.col("support"))
        ).alias("f1_term"),
    )

    def _fold(col):
        arr = F.array_sort(
            F.collect_list(F.struct(F.col("cls"), F.col(col).alias("v")))
        )
        return F.aggregate(
            F.transform(arr, lambda x: x["v"]), F.lit(0.0), lambda acc, x: acc + x
        )

    folded = terms.agg(
        _fold("prec_term").alias("prec_sum"),
        _fold("f1_term").alias("f1_sum"),
        F.sum("support").alias("n"),
        F.sum("tp").alias("tp_total"),
    )
    hits = samples.agg(
        F.sum(F.when(F.col("rank_true") <= 5, 1).otherwise(0)).alias("hits5")
    )
    return folded.crossJoin(hits).select(
        (F.col("hits5").cast("double") / F.col("n")).alias("hit5"),
        (F.floor(F.col("prec_sum") / F.col("n") * 1000000) / 1000000).alias(
            "weighted_prec"
        ),
        (F.col("tp_total").cast("double") / F.col("n")).alias("weighted_rec"),
        (F.floor(F.col("f1_sum") / F.col("n") * 1000000) / 1000000).alias(
            "weighted_f1"
        ),
    )




@_register(
    "a12_filter_intersection",
    """
    SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
    INTERSECT
    SELECT o_orderkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def a12_filter_intersection(spark, sf_dir):
    """A12: intersection of two filter outputs (README.md:107-112 —
    entity-pair filter ∩ per-entity filter)."""
    o = _t(spark, sf_dir, "orders")
    f1 = o.filter(F.col("o_totalprice") > 150000).select("o_orderkey")
    f2 = o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey"
    )
    return f1.intersect(f2)




@_register(
    "a13_union_shard_partials",
    """
    SELECT l_returnflag, COUNT(*) AS count FROM (
      SELECT l_returnflag FROM lineitem WHERE l_linenumber % 2 = 0
      UNION ALL
      SELECT l_returnflag FROM lineitem WHERE l_linenumber % 2 = 1
    ) GROUP BY l_returnflag
    """,
)
def a13_union_shard_partials(spark, sf_dir):
    """A13: union of shard partials then aggregate (filter_tuples.py:41-46)."""
    li = _t(spark, sf_dir, "lineitem")
    even = li.filter(F.col("l_linenumber") % 2 == 0).select("l_returnflag")
    odd = li.filter(F.col("l_linenumber") % 2 == 1).select("l_returnflag")
    return even.unionByName(odd).groupBy("l_returnflag").agg(
        F.count("*").alias("count")
    )




# =========================================================================
# W-class: windows / ranking / top-k (SURVEY.md §2.5)
# =========================================================================


@_register(
    "w1_topk_per_group",
    """
    SELECT l_orderkey, l_linenumber, rank FROM (
      SELECT l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice DESC, l_linenumber) AS rank
      FROM (SELECT l_orderkey, l_linenumber, MAX(l_extendedprice) AS l_extendedprice
            FROM lineitem GROUP BY l_orderkey, l_linenumber)
    ) WHERE rank <= 3
    """,
)
def w1_topk_per_group(spark, sf_dir):
    """W1: per-group sort desc + top-K (ptuningfilter.py:62-65) via the
    topk_per_group operator."""
    from imgfact_spark.operators.topk import topk_per_group

    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_extendedprice").alias("l_extendedprice"))
    )
    return topk_per_group(
        li,
        keys=["l_orderkey"],
        order_by=[F.desc("l_extendedprice")],
        k=3,
        tiebreak=["l_linenumber"],
    ).select("l_orderkey", "l_linenumber", "rank")




@_register(
    "w4_first_per_cluster",
    """
    SELECT event_id FROM (
      SELECT event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def w4_first_per_cluster(spark, sf_dir):
    """W4: first-row-per-cluster dedup (cluster.py:110-117)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id")
    )




# =========================================================================
# O-class: sorts / gates / seeded sampling (SURVEY.md §2.6)
# =========================================================================


@_register(
    "o3_min_count_gate",
    """
    SELECT user_id, COUNT(*) AS n_events FROM events
    GROUP BY user_id HAVING COUNT(*) >= 15
    """,
)
def o3_min_count_gate(spark, sf_dir):
    """O3: relation min-count gate (gen_sample_tuples.py:4-11)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= 15)
    )




@_register(
    "o4_sample_per_group",
    """
    SELECT event_type, event_id FROM (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    ) WHERE rn <= 7
    """,
)
def o4_sample_per_group(spark, sf_dir):
    """O4+O5: seeded shuffle + per-group limit (gen_sample_tuples.py:15-27).
    The 'random' order is an md5 of the row key — deterministic and identical
    across engines, which is the whole point of seeded sampling here."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .select("event_type", "event_id")
    )




# =========================================================================
# Scalar-function pack (SURVEY.md §2.8)
# =========================================================================


@_register(
    "f_scalar_pack",
    """
    SELECT l_orderkey, l_linenumber,
           lpad(CAST(l_linenumber AS VARCHAR), 3, '0') AS file_id,
           concat_ws('/', l_returnflag, l_linestatus) AS path,
           FLOOR(l_extendedprice * (1 - l_discount) * 100) / 100 AS revenue,
           CAST(CAST(l_quantity AS INT) % 7 AS INT) AS qmod,
           trim(l_returnflag) AS flag
    FROM lineitem WHERE l_orderkey <= 500
    """,
)
def f_scalar_pack(spark, sf_dir):
    """§2.8 scalar functions: lpad/zfill (CPgen.py:428), concat_ws path
    join, round-at-sink (ptuningfilter.py:77), modulo counter
    (image_naive_pkl.py:94), trim."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.lpad(F.col("l_linenumber").cast("string"), 3, "0").alias("file_id"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("path"),
        (
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100) / 100
        ).alias("revenue"),
        F.pmod(F.col("l_quantity").cast("int"), F.lit(7)).cast("int").alias("qmod"),
        F.trim("l_returnflag").alias("flag"),
    )




_E2E_RELS = [
    ("banks_with", "banks with"),
    ("resides_in", "resides in"),
    ("trades_at", "trades at"),
]


_MD5U = (
    "((('0x' || substr(md5({expr}), 1, 15))::BIGINT % 1000000)"
    " / CAST(1000000 AS DOUBLE))"
)




def _e2e_oracle_sql() -> str:
    """Full-pipeline oracle: reconstructs the interleaved-doc corpus from
    customer×nation with the same expressions as the Spark query, then
    derives the expected kg_groundings directly — planted triples → vcc
    entity gate → grounding join → md5 scores → thresholds → per-triple
    top-K.  Every hash is the cross-engine md5 primitive (hash_mode='md5'
    pipeline run)."""
    vcc = _MD5U.format(expr="'vcc|' || e")
    pair = _MD5U.format(
        expr="'pair|' || s || '|' || p || '|' || o || '|' || media_ref"
    )
    ent_s = _MD5U.format(expr="'ent|' || s || '|' || media_ref")
    ent_o = _MD5U.format(expr="'ent|' || o || '|' || media_ref")
    case_p = (
        "CASE CAST(c_custkey % 3 AS INT) "
        + " ".join(
            f"WHEN {i} THEN '{rel}'" for i, (rel, _) in enumerate(_E2E_RELS[:2])
        )
        + f" ELSE '{_E2E_RELS[2][0]}' END"
    )
    return f"""
    WITH base AS (
      SELECT 'd' || c_custkey AS doc_id,
             'cust_' || (c_custkey % 97) AS s,
             {case_p} AS p,
             'nat_' || n_nationkey AS o,
             'cust ' || (c_custkey % 97) AS s_sp,
             'nat ' || n_nationkey AS o_sp,
             1 + CAST(c_custkey % 3 AS INT) AS g
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey <= 400
    ),
    media AS (
      SELECT doc_id, s, p, o,
             'img://TL001/' || p || '/' || s_sp || ' ' || o_sp || '/'
               || i.i || '.jpg' AS media_ref
      FROM base, UNNEST(range(1, g + 1)) AS i(i)
    ),
    ents AS (SELECT DISTINCT s AS e FROM base
             UNION SELECT DISTINCT o AS e FROM base),
    vcc AS (SELECT e FROM ents WHERE {vcc} >= 0.02),
    scored AS (
      SELECT doc_id, s, p, o, media_ref,
             CAST(0.20 AS DOUBLE) + CAST(0.80 AS DOUBLE) * {pair} AS score,
             CAST(0.75 AS DOUBLE) + CAST(0.25 AS DOUBLE) * {ent_s} AS score_s,
             CAST(0.75 AS DOUBLE) + CAST(0.25 AS DOUBLE) * {ent_o} AS score_o
      FROM media
      WHERE s IN (SELECT e FROM vcc) AND o IN (SELECT e FROM vcc)
    ),
    ranked AS (
      SELECT s, p, o, media_ref, doc_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY s, p, o
                   ORDER BY score DESC, media_ref, doc_id) AS INT) AS rank
      FROM scored
      WHERE score > 0.4 AND score_s >= 0.87 AND score_o >= 0.87
    )
    SELECT s, p, o, media_ref, doc_id, score, rank, 'TL001' AS subset
    FROM ranked WHERE rank <= 10
    """




def _e2e_inputs(spark, sf_dir):
    """Interleaved-doc corpus + kb + templates, built deterministically
    from the driver's customer×nation tables with expressions both engines
    reproduce (shared by kg_construct_e2e / kg_construct_triples)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 400)
    n = _t(spark, sf_dir, "nation")
    key = F.col("c_custkey")
    p_expr = F.element_at(
        F.array(*[F.lit(r) for r, _ in _E2E_RELS]),
        F.pmod(key, F.lit(3)).cast("int") + 1,
    )
    phrase = F.element_at(
        F.array(*[F.lit(ph) for _, ph in _E2E_RELS]),
        F.pmod(key, F.lit(3)).cast("int") + 1,
    )
    base = (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.concat(F.lit("d"), key.cast("string")).alias("doc_id"),
            F.concat(F.lit("cust "), F.pmod(key, F.lit(97)).cast("string")).alias("s_sp"),
            p_expr.alias("p"),
            phrase.alias("phrase"),
            F.concat(F.lit("nat "), F.col("n_nationkey").cast("string")).alias("o_sp"),
            (F.pmod(key, F.lit(3)).cast("int") + 1).alias("g"),
        )
    )
    text = F.concat("s_sp", F.lit(" "), "phrase", F.lit(" "), "o_sp", F.lit("."))
    null_s = F.lit(None).cast("string")
    text_span = F.struct(
        F.lit("text").alias("kind"), text.alias("text"),
        null_s.alias("media_ref"), F.lit(0).alias("offset"),
    )
    media_span = lambda i: F.struct(
        F.lit("media").alias("kind"), null_s.alias("text"),
        F.concat(
            F.lit("img://TL001/"), "p", F.lit("/"), "s_sp", F.lit(" "), "o_sp",
            F.lit(f"/{i}.jpg"),
        ).alias("media_ref"),
        F.lit(100 + i).alias("offset"),
    )
    spans = F.concat(
        F.array(text_span),
        F.filter(
            F.array(*[media_span(i) for i in (1, 2, 3)]),
            lambda x, i: i < F.col("g"),
        ),
    )
    docs = base.select("doc_id", spans.alias("spans"))

    kb = base.select(
        F.translate("s_sp", " ", "_").alias("entity")
    ).unionByName(base.select(F.translate("o_sp", " ", "_").alias("entity"))).distinct()
    r2d = spark.createDataFrame(
        [(rel, "{} " + ph + " {}.") for rel, ph in _E2E_RELS],
        "p string, template string",
    )
    return docs, kb, r2d




@_register("kg_construct_e2e")
def kg_construct_e2e(spark, sf_dir):
    """Flagship: the FULL KG-construction pipeline (spans → mention
    detection → entity linking → visual gates → whitelist → grounding join
    → scoring → thresholds → per-triple top-K → canonical rewrite), driven
    end-to-end over an interleaved-doc corpus built deterministically from
    the driver's customer×nation tables, in hash_mode='md5' so the DuckDB
    oracle replicates every gate and score exactly.  Returns kg_groundings.

    The synth-corpus pipeline path stays covered by __spark_entry__.entry()
    (driver smoke) and tests/test_pipeline_e2e.py (independent pandas
    oracle)."""
    import tempfile

    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline

    docs, kb, r2d = _e2e_inputs(spark, sf_dir)
    store = TableStore(tempfile.mkdtemp(prefix="imgfact_e2e_"))
    res = run_pipeline(
        spark, docs, r2d, kb, store,
        PipelineConfig(
            min_evidence=1, vcc_threshold=0.02, relation_min_total=0,
            relation_min_count=0, checkpoint="final",
            hash_mode="md5",
        ),
        input_fingerprint="e2e:driver:400",
    )
    return res.kg_groundings.select(
        "s", "p", "o", "media_ref", "doc_id", "score", "rank", "subset"
    )




ORACLES["kg_construct_e2e"] = _e2e_oracle_sql()




def _e2e_triples_oracle_sql() -> str:
    """kg_triples-level oracle over the same driver-table corpus: triples =
    candidates surviving the vcc entity gate, n_docs = distinct doc count
    (whitelist gates are zeroed in the query config, so they pass all)."""
    vcc = _MD5U.format(expr="'vcc|' || e")
    case_p = (
        "CASE CAST(c_custkey % 3 AS INT) "
        + " ".join(
            f"WHEN {i} THEN '{rel}'" for i, (rel, _) in enumerate(_E2E_RELS[:2])
        )
        + f" ELSE '{_E2E_RELS[2][0]}' END"
    )
    return f"""
    WITH base AS (
      SELECT 'd' || c_custkey AS doc_id,
             'cust_' || (c_custkey % 97) AS s,
             {case_p} AS p,
             'nat_' || n_nationkey AS o
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey <= 400
    ),
    ents AS (SELECT DISTINCT s AS e FROM base
             UNION SELECT DISTINCT o AS e FROM base),
    vcc AS (SELECT e FROM ents WHERE {vcc} >= 0.02)
    SELECT s, p, o, COUNT(DISTINCT doc_id) AS n_docs
    FROM base
    WHERE s IN (SELECT e FROM vcc) AND o IN (SELECT e FROM vcc)
    GROUP BY s, p, o
    """




@_register("kg_construct_triples")
def kg_construct_triples(spark, sf_dir):
    """The kg_triples product of the same md5-mode pipeline run as
    kg_construct_e2e — certifies the canonical-rewrite + distinct-doc
    aggregation layer (subset tag projected out: its hash is
    engine-internal xxhash by design)."""
    import tempfile

    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline

    docs, kb, r2d = _e2e_inputs(spark, sf_dir)
    store = TableStore(tempfile.mkdtemp(prefix="imgfact_e2e_t_"))
    res = run_pipeline(
        spark, docs, r2d, kb, store,
        PipelineConfig(
            min_evidence=1, vcc_threshold=0.02, relation_min_total=0,
            relation_min_count=0, checkpoint="final",
            hash_mode="md5",
        ),
        input_fingerprint="e2e:driver:400",
    )
    return res.kg_triples.select("s", "p", "o", "n_docs")




ORACLES["kg_construct_triples"] = _e2e_triples_oracle_sql()




# =========================================================================
# Read API (§3.2), streaming-equivalent windows, multimodal, clustering
# =========================================================================


@_register(
    "api_retrieve_by_relation",
    """
    SELECT CAST(user_id AS VARCHAR) AS s, event_type AS p,
           CAST(user_id % 100 AS VARCHAR) AS o,
           CAST(event_id AS VARCHAR) AS media_ref
    FROM events WHERE event_type = 'click'
    """,
)
def api_retrieve_by_relation(spark, sf_dir):
    """ImgFactDataset.retrieve_img_from_relation (imgfact.py:84-97) over a
    groundings view derived from events."""
    from imgfact_spark.api import ImgFactDataset

    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        F.col("user_id").cast("string").alias("s"),
        F.col("event_type").alias("p"),
        (F.col("user_id") % 100).cast("string").alias("o"),
        F.col("event_id").cast("string").alias("media_ref"),
    )
    return ImgFactDataset(g).retrieve_img_from_relation("click")




@_register(
    "api_entity_vocab",
    """
    SELECT CAST(user_id AS VARCHAR) AS entity FROM events
    UNION
    SELECT CAST(user_id % 100 AS VARCHAR) AS entity FROM events
    """,
)
def api_entity_vocab(spark, sf_dir):
    """ImgFactDataset.load_entities (imgfact.py:49-55)."""
    from imgfact_spark.api import ImgFactDataset

    ev = _t(spark, sf_dir, "events")
    g = ev.select(
        F.col("user_id").cast("string").alias("s"),
        F.col("event_type").alias("p"),
        (F.col("user_id") % 100).cast("string").alias("o"),
        F.col("event_id").cast("string").alias("media_ref"),
    )
    return ImgFactDataset(g).load_entities()




@_register(
    "mm_frame_sample",
    """
    SELECT media_ref, frame_no FROM (
      SELECT CAST(doc_id AS VARCHAR) AS media_ref,
             UNNEST(range(0, CAST(1 + n_chars % 7 AS INT))) AS frame_no
      FROM documents
    ) WHERE frame_no % 2 = 0
    """,
)
def mm_frame_sample(spark, sf_dir):
    """Multimodal frame sampling (multimodal.sample_frames) — explode frame
    indexes, keep every n-th; frame counts derived from the documents table."""
    from imgfact_spark.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").cast("string").alias("media_ref"),
        F.lit("video").alias("kind"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            (1 + F.col("n_chars") % 7).cast("int").alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ).alias("meta"),
    )
    return sample_frames(media, every_n=2).select("media_ref", "frame_no")




@_register(
    "mm_extract_features",
    """
    WITH m AS (
      SELECT CAST(doc_id AS VARCHAR) AS media_ref,
             repeat(md5(CAST(doc_id AS VARCHAR)), 8) AS ph
      FROM documents WHERE doc_id < 200
    ),
    dec AS (  -- _stub_decode: np.resize cycles 128 payload bytes to 192
      SELECT media_ref, ph || substr(ph, 1, 128) AS dh FROM m
    ),
    f AS (SELECT media_ref, dh, UNNEST(range(0, 16)) AS j FROM dec),
    k AS (
      SELECT media_ref, j,
             ('0x' || substr(md5(dh || '|' || CAST(j AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS kv
      FROM f
    )
    SELECT media_ref,
           CAST(SUM(kv) AS BIGINT) AS feat_checksum,
           CAST(SUM(CASE WHEN j = 0 THEN kv END) AS BIGINT)
             / CAST(1000000 AS DOUBLE) AS feat0
    FROM k GROUP BY media_ref
    """,
)
def mm_extract_features(spark, sf_dir):
    """Multimodal binary decode + feature extraction (M5, cluster.py:41-48):
    binary payloads → mapInPandas decode → per-item feature vector.  The
    hash-mode extractor makes the FULL plumbing value-hash certifiable: the
    payload is md5-derived bytes (synth_media payload_mode='md5'), the stub
    decode tiles them to 8×8×3 exactly like the float path, and feature j is
    the md5-prefix unit score of (decoded_hex, j) — DuckDB replays payload
    synthesis, the decode byte-cycling AND the per-dim features, so the
    Arrow batch boundary and byte handling are checked end to end, not just
    row counts.  feat_checksum sums the integer feature numerators (exact);
    feat0 exposes one raw feature value."""
    from imgfact_spark.multimodal import extract_features, synth_media

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    refs = d.select(F.col("doc_id").cast("string").alias("media_ref"))
    media = synth_media(spark, refs, payload_bytes=128, payload_mode="md5")
    feats = extract_features(media, dim=16, hash_mode="md5")
    return feats.select(
        "media_ref",
        F.aggregate(
            F.transform("features", lambda x: F.round(x * 1e6).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("feat_checksum"),
        F.try_element_at("features", F.lit(1)).alias("feat0"),
    )




_M2U = (
    "((('0x' || substr(md5({expr}), 1, 15))::BIGINT % 1000000)"
    " / CAST(1000000 AS DOUBLE))"
)




@_register(
    "m2_checkpoint_scoring",
    f"""
    WITH gc AS (
      SELECT 'c' || CAST(l_orderkey % 97 AS VARCHAR) AS s,
             'rel' || CAST(l_linenumber AS VARCHAR) AS p,
             'p' || CAST(l_partkey % 89 AS VARCHAR) AS o,
             'img/' || CAST(l_orderkey AS VARCHAR) || '/'
               || CAST(l_linenumber AS VARCHAR) AS media_ref
      FROM lineitem WHERE l_orderkey <= 2000
    ),
    scored AS (
      SELECT s, p, o, media_ref,
             CAST(0.20 AS DOUBLE) + CAST(0.80 AS DOUBLE)
               * {_M2U.format(expr="'pair|' || s || '|' || p || '|' || o || '|' || media_ref")} AS score,
             CAST(0.75 AS DOUBLE) + CAST(0.25 AS DOUBLE)
               * {_M2U.format(expr="'ent|' || s || '|' || media_ref")} AS score_s,
             CAST(0.75 AS DOUBLE) + CAST(0.25 AS DOUBLE)
               * {_M2U.format(expr="'ent|' || o || '|' || media_ref")} AS score_o
      FROM gc
    )
    SELECT s, p, o, media_ref, score, score_s, score_o
    FROM scored
    WHERE score > 0.4 AND score_s >= 0.87 AND score_o >= 0.87
    """,
)
def m2_checkpoint_scoring(spark, sf_dir):
    """M2/M3 grounding scorers served from an executor-loaded checkpoint
    (pipeline/model_serving.py): the scorer weights are deserialized ONCE
    per partition inside an iterator pandas UDF and then score every Arrow
    batch — the contract real CLIP weights use (reference inference.py:
    160-176, ptuningfilter.py:33-47: load_state_dict per worker, batched
    forward).  The md5-mode checkpoint computes the cross-engine
    deterministic score, so the ENTIRE serving path — checkpoint file →
    per-partition load → batch scoring → P5∧P6 threshold intersection — is
    value-hash certified against DuckDB, not just row-counted."""
    from imgfact_spark.pipeline.grounding import filter_groundings
    from imgfact_spark.pipeline.model_serving import (
        default_checkpoint_path,
        score_groundings_checkpoint,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    gc = li.select(
        F.concat(F.lit("c"), F.pmod(F.col("l_orderkey"), F.lit(97)).cast("string")).alias("s"),
        F.concat(F.lit("rel"), F.col("l_linenumber").cast("string")).alias("p"),
        F.concat(F.lit("p"), F.pmod(F.col("l_partkey"), F.lit(89)).cast("string")).alias("o"),
        F.concat_ws(
            "/",
            F.lit("img"),
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("media_ref"),
    )
    scored = score_groundings_checkpoint(gc, default_checkpoint_path("md5"))
    return filter_groundings(scored).select(
        "s", "p", "o", "media_ref", "score", "score_s", "score_o"
    )




@_register(
    "m1_checkpoint_gate",
    f"""
    WITH media AS (
      SELECT 'c' || CAST(l_orderkey % 97 AS VARCHAR) AS media_s,
             'p' || CAST(l_partkey % 89 AS VARCHAR) AS media_o,
             'img/' || CAST(l_orderkey AS VARCHAR) || '/'
               || CAST(l_linenumber AS VARCHAR) AS media_ref
      FROM lineitem WHERE l_orderkey <= 3000
    ),
    cred AS (
      SELECT media_s AS entity, media_ref FROM media
      UNION ALL
      SELECT media_o AS entity, media_ref FROM media
    ),
    ev AS (
      SELECT entity, CAST(COUNT(DISTINCT media_ref) AS BIGINT) AS n_media
      FROM cred GROUP BY entity
    ),
    scored AS (
      SELECT entity, n_media,
             {_M2U.format(expr="'vcc|' || entity")} AS vcc_score
      FROM ev WHERE n_media >= 5
    )
    SELECT entity, n_media, vcc_score FROM scored WHERE vcc_score >= 0.05
    """,
)
def m1_checkpoint_gate(spark, sf_dir):
    """M1 VCC visual-entity classifier served from an executor-loaded
    checkpoint (pipeline/entity_filter.visual_entities_checkpoint →
    model_serving.score_entities_checkpoint): the classifier weights
    deserialize ONCE per partition in an iterator pandas UDF, then gate
    every Arrow batch of evidence-qualified entities — the reference's
    per-DataLoader-worker contract (inference.py:83-119, 160-176).  The
    md5-mode checkpoint is bit-identical to the deterministic stand-in
    (visual_entities hash_mode='md5', parity test), so the WHOLE serving
    path — evidence salted-agg → per-partition load → batch scoring →
    dual gate — is value-hash certified against DuckDB."""
    from imgfact_spark.pipeline.entity_filter import visual_entities_checkpoint
    from imgfact_spark.pipeline.model_serving import default_vcc_checkpoint_path

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 3000)
    media = li.select(
        F.concat(F.lit("c"), F.pmod(F.col("l_orderkey"), F.lit(97)).cast("string")).alias("media_s"),
        F.concat(F.lit("p"), F.pmod(F.col("l_partkey"), F.lit(89)).cast("string")).alias("media_o"),
        F.concat_ws(
            "/",
            F.lit("img"),
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("media_ref"),
    )
    return visual_entities_checkpoint(
        media, default_vcc_checkpoint_path("md5"), min_evidence=5,
        vcc_threshold=0.05,
    )




@_register(
    "m4_checkpoint_ranking",
    f"""
    WITH c AS (
      SELECT l_orderkey,
             'c' || CAST(l_orderkey % 97 AS VARCHAR) AS s,
             'rel' || CAST(l_linenumber % 7 AS VARCHAR) AS p,
             'p' || CAST(l_partkey % 89 AS VARCHAR) AS o,
             'img/' || CAST(l_orderkey AS VARCHAR) || '/'
               || CAST(l_linenumber AS VARCHAR) AS media_ref,
             l_linenumber = 1 AS is_pos
      FROM lineitem WHERE l_orderkey <= 2000
    ),
    scored AS (
      SELECT l_orderkey, media_ref, is_pos,
             {_M2U.format(expr="'cp|' || s || '|' || p || '|' || o || '|' || media_ref")} AS cp_score
      FROM c
    ),
    ranked AS (
      SELECT l_orderkey, is_pos,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey ORDER BY cp_score DESC, media_ref
             ) AS rnk
      FROM scored
    )
    SELECT l_orderkey,
           CAST(MAX(CASE WHEN is_pos AND rnk <= 5 THEN 1 ELSE 0 END) AS INT)
             AS label_in_top5
    FROM ranked GROUP BY l_orderkey
    """,
)
def m4_checkpoint_ranking(spark, sf_dir):
    """M4 contrastive top-5 ranker served from an executor-loaded
    dual-encoder checkpoint (model_serving.score_candidates_checkpoint):
    every (triple-prompt, image) candidate is scored dot(CLS,CLS)-style by
    weights deserialized once per partition, then the W2 membership gate
    keeps groups whose positive candidate ranks in the top-5 — the
    reference's CPgen.py:332-380 scoring + :367-378 argsort gate.  md5-mode
    candidate scores are DuckDB-replayable, so scoring AND ranking are
    value-hash certified."""
    from imgfact_spark.pipeline.model_serving import (
        default_cp_checkpoint_path,
        score_candidates_checkpoint,
    )

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    cands = li.select(
        "l_orderkey",
        F.concat(F.lit("c"), F.pmod(F.col("l_orderkey"), F.lit(97)).cast("string")).alias("s"),
        F.concat(F.lit("rel"), F.pmod(F.col("l_linenumber"), F.lit(7)).cast("string")).alias("p"),
        F.concat(F.lit("p"), F.pmod(F.col("l_partkey"), F.lit(89)).cast("string")).alias("o"),
        F.concat_ws(
            "/",
            F.lit("img"),
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("media_ref"),
        (F.col("l_linenumber") == 1).alias("is_pos"),
    )
    scored = score_candidates_checkpoint(cands, default_cp_checkpoint_path("md5"))
    # W2 array-native membership gate: sort candidates desc by served
    # score (media_ref tiebreak), positive-in-top-5 keeps the group
    cmp = (
        "(l, r) -> CASE WHEN l.cp_score > r.cp_score THEN -1 "
        "WHEN l.cp_score < r.cp_score THEN 1 "
        "WHEN l.media_ref < r.media_ref THEN -1 "
        "WHEN l.media_ref > r.media_ref THEN 1 ELSE 0 END"
    )
    arr = (
        scored.groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("cp_score", "media_ref", "is_pos")).alias("cands"))
        .withColumn("top5", F.slice(F.expr(f"array_sort(cands, {cmp})"), 1, 5))
    )
    return arr.select(
        "l_orderkey",
        F.exists("top5", lambda x: x["is_pos"]).cast("int").alias("label_in_top5"),
    )




@_register(
    "m6_cluster_representatives",
    """
    WITH RECURSIVE e AS (
      SELECT vec_id, 'label_' || label AS p, CAST(vec_id AS VARCHAR) AS media_ref,
             (vec_id % 100) / CAST(100 AS DOUBLE) AS score,
             embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id < 200
    ),
    nodes AS (
      SELECT p, media_ref, score, v,
             ROW_NUMBER() OVER (PARTITION BY p ORDER BY score DESC, media_ref) - 1 AS pos
      FROM e
    ),
    edges AS (
      SELECT a.p, a.pos AS i, b.pos AS j
      FROM nodes a JOIN nodes b ON a.p = b.p
      WHERE 1 - list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) <= 0.35
    ),
    r(p, node, lbl) AS (
      SELECT p, i, i FROM edges WHERE i = j
      UNION
      SELECT ed.p, ed.j, r.lbl
      FROM r JOIN edges ed ON ed.p = r.p AND ed.i = r.node
    ),
    reach AS (
      SELECT p, node, MIN(lbl) AS lbl FROM r GROUP BY p, node
    ),
    labels AS (
      SELECT n.p, n.media_ref, n.score, n.pos, rc.lbl AS cluster_id
      FROM nodes n JOIN reach rc ON rc.p = n.p AND rc.node = n.pos
    ),
    sizes AS (
      SELECT p, cluster_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY p, cluster_id
    ),
    gstats AS (
      SELECT p, COUNT(DISTINCT cluster_id) AS n_clusters, COUNT(*) AS n_cnt
      FROM labels GROUP BY p
    )
    SELECT 'E' AS s, l.p, 'corpus' AS o, l.media_ref, l.score,
           CAST(l.cluster_id AS INT) AS cluster_id,
           CAST(z.cluster_size AS INT) AS cluster_size,
           CAST(g.n_clusters AS INT) AS n_clusters,
           CAST(g.n_cnt - g.n_clusters AS INT) AS n_deleted
    FROM labels l
    JOIN sizes z ON z.p = l.p AND z.cluster_id = l.cluster_id
    JOIN gstats g ON g.p = l.p
    WHERE l.pos = l.cluster_id
    """,
)
def m6_cluster_representatives(spark, sf_dir):
    """Per-group DBSCAN representative selection (cluster.py:84-129) via
    applyInPandas over embedding groups.  The oracle recomputes
    DBSCAN(min_samples=1) as connected components of the eps-graph with a
    recursive CTE (adjacency = cosine distance ≤ eps over the double-cast
    vectors).  Silhouette is excluded here (numpy's pairwise summation is
    not bitwise-reproducible in SQL) — it stays pinned by the independent
    numpy oracle in tests/test_api_multimodal_clustering.py."""
    from imgfact_spark.operators.clustering import cluster_representatives

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    g = e.select(
        F.lit("E").alias("s"),
        F.concat(F.lit("label_"), F.col("label").cast("string")).alias("p"),
        F.lit("corpus").alias("o"),
        F.col("vec_id").cast("string").alias("media_ref"),
        (F.col("vec_id") % 100 / 100.0).alias("score"),
    )
    f = e.select(
        F.col("vec_id").cast("string").alias("media_ref"),
        F.col("embedding").alias("features"),
    )
    return cluster_representatives(g, f, eps=0.35).drop("silhouette")




@_register(
    "j9_messy_swap",
    """
    WITH base AS (
      SELECT CAST(event_id AS VARCHAR) AS img_path,
             CAST(user_id % 4 AS INT) AS cluster_id,
             event_id,
             md5(concat_ws(chr(31), '998244353', CAST(event_id AS VARCHAR))) AS h
      FROM events WHERE event_id < 2000
    ),
    ext AS (
      SELECT *, 0 AS g FROM base
      UNION ALL
      SELECT *, 1 AS g
      FROM (SELECT * FROM base ORDER BY h, img_path, cluster_id LIMIT 32)
    ),
    wn AS (
      SELECT *,
             list(struct_pack(cl := cluster_id, im := img_path))
               OVER (ORDER BY g, h, img_path, cluster_id
                     ROWS BETWEEN 1 FOLLOWING AND 32 FOLLOWING) AS cands
      FROM ext
    )
    SELECT coalesce(list_filter(cands, x -> x.cl <> cluster_id)[1].im,
                    img_path) AS img_path,
           cluster_id, event_id, img_path AS img_path_orig
    FROM wn WHERE g = 0
    """,
)
def j9_messy_swap(spark, sf_dir):
    """J9+O6: cluster-aware deterministic image swap
    (messy_prepare_data.py:54-73).

    The oracle computes the single global cyclic window form; the operator
    computes the identical answer via hash-range buckets + head exchange
    (no single-partition window).  ``target_bucket_rows=256`` forces the
    multi-bucket path even at sf0.01 so the driver certifies the
    distributed construction, not the degenerate B=1 case.
    """
    from imgfact_spark.operators.messy_swap import messy_swap

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    df = ev.select(
        F.col("event_id").cast("string").alias("img_path"),
        F.pmod(F.col("user_id"), F.lit(4)).cast("int").alias("cluster_id"),
        "event_id",
    )
    return messy_swap(df, key_cols=["event_id"], target_bucket_rows=256)




@_register(
    "w2_top5_membership",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber, MAX(l_extendedprice) AS price
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    ), ranked AS (
      SELECT l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY price DESC, l_linenumber) AS rnk
      FROM base
    )
    SELECT l_orderkey,
           CAST(MAX(CASE WHEN l_linenumber = 1 AND rnk <= 5 THEN 1 ELSE 0 END) AS INT) AS label_in_top5
    FROM ranked GROUP BY l_orderkey
    """,
)
def w2_top5_membership(spark, sf_dir):
    """W2: keep group iff the positive candidate ranks in the top-5
    (CPgen.py:367-378 argsort gate) — expressed array-native per SURVEY
    §2.5: sort the struct array desc, slice 5, exists."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.max("l_extendedprice").alias("price"))
    )
    # explicit comparator: price desc, linenumber asc (ties must break the
    # same way as the SQL oracle's ORDER BY price DESC, l_linenumber)
    cmp = (
        "(l, r) -> CASE WHEN l.price > r.price THEN -1 "
        "WHEN l.price < r.price THEN 1 "
        "WHEN l.l_linenumber < r.l_linenumber THEN -1 "
        "WHEN l.l_linenumber > r.l_linenumber THEN 1 ELSE 0 END"
    )
    arr = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list(F.struct("price", "l_linenumber")).alias("cands"))
        .withColumn("sorted", F.expr(f"array_sort(cands, {cmp})"))
        .withColumn("top5", F.slice("sorted", 1, 5))
    )
    return arr.select(
        "l_orderkey",
        F.exists("top5", lambda x: x["l_linenumber"] == 1)
        .cast("int")
        .alias("label_in_top5"),
    )




@_register(
    "a2_group_collect_scored",
    """
    SELECT l_orderkey,
           COUNT(*) AS n_items,
           STRING_AGG(
               l_linenumber || ':' || CAST(FLOOR(l_extendedprice * 100) AS BIGINT),
               ',' ORDER BY l_linenumber, FLOOR(l_extendedprice * 100)
           ) AS items_str
    FROM lineitem WHERE l_orderkey <= 500
    GROUP BY l_orderkey
    """,
)
def a2_group_collect_scored(spark, sf_dir):
    """A2: group-collect of scored items per key with deterministic
    ordering (ptuningfilter.py:49-60 resdic) — array_sort(collect_list).

    The collected list is serialized to a flat string (``lineno:cents``
    joined by commas): the round-1 driver canonicalizer cannot hash nested
    ``array<struct>`` cells, and integer cents (floor(price*100), identical
    IEEE ops on both engines) dodge float-repr divergence between Spark's
    Java ``Double.toString`` and DuckDB's shortest-round-trip formatting.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("l_linenumber", "cents"))
            ).alias("items")
        )
        .select(
            "l_orderkey",
            F.size("items").alias("n_items"),
            F.array_join(
                F.transform(
                    "items",
                    lambda x: F.concat_ws(
                        ":",
                        x["l_linenumber"].cast("string"),
                        x["cents"].cast("string"),
                    ),
                ),
                ",",
            ).alias("items_str"),
        )
    )




@_register("ref_fixture_triple_pr")  # rows-only: emits the headline P/R metric
def ref_fixture_triple_pr(spark, sf_dir):
    """BASELINE metric, computed live: plant the reference's own grounding
    fixtures (eval_and_app/data.source ↔ data.prefix, 12,005 rows) into
    interleaved documents via its rel2desc templates, run the full pipeline,
    emit one row with triple precision/recall vs the fixture's triple set
    (canonical entity space — del_bar + underscore normalization applied to
    both sides, ptuning.py:88-106 / filter_tuples.py:37).

    Measured: precision = recall = 1.0 over 4,779 distinct fixture triples.
    """
    import os
    import tempfile

    from imgfact_spark.functions.text import canonical_entity
    from imgfact_spark.io import TableStore
    from imgfact_spark.pipeline.runner import PipelineConfig, run_pipeline
    from imgfact_spark.sources import read_aligned_source_prefix, read_rel2desc
    from imgfact_spark.synth import DOC_SCHEMA

    REF = "/root/reference/eval_and_app"
    if not os.path.isdir(REF):
        return spark.createDataFrame(
            [("reference_absent", -1.0, -1.0, 0)],
            "status string, precision double, recall double, n_triples int",
        )
    aligned = read_aligned_source_prefix(
        spark, f"{REF}/data.source", f"{REF}/data.prefix"
    )
    r2d = read_rel2desc(spark, f"{REF}/rel2desc.txt").select(
        "p", F.col("label").alias("template"), "label"
    )
    templates = {r["p"]: r["template"] for r in r2d.collect()}
    by_triple: dict[tuple, list] = {}
    for r in aligned.collect():
        by_triple.setdefault((r["s"], r["p"], r["o"]), []).append(r["img_path"])
    docs = []
    for i, ((s, p, o), imgs) in enumerate(sorted(by_triple.items())):
        sent = templates[p].format(s.replace("_", " "), o.replace("_", " "))
        spans = [{"kind": "text", "text": sent, "media_ref": None, "offset": 0}]
        off = len(sent) + 1
        for img in imgs:
            spans.append(
                {"kind": "media", "text": None, "media_ref": f"img://{img}", "offset": off}
            )
            off += 1
        docs.append((f"fix_{i:06d}", spans))
    docs_df = spark.createDataFrame(docs, DOC_SCHEMA)
    ents = (
        aligned.selectExpr("s as entity")
        .union(aligned.selectExpr("o as entity"))
        .distinct()
    )
    store = TableStore(tempfile.mkdtemp(prefix="refpr_"))
    res = run_pipeline(
        spark, docs_df, r2d, ents, store,
        PipelineConfig(min_evidence=1, vcc_threshold=0.0, checkpoint="final"),
        input_fingerprint="fixture:full",
    )
    want_df = (
        aligned.select(
            canonical_entity("s").alias("s"), "p", canonical_entity("o").alias("o")
        ).distinct()
    )
    got_df = res.kg_triples.select("s", "p", "o")
    n_want = want_df.count()
    n_got = got_df.count()
    tp = got_df.intersect(want_df).count()
    return spark.createDataFrame(
        [
            (
                "ok",
                round(tp / n_got, 6) if n_got else 0.0,
                round(tp / n_want, 6) if n_want else 0.0,
                n_want,
            )
        ],
        "status string, precision double, recall double, n_triples int",
    )




@_register(
    "ep_masked_inputs",
    """
    SELECT event_id AS line_no,
           CAST(user_id AS VARCHAR) AS s,
           event_type AS p,
           CAST(user_id % 100 AS VARCHAR) AS o,
           CAST(event_id AS VARCHAR) AS img_path,
           CAST(user_id AS VARCHAR) || ' did ' || event_type || ' on [MASK].' AS input_text,
           CAST(user_id % 100 AS VARCHAR) AS label_entity
    FROM events WHERE event_id < 3000
    """,
)
def ep_masked_inputs(spark, sf_dir):
    """Eval-prep masked-input generation (prepare_data.py:62-75, P13/J6):
    per-relation two-slot templates split into pre/mid/post Column algebra,
    predicted slot masked (evalprep.masked_inputs)."""
    from imgfact_spark import evalprep

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    pairs = ev.select(
        F.col("event_id").alias("line_no"),
        F.col("user_id").cast("string").alias("s"),
        F.col("event_type").alias("p"),
        (F.col("user_id") % 100).cast("string").alias("o"),
        F.col("event_id").cast("string").alias("img_path"),
    )
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    r2d = spark.createDataFrame(
        [(t, "{}" + f" did {t} on " + "{}.") for t in sorted(types)],
        "p string, template string",
    )
    return evalprep.masked_inputs(pairs, r2d, predict="o")




_SPLIT_T1 = format(int(0.7 * 16**15), "015x")


_SPLIT_T2 = format(int((0.7 + 0.15) * 16**15), "015x")




@_register(
    "ep_split_sets_sizes",
    f"""
    WITH pairs AS (
      SELECT CAST(user_id AS VARCHAR) AS s, event_type AS p,
             CAST(user_id % 100 AS VARCHAR) AS o,
             CAST(event_id AS VARCHAR) AS img_path
      FROM events WHERE event_id < 5000
    ),
    tagged AS (
      SELECT CASE
               WHEN substr(md5(concat_ws(chr(31), '42', s, p, o, img_path)), 1, 15)
                    < '{_SPLIT_T1}' THEN 'train'
               WHEN substr(md5(concat_ws(chr(31), '42', s, p, o, img_path)), 1, 15)
                    < '{_SPLIT_T2}' THEN 'dev'
               ELSE 'test'
             END AS split
      FROM pairs
    )
    SELECT split, COUNT(*) AS n FROM tagged GROUP BY split
    """,
)
def ep_split_sets_sizes(spark, sf_dir):
    """Deterministic train/dev/test split (evalprep.split_sets) — emits the
    per-split sizes (disjoint + covering asserted in tests/test_evalprep.py).
    The split key is an md5 hex prefix vs weight-threshold hex strings, so
    the DuckDB oracle reproduces the exact membership, not just the rows."""
    from functools import reduce

    from imgfact_spark import evalprep

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    pairs = ev.select(
        F.col("event_id").alias("line_no"),
        F.col("user_id").cast("string").alias("s"),
        F.col("event_type").alias("p"),
        (F.col("user_id") % 100).cast("string").alias("o"),
        F.col("event_id").cast("string").alias("img_path"),
    )
    sets = evalprep.split_sets(pairs)
    parts = [
        v.groupBy().agg(F.count("*").alias("n")).select(F.lit(k).alias("split"), "n")
        for k, v in sets.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)




@_register(
    "x_multiway_join_rollup",
    """
    SELECT r_name AS region, n_name AS nation,
           COUNT(DISTINCT c.c_custkey) AS n_customers,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
)
def x_multiway_join_rollup(spark, sf_dir):
    """Five-table star join + aggregate (Catalyst join reordering +
    broadcast of the small dims; the engine-completeness analogue of the
    reference's multi-file dict-chained lookups).  Revenue summed in
    DECIMAL: decimal addition is exact and order-independent, so parallel
    sum order cannot flip a float ulp across engines."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("*").alias("n_lineitems"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )




@_register(
    "r_select_results",
    """
    WITH s AS (SELECT DISTINCT o_orderpriority AS settings FROM orders),
    grid AS (
      SELECT settings, model, sub_task FROM s
      CROSS JOIN (SELECT UNNEST(['text', 'naive', 'vilt']) AS model)
      CROSS JOIN (SELECT UNNEST(['messy', 'p', 'o', 'spo']) AS sub_task)
    ),
    mm AS (
      SELECT 'predict_s' AS task, settings, model, sub_task,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|hit1'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS hit1,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|hit5'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS hit5,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|mrr'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS mrr,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|mr'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS mr,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|f1'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS f1,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|rec'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS rec,
             ((('0x' || substr(md5('rm|' || settings || '|' || model || '|' || sub_task || '|prec'), 1, 15))::BIGINT % 1000000) / CAST(1000000 AS DOUBLE)) AS prec
      FROM grid
    ),
    text_spo AS (SELECT * FROM mm WHERE model = 'text' AND sub_task = 'spo'),
    chk AS (
      SELECT x.settings,
             CASE WHEN CAST(x.hit1 < y.hit1 AS INT) + CAST(x.hit5 < y.hit5 AS INT)
                       + CAST(x.mrr < y.mrr AS INT) + CAST(x.mr > y.mr AS INT) >= 2
                  THEN 1 ELSE 0 END AS passed
      FROM mm x JOIN text_spo y ON x.settings = y.settings
      WHERE x.model IN ('naive', 'vilt') AND x.sub_task = 'messy'
      UNION ALL
      SELECT x.settings,
             CASE WHEN CAST(x.hit1 < y.hit1 AS INT) + CAST(x.hit5 < y.hit5 AS INT)
                       + CAST(x.mrr < y.mrr AS INT) + CAST(x.mr > y.mr AS INT) >= 2
                  THEN 1 ELSE 0 END AS passed
      FROM text_spo x JOIN mm y ON x.settings = y.settings
      WHERE y.model IN ('naive', 'vilt') AND y.sub_task IN ('p', 'o')
      UNION ALL
      SELECT x.settings,
             CASE WHEN CAST(x.hit1 < y.hit1 AS INT) + CAST(x.hit5 < y.hit5 AS INT)
                       + CAST(x.mrr < y.mrr AS INT) + CAST(x.mr > y.mr AS INT) >= 2
                  THEN 1 ELSE 0 END AS passed
      FROM mm x JOIN mm y ON x.settings = y.settings AND x.model = y.model
                         AND y.sub_task = 'spo'
      WHERE x.model IN ('naive', 'vilt') AND x.sub_task IN ('p', 'o')
    ),
    good AS (
      SELECT settings, CAST(SUM(passed) AS BIGINT) AS good_metric
      FROM chk GROUP BY settings
    )
    SELECT mm.task, mm.settings, mm.model, mm.sub_task,
           hit1, hit5, mrr, mr, f1, rec, prec, good_metric
    FROM mm JOIN good ON mm.settings = good.settings
    WHERE good.good_metric >= 5
      AND ((mm.model = 'text' AND mm.sub_task = 'spo')
           OR mm.model IN ('naive', 'vilt'))
    """,
)
def r_select_results(spark, sf_dir):
    """Results collation + selection (result_v2.py:1-80): per-settings
    good_metric from the expected metric orderings (messy < text < entity
    < spo), selected rows emitted with the score attached.  The metrics
    substrate is a deterministic md5-kernel grid over the orders
    priorities × model × sub_task — both engines derive identical exact
    rationals, so every ordering comparison matches bitwise."""
    from imgfact_spark.functions.scoring import det_score_col
    from imgfact_spark.results import METRIC_COLS, select_results

    s = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("settings"))
        .distinct()
    )
    models = spark.createDataFrame(
        [("text",), ("naive",), ("vilt",)], "model string"
    )
    subs = spark.createDataFrame(
        [("messy",), ("p",), ("o",), ("spo",)], "sub_task string"
    )
    grid = s.crossJoin(F.broadcast(models)).crossJoin(F.broadcast(subs))
    metrics = grid.select(
        F.lit("predict_s").alias("task"),
        "settings",
        "model",
        "sub_task",
        *[
            det_score_col(
                F.lit("rm"), "settings", "model", "sub_task", F.lit(name),
                hash_mode="md5",
            ).alias(name)
            for name in METRIC_COLS
        ],
    )
    return select_results(metrics, task="predict_s", threshold=5)

