"""Dedup operator tests with planted duplicates."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from imgfact_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_dup_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    shingle_df,
    simhash64,
    simhash_dup_pairs,
)

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "a completely different document about spark dataframes and shuffles",
    "knowledge graphs connect entities through typed relations and evidence",
    "vector embeddings enable approximate nearest neighbor retrieval at scale",
]


def _corpus(spark):
    rows = []
    i = 0
    for text in BASE:
        rows.append((i, text)); i += 1
        # exact dup
        rows.append((i, text)); i += 1
        # near dup: one word changed
        rows.append((i, text.replace("the", "that", 1))); i += 1
    # whitespace-variant dup of doc 0
    rows.append((i, "  " + BASE[0].replace(" ", "  ") + " ")); i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = _corpus(spark)
    kept = exact_dedup(df, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # exact dups (1,4,7,10) and the whitespace variant (12) collapse
    assert 1 not in ids and 4 not in ids and 7 not in ids and 10 not in ids
    assert 12 not in ids
    assert 0 in ids and 2 in ids  # near-dup SURVIVES exact dedup


def test_sliding_concat_matches_transform_slice_reference(spark):
    """The r7 linear-time gram builder (_sliding_concat, zip_with chain)
    must be VALUE-IDENTICAL to the reference transform+slice form it
    replaced — including the short-document tail grams produced by slice
    truncation — for every gram width in use (1, 2, 3, 5, 13).

    NULL text is the one documented divergence: ``_sliding_concat`` (and
    so ``_shingles``) yields NULL — no shingles — where the replaced form
    yielded ``[""]``; the NULL row pins that contract."""
    from imgfact_spark.functions.text import normalized_tokens
    from imgfact_spark.operators.dedup import _shingles, _sliding_concat

    edge = spark.createDataFrame(
        [
            (str(i), t)
            for i, t in enumerate(
                [
                    "", " ", "\t\n", "a", "a b", "a b c", "a  b\tc d",
                    "x " * 30, "one two three four five six",
                    "A B a b A B a", "  lead trail  ", None,
                ]
            )
        ],
        "doc_id string, text string",
    )
    text = edge.filter(F.col("text").isNotNull())
    for n in (1, 2, 3, 5, 13):
        toks = normalized_tokens("text")
        num = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
        ref = F.transform(
            F.sequence(F.lit(0), num - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
        new = _sliding_concat(toks, n, num)
        bad = (
            text.select(ref.alias("r"), new.alias("n"))
            .filter(
                F.col("r").isNull()
                | F.col("n").isNull()
                | (F.col("r") != F.col("n"))
            )
            .count()
        )
        assert bad == 0, f"gram builder diverges at n={n}"
        null = edge.filter(F.col("text").isNull()).select(
            new.alias("grams"), _shingles("text", n).alias("shingles")
        ).first()
        assert null["grams"] is None and null["shingles"] is None, n


def test_minhash_lsh_finds_near_dups(spark):
    df = _corpus(spark)
    sh = shingle_df(df, "text", "doc_id", n=2)
    sig = minhash_signature(sh, "doc_id", num_hashes=64)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_dup_pairs(sig, "doc_id", 16, 4).collect()
    }
    # every exact-dup pair collides in all bands
    for a, b in [(0, 1), (3, 4), (6, 7), (9, 10)]:
        assert (a, b) in pairs
    # near-dup (one-word change) shares most shingles → should collide too
    assert (0, 2) in pairs or (1, 2) in pairs


def test_minhash_dedup_end_to_end(spark):
    df = _corpus(spark)
    kept = minhash_dedup(df, "text", "doc_id", n=2)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # representatives only: min id of each near-dup component survives
    assert 0 in ids
    assert 1 not in ids
    assert len(ids) <= 8


def test_minhash_dedup_representative_is_native_min(spark):
    """Numeric ids 9 and 10 as near-dups: the representative must be the
    typed min (9), not the lexicographic-min string ('10' < '9')."""
    text = "the exact same duplicated sentence repeated for shingles again and again"
    df = spark.createDataFrame(
        [(9, text), (10, text), (50, "a completely different document about other things entirely")],
        "doc_id long, text string",
    )
    ids = sorted(r["doc_id"] for r in minhash_dedup(df, "text", "doc_id", n=2).collect())
    assert ids == [9, 50]


def test_simhash_hamming_pairs(spark):
    df = _corpus(spark)
    sim = simhash64(df, "text", "doc_id", n=1)
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    # identical text → identical simhash
    assert vals[0] == vals[1]
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_dup_pairs(sim, "doc_id", max_hamming=8).collect()
    }
    assert (0, 1) in pairs


def test_ngram_jaccard_verification(spark):
    df = _corpus(spark)
    cand = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, cand, "text", "doc_id", n=2, threshold=0.5).collect()
    }
    assert got[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in got and got[(0, 2)] < 1.0  # near dup
    assert (0, 3) not in got  # unrelated text filtered out


def test_ngram_topk_doc_frequency(spark):
    from imgfact_spark.operators.dedup import ngram_topk

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "the cat sat the cat sat"),  # dup bigrams count once per doc
            (4, "a dog"),
        ],
        "doc_id long, text string",
    )
    got = [(r["ngram"], r["n_docs"]) for r in ngram_topk(df, "text", "doc_id", n=2, k=3).collect()]
    assert got[0] == ("the cat", 3)
    assert ("cat sat", 2) in got


def test_contamination_check_ratios(spark):
    from imgfact_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "unrelated words entirely here")],
        "doc_id long, text string",
    )
    tests = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # fully contained
            (2, "zeta eta theta iota"),      # disjoint
            (3, "alpha beta gamma zeta"),    # 1 of 2 trigrams hit
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_contaminated"], r["contamination"])
        for r in contamination_check(corpus, tests, "text", "doc_id", n=3).collect()
    }
    assert got[1] == (2, 2, 1.0)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (2, 1, 0.5)


# --------------------------------------------------- duplicate-passage stats


def _brute_passage_cov(docs: dict[int, str], k: int = 5) -> dict[int, tuple[int, int]]:
    """Python twin: (n_tokens, dup_tokens) per doc via explicit interval union."""
    import re as _re

    toks = {d: _re.sub(r"\s+", " ", t.lower().strip()).split(" ") for d, t in docs.items()}
    gram_docs: dict[tuple, set] = {}
    for d, t in toks.items():
        for i in range(max(len(t) - k + 1, 0)):
            gram_docs.setdefault(tuple(t[i : i + k]), set()).add(d)
    out = {}
    for d, t in toks.items():
        covered = set()
        for i in range(max(len(t) - k + 1, 0)):
            if len(gram_docs[tuple(t[i : i + k])]) >= 2:
                covered.update(range(i, i + k))
        out[d] = (len(t), len(covered))
    return out


def test_duplicate_passage_stats_interval_union(spark):
    from imgfact_spark.operators.dedup import duplicate_passage_stats

    docs = {
        # A and B share a 7-token passage -> 3 duplicated 5-gram starts each,
        # whose union must count 7 tokens, not 15
        1: "alpha beta gamma delta epsilon zeta eta one two three",
        2: "x1 x2 alpha beta gamma delta epsilon zeta eta x3",
        # internal repetition only: the 5-gram repeats WITHIN one doc but in
        # no other doc -> countDistinct rule says not duplicated
        3: "rep rep rep rep rep rep rep rep",
        # shorter than k -> zero grams, zero coverage
        4: "tiny doc",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    for hash_mode in ("xxhash64", "md5"):
        got = {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_ratio"])
            for r in duplicate_passage_stats(
                df, "text", "doc_id", k=5, min_df=2, hash_mode=hash_mode
            ).collect()
        }
        want = _brute_passage_cov(docs, k=5)
        assert {d: v[:2] for d, v in got.items()} == want
        assert got[1] == (10, 7, 0.7)
        assert got[2] == (10, 7, 0.7)
        assert got[3][1] == 0
        assert got[4] == (2, 0, 0.0)


def test_duplicate_passage_stats_matches_brute_on_messy_corpus(spark):
    """Randomized-ish corpus (deterministic construction) vs the python twin."""
    from imgfact_spark.operators.dedup import duplicate_passage_stats

    words = ["w%d" % (i % 7) for i in range(11)]
    docs = {}
    for d in range(12):
        n = 5 + (d * 3) % 9
        docs[d] = " ".join(words[(d * 5 + j) % len(words)] for j in range(n))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in duplicate_passage_stats(df, "text", "doc_id", k=3).collect()
    }
    assert got == _brute_passage_cov(docs, k=3)


def _brute_strip(docs: dict[int, str], k: int = 5, min_df: int = 2):
    """Python twin of strip_duplicate_passages (canonical doc = min id)."""
    import re as _re

    toks = {d: _re.sub(r"\s+", " ", t.lower().strip()).split(" ") for d, t in docs.items()}
    gram_docs: dict[tuple, set] = {}
    for d, t in toks.items():
        for i in range(max(len(t) - k + 1, 0)):
            gram_docs.setdefault(tuple(t[i : i + k]), set()).add(d)
    out = {}
    for d, t in toks.items():
        removed = set()
        for i in range(max(len(t) - k + 1, 0)):
            g = gram_docs[tuple(t[i : i + k])]
            if len(g) >= min_df and d != min(g):
                removed.update(range(i, i + k))
        kept = [tok for j, tok in enumerate(t) if j not in removed]
        out[d] = (len(t), len(kept), " ".join(kept))
    return out


def test_strip_duplicate_passages_canonical_policy(spark):
    from imgfact_spark.operators.dedup import strip_duplicate_passages

    docs = {
        1: "alpha beta gamma delta epsilon zeta eta one two three",
        2: "x1 x2 alpha beta gamma delta epsilon zeta eta x3",
        3: "alpha beta gamma delta epsilon zeta eta one two three",  # full copy of 1
        4: "tiny doc",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    for hash_mode in ("xxhash64", "md5"):
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_kept_tokens"], r["cleaned_text"])
            for r in strip_duplicate_passages(
                df, "text", "doc_id", k=5, min_df=2, hash_mode=hash_mode
            ).collect()
        }
        assert got == _brute_strip(docs, k=5)
        # canonical doc keeps everything; the copy is emptied; B keeps its
        # unshared frame tokens
        assert got[1] == (10, 10, docs[1])
        assert got[2] == (10, 3, "x1 x2 x3")
        assert got[3] == (10, 0, "")
        assert got[4] == (2, 2, "tiny doc")


def test_strip_duplicate_passages_matches_brute_on_messy_corpus(spark):
    from imgfact_spark.operators.dedup import strip_duplicate_passages

    words = ["w%d" % (i % 7) for i in range(11)]
    docs = {}
    for d in range(12):
        n = 5 + (d * 3) % 9
        docs[d] = " ".join(words[(d * 5 + j) % len(words)] for j in range(n))
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_kept_tokens"], r["cleaned_text"])
        for r in strip_duplicate_passages(df, "text", "doc_id", k=3).collect()
    }
    assert got == _brute_strip(docs, k=3)


# --------------------------------------------------------------- winnowing


def _brute_winnow(docs, k=5, window=4):
    """Python twin: md5-36-bit gram hashes, rightmost-min-per-window."""
    import hashlib
    import re

    out = {}
    for did, text in docs.items():
        t = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        grams = [" ".join(t[i : i + k]) for i in range(len(t) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:9], 16) for g in grams]
        sel = set()
        n = len(hs)
        if n == 0:
            out[did] = sel
            continue
        for p in range(max(n - window + 1, 1)):
            frame = hs[p : p + window]
            m = min(frame)
            # rightmost occurrence of the min in the frame
            q = p + max(i for i, h in enumerate(frame) if h == m)
            sel.add((hs[q], q + 1))  # 1-based gram start
        out[did] = sel
    return out


WINNOW_DOCS = {
    1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2: "intro words alpha beta gamma delta epsilon zeta eta theta tail",
    3: "completely different content with no overlap at all here now",
    4: "tiny doc",  # < k tokens → no fingerprints
    5: "alpha beta gamma delta epsilon",  # exactly k tokens → 1 gram
    6: "alpha beta gamma delta epsilon zeta",  # 2 grams < window
}


def test_winnow_matches_python_twin(spark):
    from imgfact_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(WINNOW_DOCS.items()), "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df, "text", "doc_id", hash_mode="md5").collect():
        got.setdefault(r["doc_id"], set()).add((r["fp"], r["pos"]))
    want = _brute_winnow(WINNOW_DOCS)
    for did in WINNOW_DOCS:
        assert got.get(did, set()) == want[did], did


def test_winnow_guarantee_shared_span_shares_fingerprint(spark):
    """The winnowing guarantee: any duplicate span of >= k + window - 1
    tokens must produce at least one shared (fp) between the two docs."""
    from imgfact_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(WINNOW_DOCS.items()), "doc_id long, text string")
    rows = winnow_fingerprints(df, "text", "doc_id", hash_mode="md5").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # docs 1 and 2 share the 8-token span "alpha … theta" (k+window-1 = 8)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])


def test_winnow_dup_pairs_and_partitioning_invariance(spark):
    from imgfact_spark.operators.dedup import winnow_dup_pairs, winnow_fingerprints

    df = spark.createDataFrame(list(WINNOW_DOCS.items()), "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in winnow_dup_pairs(
            df, "text", "doc_id", min_shared=1, hash_mode="md5"
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs

    one = {
        (r["doc_id"], r["fp"], r["pos"])
        for r in winnow_fingerprints(
            df.coalesce(1), "text", "doc_id", hash_mode="md5"
        ).collect()
    }
    many = {
        (r["doc_id"], r["fp"], r["pos"])
        for r in winnow_fingerprints(
            df.repartition(7), "text", "doc_id", hash_mode="md5"
        ).collect()
    }
    assert one == many


def test_winnow_production_hash_mode_same_shape(spark):
    from imgfact_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(WINNOW_DOCS.items()), "doc_id long, text string")
    rows = winnow_fingerprints(df, "text", "doc_id").collect()  # xxhash64
    assert all(0 <= r["fp"] < (1 << 36) for r in rows)
    assert all(r["pos"] >= 1 for r in rows)
    # selection density: ~2/(window+1) of grams, never more than n_windows
    by_doc = {}
    for r in rows:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + 1
    assert 4 not in by_doc  # < k tokens emits nothing
    assert by_doc[1] >= 1  # long docs always select something


def test_dedup_corpus_end_to_end_action(spark):
    """dedup_corpus: each BASE cluster (original + exact dup + near dup +
    the doc-0 whitespace variant) collapses to its min-id representative;
    the four distinct BASE documents all survive with columns intact —
    and a python brute-force twin (all-pairs jaccard + transitive closure)
    agrees exactly on the production xxhash64 path."""
    from imgfact_spark.operators.dedup import dedup_corpus

    df = _corpus(spark).withColumn("extra", F.col("doc_id") * 10)
    kept = dedup_corpus(
        df, "text", "doc_id", n=3, num_hashes=64, bands=16, rows_per_band=4,
        jaccard_threshold=0.5,
    )
    rows = kept.collect()
    ids = sorted(r["doc_id"] for r in rows)
    # python twin: exact 3-gram jaccard >= 0.5 closure, min-id survivor —
    # LSH at 16x4 bands catches >=0.5-jaccard pairs on this tiny corpus
    import itertools as it

    texts = {r["doc_id"]: r["text"] for r in _corpus(spark).collect()}

    def grams(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    parent = {i: i for i in texts}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in it.combinations(sorted(texts), 2):
        ga, gb = grams(texts[a]), grams(texts[b])
        if ga and gb and len(ga & gb) / len(ga | gb) >= 0.5:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted(i for i in texts if find(i) == i)
    assert ids == want
    assert all(r["extra"] == r["doc_id"] * 10 for r in rows)  # columns intact
    # the canonical member of the doc-0 cluster is doc 0 itself
    assert 0 in ids and 1 not in ids
    # both shingle strategies (candidate-sliced verify vs checkpointed
    # corpus shingles) produce the identical kept set
    ids_ckpt = sorted(
        r["doc_id"]
        for r in dedup_corpus(
            df, "text", "doc_id", n=3, num_hashes=64, bands=16,
            rows_per_band=4, jaccard_threshold=0.5,
            shingle_strategy="checkpoint",
        ).collect()
    )
    assert ids_ckpt == want


def test_decontaminate_threshold_semantics(spark):
    """decontaminate: a verbatim benchmark copy always drops; a partial
    overlap drops only when its gram-overlap fraction exceeds max_overlap;
    clean docs always survive with columns intact."""
    from imgfact_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(0, "the exam question asks about the capital of france in autumn")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim copy: overlap 1.0 → dropped at every threshold
            (10, "the exam question asks about the capital of france in autumn"),
            # ~half the grams shared (prefix copied, suffix novel)
            (11, "the exam question asks about growing tomatoes on a balcony planter"),
            # clean document
            (12, "completely unrelated prose concerning spark shuffle internals"),
        ],
        "doc_id long, text string",
    ).withColumn("extra", F.col("doc_id") + 100)

    strict = decontaminate(corpus, bench, "text", "doc_id", n=3, max_overlap=0.0)
    assert sorted(r["doc_id"] for r in strict.collect()) == [12]

    loose = decontaminate(corpus, bench, "text", "doc_id", n=3, max_overlap=0.6)
    kept = {r["doc_id"]: r["extra"] for r in loose.collect()}
    assert sorted(kept) == [11, 12]  # partial overlap ≤ 60% survives
    assert kept[11] == 111  # columns preserved through the anti-join


def test_dedup_against_index_two_batches(spark):
    """dedup_against_index: batch-1 near-dups of the indexed corpus drop;
    a novel doc survives and its bands enter the updated index, so a
    batch-2 copy of it drops against THAT index — the CDC round trip.
    Within-batch collisions greedy-drop the larger id."""
    from imgfact_spark.operators.dedup import (
        dedup_against_index,
        minhash_band_table,
        minhash_signature,
        shingle_df,
    )

    corpus = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(BASE)], "doc_id long, text string"
    )
    sig = minhash_signature(
        shingle_df(corpus, "text", "doc_id", n=3), "doc_id", num_hashes=64
    )
    index = minhash_band_table(sig, "doc_id").localCheckpoint(eager=True)

    novel = "entirely new reporting about tidal energy turbines off the northern coast"
    batch1 = spark.createDataFrame(
        [
            (1, BASE[0]),                          # exact dup of indexed doc
            (2, BASE[1].replace("the", "that", 1)),  # near dup of indexed doc
            (3, novel),                            # novel → kept
            (4, novel + " again"),                 # near dup of 3 → dominated
        ],
        "doc_id long, text string",
    )
    res1 = dedup_against_index(batch1, index, "text", "doc_id")
    kept1, index2 = res1.kept, res1.updated_index
    assert sorted(r["doc_id"] for r in kept1.collect()) == [3]
    # the append delta holds exactly the kept doc's bands
    assert {r["doc_id"] for r in res1.kept_bands.collect()} == {3}
    # batch 2: a copy of the batch-1 novel doc must now collide with the
    # UPDATED index (its bands were appended), plus one fresh doc
    batch2 = spark.createDataFrame(
        [(10, novel), (11, "fresh unrelated text about alpine railway tunnels")],
        "doc_id long, text string",
    )
    kept2 = dedup_against_index(batch2, index2.localCheckpoint(eager=True),
                                "text", "doc_id").kept
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]
