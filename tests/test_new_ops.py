"""Unit tests for the round-3 training-pipeline operators: simhash
hamming near-dup join, group-quota sampling, banded time-range join."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.operators.dedup import (
    simhash,
    simhash_hamming_pairs,
)
from juniper_syslog_filter_spark.operators.rangejoin import prior_window_count
from juniper_syslog_filter_spark.operators.sampling import group_quota


# ---------------------------------------------------------------------------
# simhash_hamming_pairs
# ---------------------------------------------------------------------------


def test_simhash_identical_docs_pair_at_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zeta eta theta iota")],
        "doc_id long, text string",
    )
    out = simhash_hamming_pairs(df, "doc_id", "text").collect()
    got = {(r.id_a, r.id_b): r.hamming for r in out}
    assert got.get((1, 2)) == 0
    # the unrelated doc may or may not collide within 3 bits; it must
    # never pair at distance 0
    assert all(h > 0 for (a, b), h in got.items() if (a, b) != (1, 2))


def test_simhash_recall_guarantee_under_threshold(spark):
    """Pigeonhole recall: EVERY pair within hamming<=3 must be found.
    Brute-force the full pair set from the fingerprints themselves."""
    texts = [
        "spark window merge batch",
        "spark window merge batch join",
        "stream table agg small",
        "stream table agg small slow",
        "alpha beta gamma delta",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sigs = {
        r.doc_id: r.sh
        for r in df.select("doc_id", simhash(F.col("text"), 32).alias("sh")).collect()
    }
    expect = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b)
        for r in simhash_hamming_pairs(df, "doc_id", "text").collect()
    }
    assert got == expect


def test_simhash_bucket_cap_drops_degenerate_bucket(spark):
    # 30 identical docs: every (band, bucket) holds 30 rows; cap 10
    # drops them all -> no candidates survive
    df = spark.createDataFrame(
        [(i, "same text here") for i in range(30)], "doc_id long, text string"
    )
    assert simhash_hamming_pairs(df, "doc_id", "text", max_bucket=10).count() == 0
    assert simhash_hamming_pairs(df, "doc_id", "text", max_bucket=None).count() == (
        30 * 29
    ) // 2


# ---------------------------------------------------------------------------
# group_quota
# ---------------------------------------------------------------------------


def _quota_oracle(rows, k):
    by_g: dict = {}
    for g, i in rows:
        by_g.setdefault(g, []).append(i)
    keep = set()
    for g, ids in by_g.items():
        ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        keep.update((g, i, rk + 1) for rk, i in enumerate(ids[:k]))
    return keep


def test_group_quota_matches_oracle(spark):
    rows = [("a", i) for i in range(20)] + [("b", i) for i in range(100, 103)]
    df = spark.createDataFrame(rows, "grp string, rid long")
    out = group_quota(df, "grp", "rid", k=5).collect()
    got = {(r.grp, r.rid, r.rk) for r in out}
    assert got == _quota_oracle(rows, 5)
    # group 'b' is under quota: all 3 rows kept
    assert sum(1 for g, _, _ in got if g == "b") == 3


# ---------------------------------------------------------------------------
# prior_window_count
# ---------------------------------------------------------------------------


def test_prior_window_count_boundaries(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t0),                      # nothing before
        (2, t0 + 299 * s),            # sees 1 (299s ago, within 300)
        (3, t0 + 300 * s),            # 1 EXACTLY 300s ago -> included; sees 2
        (4, t0 + 301 * s),            # 1 is 301s ago -> excluded; sees 2,3
        (5, t0 + 301 * s),            # same ts as 4: ts<ts strict -> not mutual
        (6, t0 + 10_000 * s),         # isolated
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {
        r.event_id: r.n_prior
        for r in prior_window_count(df, "event_id", "ts", 300).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 2, 5: 2, 6: 0}


def test_prior_window_count_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(seconds=rng.randrange(0, 3600)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {
        r.event_id: r.n_prior
        for r in prior_window_count(df, "event_id", "ts", 120).collect()
    }
    w = dt.timedelta(seconds=120)
    expect = {
        i: sum(1 for _, t2 in rows if t2 >= t - w and t2 < t) for i, t in rows
    }
    assert got == expect


# ---------------------------------------------------------------------------
# train_val_split
# ---------------------------------------------------------------------------


def test_train_val_split_deterministic_and_lossless(spark):
    from juniper_syslog_filter_spark.operators.sampling import train_val_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = train_val_split(df, "doc_id")
    rows = {r.doc_id: r.split for r in out.collect()}
    assert len(rows) == 1000  # never drops or duplicates
    again = {r.doc_id: r.split for r in train_val_split(df, "doc_id").collect()}
    assert rows == again  # reproducible run-to-run
    # matches the spec: first 2 hex chars of md5("<id>:split:42")
    for i in (0, 1, 7, 999):
        hx = hashlib.md5(f"{i}:split:42".encode()).hexdigest()[:2]
        want = "test" if hx < "0d" else ("val" if hx < "1a" else "train")
        assert rows[i] == want
    # fractions near 13/256 each for test/val
    from collections import Counter

    c = Counter(rows.values())
    assert 20 <= c["test"] <= 90 and 20 <= c["val"] <= 90
    assert c["train"] > 800


def test_train_val_split_salt_changes_assignment(spark):
    from juniper_syslog_filter_spark.operators.sampling import train_val_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r.doc_id: r.split for r in train_val_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in train_val_split(df, "doc_id", salt="other").collect()
    }
    assert a != b


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------


def test_word_ngram_array_exact_and_short_doc(spark):
    from juniper_syslog_filter_spark.operators.contamination import (
        word_ngram_array,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b"), (3, "")], "id long, text string"
    )
    out = {
        r.id: r.g
        for r in df.select(
            "id", word_ngram_array(F.col("text"), 3).alias("g")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d", "c d e"]
    assert out[2] == []  # shorter than n -> empty, no error
    assert out[3] == []


def test_contaminated_docs_finds_verbatim_overlap(spark):
    from juniper_syslog_filter_spark.operators.contamination import (
        contaminated_docs,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "he saw the quick brown fox jumps"),  # shares both bench 4-grams
            (2, "the quick brown fox the quick brown fox"),  # repeats -> 1 distinct
            (3, "entirely different words here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_shared
        for r in contaminated_docs(corpus, bench, "doc_id", "text", n=4).collect()
    }
    assert got == {1: 2, 2: 1}


# ---------------------------------------------------------------------------
# quality rule cascade
# ---------------------------------------------------------------------------


def test_quality_rule_first_match_wins(spark):
    from juniper_syslog_filter_spark.functions.text import quality_rule_expr

    # 48 words, mean word length 26/6 ≈ 4.33 (inside the band), 'the' 1/6
    keep_words = ("table value parts the scan rows " * 8).strip()
    rows = [
        (1, "short doc", 9),  # too_short (word count dominates)
        (2, keep_words, 500),  # >= 40 words but n_chars > 450 -> too_long
        (3, ("supercalifragilistic " * 45).strip(), 400),  # long words -> word_len
        (4, keep_words, 300),  # passes all -> keep
    ]
    df = spark.createDataFrame(rows, "id long, text string, n_chars long")
    got = {
        r.id: r.rule
        for r in df.select(
            "id",
            quality_rule_expr(F.col("text"), F.col("n_chars")).alias("rule"),
        ).collect()
    }
    assert got == {1: "too_short", 2: "too_long", 3: "word_len", 4: "keep"}


# ---------------------------------------------------------------------------
# salted skew join (operators/skewjoin.py)
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join(spark):
    from juniper_syslog_filter_spark.operators.skewjoin import salted_join

    # one hot key (90% of rows) + a cold tail — the shape salting exists for
    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", i * 2) for i in range(200)],
        "row_id: long, k: string, v: long",
    )
    dim = spark.createDataFrame(
        [("hot", 1.5), ("cold", -2.0), ("orphan", 0.0)], "k: string, w: double"
    )
    got = salted_join(fact, dim, on="k", entropy_col="row_id", n_salts=4)
    want = fact.join(dim, "k")
    assert sorted(got.columns) == sorted(want.columns)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_left_keeps_unmatched(spark):
    from juniper_syslog_filter_spark.operators.skewjoin import salted_join

    fact = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "zz")], "row_id: long, k: string"
    )
    dim = spark.createDataFrame([("a", 10)], "k: string, w: int")
    got = salted_join(fact, dim, on="k", entropy_col="row_id", how="left")
    rows = {r["row_id"]: r["w"] for r in got.collect()}
    assert rows == {1: 10, 2: 10, 3: None}


def test_salted_join_deterministic_across_runs(spark):
    from juniper_syslog_filter_spark.operators.skewjoin import salted_join

    fact = spark.createDataFrame(
        [(i, "k") for i in range(50)], "row_id: long, k: string"
    )
    dim = spark.createDataFrame([("k", 7)], "k: string, w: int")
    a = salted_join(fact, dim, on="k", entropy_col="row_id", n_salts=8)
    b = salted_join(fact, dim, on="k", entropy_col="row_id", n_salts=8)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# repetition_exprs / word_bigrams
# ---------------------------------------------------------------------------


def test_repetition_exprs_hand_computed(spark):
    from juniper_syslog_filter_spark.functions.text import repetition_exprs

    df = spark.createDataFrame(
        [
            (1, "a b a b c"),   # words 5/uniq 3; bigrams [a b, b a, a b, b c] 4/uniq 3
            (2, "x"),            # single word: no bigrams -> frac 0.0
            (3, "p q r"),        # all unique
        ],
        "doc_id long, text string",
    )
    ex = repetition_exprs(F.col("text"))
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id", *[v.alias(k) for k, v in ex.items()]
        ).collect()
    }
    r1 = rows[1]
    assert (r1.n_words, r1.uniq_words, r1.n_bigrams, r1.uniq_bigrams) == (5, 3, 4, 3)
    assert r1.dup_word_frac == pytest.approx(0.4)
    assert r1.dup_bigram_frac == pytest.approx(0.25)
    assert rows[2].n_bigrams == 0 and rows[2].dup_bigram_frac == 0.0
    assert rows[3].dup_word_frac == 0.0 and rows[3].dup_bigram_frac == 0.0


# ---------------------------------------------------------------------------
# incremental_exact_dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_store_hit_and_batch_internal(spark):
    from juniper_syslog_filter_spark.operators.dedup import incremental_exact_dedup

    batch = spark.createDataFrame(
        [
            (10, "already-in-store"),
            (11, "new-text"),
            (12, "new-text"),      # batch-internal dup: 11 wins
            (13, "other-new"),
        ],
        "doc_id long, text string",
    ).select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
    store = spark.createDataFrame(
        [("already-in-store",), ("never-in-batch",)], "text string"
    ).select(F.md5(F.col("text").cast("binary")).alias("fp"))
    got = sorted(
        r.doc_id for r in incremental_exact_dedup(batch, store, "doc_id").collect()
    )
    assert got == [11, 13]


def test_incremental_dedup_equals_full_dedup_on_union(spark):
    """Ingesting corpus then batch incrementally keeps exactly the docs a
    one-shot full dedup (min doc_id per fp) would keep, given corpus ids
    precede batch ids."""
    rows = [(i, f"text-{i % 7}") for i in range(20)]
    full = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    corpus = full.where(F.col("doc_id") < 10)
    batch = full.where(F.col("doc_id") >= 10)
    from juniper_syslog_filter_spark.operators.dedup import incremental_exact_dedup

    inc_survivors = incremental_exact_dedup(
        batch, corpus.select("fp").distinct(), "doc_id"
    )
    # one-shot winners restricted to batch ids
    w = full.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    expect = sorted(
        r.doc_id for r in w.where(F.col("doc_id") >= 10).collect()
    )
    assert sorted(r.doc_id for r in inc_survivors.collect()) == expect


# ---------------------------------------------------------------------------
# token_budget_select
# ---------------------------------------------------------------------------


def test_token_budget_prefix_and_boundary(spark):
    from juniper_syslog_filter_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [
            ("en", 1, 40), ("en", 2, 40), ("en", 3, 30),  # cum 40,80,110
            ("de", 4, 100), ("de", 5, 1),                  # cum 100,101
        ],
        "lang string, doc_id long, tokens int",
    )
    out = token_budget_select(
        df, "lang", "tokens", 100, [F.desc("tokens"), F.asc("doc_id")]
    )
    got = {(r.lang, r.doc_id): r.cum_tokens for r in out.collect()}
    # en: 40 (id1), 80 (id2); id3 would hit 110 > 100 -> excluded
    # de: exactly 100 kept (boundary inclusive); id5 at 101 excluded
    assert got == {("en", 1): 40, ("en", 2): 80, ("de", 4): 100}


# ---------------------------------------------------------------------------
# shard_assign / mixture_upsample / score_documents
# ---------------------------------------------------------------------------


def test_shard_assign_lossless_dense_and_deterministic(spark):
    from juniper_syslog_filter_spark.operators.sampling import shard_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = shard_assign(df, "doc_id", n_shards=4).collect()
    b = shard_assign(df, "doc_id", n_shards=4).collect()
    assert sorted(r.doc_id for r in a) == list(range(200))  # lossless
    assert {(r.doc_id, r.shard, r.pos) for r in a} == {
        (r.doc_id, r.shard, r.pos) for r in b
    }  # reproducible
    by_shard: dict = {}
    for r in a:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard  # dense pos
    # md5 ordering decorrelates from the id order: some inversion exists
    order = [r.doc_id for r in sorted(a, key=lambda r: (r.shard, r.pos))]
    assert order != sorted(order)


def test_shard_assign_salt_changes_assignment(spark):
    from juniper_syslog_filter_spark.operators.sampling import shard_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    a = {r.doc_id: r.shard for r in shard_assign(df, "doc_id", 4).collect()}
    b = {
        r.doc_id: r.shard
        for r in shard_assign(df, "doc_id", 4, salt="other").collect()
    }
    assert any(a[i] != b[i] for i in range(200))


def test_mixture_upsample_expected_copies(spark):
    import hashlib

    from juniper_syslog_filter_spark.operators.sampling import mixture_upsample

    rows = [(i, ["wiki", "crawl", "code"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = mixture_upsample(df, "doc_id", "source").collect()
    copies: dict = {}
    for r in out:
        copies.setdefault((r.doc_id, r.source), []).append(r.epoch)

    for doc_id, source in [(i, s) for i, s in rows]:
        base = (len(source) + ord(source[-1])) % 2 + 1
        frac = (ord(source[-1]) * 37 + len(source) * 11) % 256
        bucket = int(
            hashlib.md5(f"{doc_id}:mix:42".encode()).hexdigest()[:2], 16
        )
        want = base + (1 if bucket < frac else 0)
        got = sorted(copies[(doc_id, source)])
        assert got == list(range(1, want + 1)), (doc_id, source)


def test_score_documents_hand_computed(spark):
    import hashlib
    import math

    from juniper_syslog_filter_spark.operators.inference import (
        hashed_weights,
        score_documents,
    )

    docs = [
        (1, "alpha beta beta"),   # repeated token counts twice (bag)
        (2, "gamma"),
        (3, "  alpha   "),        # empty split artifacts dropped
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.score, r.label)
        for r in score_documents(df, "doc_id", "text", hashed_weights(spark)).collect()
    }

    def weight(tok):
        i = int(hashlib.md5(tok.encode()).hexdigest()[:2], 16)
        return ((i * 37 + 11) % 101) / 101 - 0.5

    for doc_id, text in docs:
        toks = [t for t in text.split(" ") if t]
        z = sum(weight(t) for t in toks)
        score = round(1.0 / (1.0 + math.exp(-z)), 6)
        assert out[doc_id][0] == score, doc_id
        assert out[doc_id][1] == ("keep" if score > 0.6 else "drop"), doc_id


def test_winnow_overlap_detects_shared_passage(spark):
    from juniper_syslog_filter_spark.operators.dedup import winnow_overlap_pairs

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = [
        (1, "unique alpha prelude 111 " + shared + " unique alpha coda"),
        (2, "different beta opening 222 " + shared + " other beta ending"),
        (3, "totally unrelated gamma content with no common passage 333"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r.id_a, r.id_b) for r in winnow_overlap_pairs(
        df, "doc_id", "text", min_shared=1
    ).collect()}
    # guarantee: a shared substring of len >= k+w-1=15 shares >= 1
    # fingerprint, so (1,2) must pair; 3 shares nothing that long.
    assert (1, 2) in out
    assert not any(3 in p for p in out)


def test_winnow_overlap_cap_drops_boilerplate(spark):
    from juniper_syslog_filter_spark.operators.dedup import winnow_overlap_pairs

    # 30 docs, ALL sharing one boilerplate passage: uncapped, the
    # interior boilerplate fingerprints form the full 30*29/2 clique;
    # capped below the corpus size those fps are dropped and only the
    # few coincidental boundary-window pairs remain (minima straddling
    # the doc-specific prefix can legitimately match in small subsets).
    boiler = "standard license header present on every single page"
    docs = [(i, f"doc {i} body {i * 7919} " + boiler) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = winnow_overlap_pairs(
        df, "doc_id", "text", max_docs_per_fp=100, min_shared=1
    ).collect()
    capped = winnow_overlap_pairs(
        df, "doc_id", "text", max_docs_per_fp=10, min_shared=1
    ).collect()
    assert len(uncapped) == 30 * 29 // 2  # the degenerate clique
    assert len(capped) < len(uncapped) // 4  # cap breaks it


def test_bm25_hand_computed(spark):
    import math

    from juniper_syslog_filter_spark.operators.index import bm25_scores

    docs = [
        (1, "cat dog cat"),        # tf(cat)=2, dl=3
        (2, "dog dog dog dog"),    # no query term -> dropped
        (3, "bird bird"),
        (4, "cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r.score for r in bm25_scores(
        df, "doc_id", "text", ["cat"], top_k=10
    ).collect()}

    k1, b = 1.2, 0.75
    n, avgdl = 4.0, (3 + 4 + 2 + 1) / 4.0
    dfq = 2.0  # docs 1 and 4 contain 'cat'
    idf = math.log((n - dfq + 0.5) / (dfq + 0.5) + 1.0)

    def s(tf, dl):
        return round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)

    assert out == {1: s(2, 3), 4: s(1, 1)}  # 2 and 3 score 0 -> dropped


def test_bm25_topk_order_and_limit(spark):
    from juniper_syslog_filter_spark.operators.index import bm25_scores

    docs = [(i, "term " * (i + 1)) for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = bm25_scores(df, "doc_id", "text", ["term"], top_k=5).collect()
    assert len(rows) == 5
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_sign_projection_matches_python(spark):
    import hashlib

    import numpy as np

    from juniper_syslog_filter_spark.operators.similarity import (
        sign_projection_udf,
    )

    rng = [[(i * 7 + d * 3) % 11 / 11.0 - 0.5 for d in range(8)] for i in range(5)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<double>"
    )
    proj = sign_projection_udf(out_dim=4)
    got = {
        r.vec_id: list(r.p)
        for r in df.select("vec_id", proj(F.col("embedding")).alias("p")).collect()
    }

    def sign(j, d):
        h = hashlib.md5(f"rp:42:{j}:{d}".encode()).hexdigest()
        return 1.0 if int(h[0], 16) % 2 == 0 else -1.0

    for i, v in enumerate(rng):
        want = [
            float(np.sum([v[d] * sign(j, d) for d in range(8)]))
            for j in range(4)
        ]
        assert got[i] == pytest.approx(want, abs=1e-12), i


def test_count_min_overestimates_never_under(spark):
    from juniper_syslog_filter_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    docs = [
        (1, "apple banana apple cherry"),
        (2, "banana banana durian"),
        (3, "apple elderberry"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sketch = cms_build(df, "text", depth=4, width=64)
    probes = spark.createDataFrame(
        [("apple",), ("banana",), ("durian",), ("missing",)], "term string"
    )
    est = {
        r.term: r.est
        for r in cms_estimate(sketch, probes, "term", depth=4, width=64).collect()
    }
    exact = {"apple": 3, "banana": 3, "durian": 1, "missing": 0}
    for t, true in exact.items():
        assert est[t] >= true, t          # one-sided error
    # with 9 tokens in 4x64 cells, collisions are unlikely: exact hits
    assert est["apple"] == 3 and est["missing"] == 0


def test_count_min_sketch_size_bounded(spark):
    from juniper_syslog_filter_spark.operators.sketch import cms_build

    docs = [(i, f"w{i} w{i + 1} w{i * 2} common") for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sketch = cms_build(df, "text", depth=4, width=32)
    assert sketch.count() <= 4 * 32      # never exceeds d x width rows
    # total mass per row == total token count (the sketch conserves mass)
    per_row = {
        r.row: r.s
        for r in sketch.groupBy("row").agg(F.sum("cnt").alias("s")).collect()
    }
    assert set(per_row.values()) == {200 * 4}


def test_bpe_merge_step_hand_computed(spark):
    from juniper_syslog_filter_spark.operators.index import bpe_merge_step

    docs = [
        (1, "new york is big"),          # 1 merge
        (2, "new york new york"),        # adjacent run: 1 merge per scan
        (3, "old york is new"),          # no "new york" -> 0 merges
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.pair, r.n_before, r.n_after)
           for r in bpe_merge_step(df, "doc_id", "text").collect()}
    # "new york" occurs 3x (most frequent bigram); ties broken pair-asc
    assert all(p == "new york" for p, _, _ in out.values())
    assert out[1] == ("new york", 4, 3)
    # documented greedy-left-to-right: the second adjacent occurrence
    # shares the consumed space, so one merge this scan
    assert out[2] == ("new york", 4, 3)
    assert out[3] == ("new york", 4, 4)


# ---------------------------------------------------------------------------
# HyperLogLog sketch
# ---------------------------------------------------------------------------


def _py_hll(values, m=1024):
    """Independent Python reference of the md5 register/rho rule."""
    regs = {}
    for v in values:
        h = hashlib.md5(f"hll:{v}".encode()).hexdigest()
        reg = int(h[:3], 16) % m
        tail = h[3:13]
        bits = bin(int(tail, 16))[2:].zfill(40)
        rho = 41 if int(tail, 16) == 0 else bits.index("1") + 1
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_hll_registers_match_python_reference(spark):
    from juniper_syslog_filter_spark.operators.sketch import hll_build

    vals = [f"key-{i}" for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {r.register: r.mx for r in hll_build(df, "v", m=1024).collect()}
    assert got == _py_hll(vals)


def test_hll_estimate_within_error_envelope(spark):
    """Standard error is 1.04/sqrt(1024) ~ 3.3%; assert a loose 4-sigma
    13% envelope on a 5k-distinct stream with duplicates."""
    from juniper_syslog_filter_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    n = 5000
    rows = [(f"u-{i % n}",) for i in range(2 * n)]  # every key twice
    df = spark.createDataFrame(rows, "v string")
    est = hll_estimate(hll_build(df, "v", m=1024), m=1024).collect()[0]
    assert abs(est.est_hll - n) / n < 0.13, est


def test_hll_linear_counting_small_range(spark):
    """At tiny cardinality the linear-counting branch is near-exact."""
    from juniper_syslog_filter_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    df = spark.createDataFrame([(f"x{i}",) for i in range(50)], "v string")
    est = hll_estimate(hll_build(df, "v", m=1024), m=1024).collect()[0]
    assert abs(est.est_hll - 50) <= 2
    assert est.registers_hit <= 50


def test_hll_sketches_merge_by_register_max(spark):
    """The union sketch IS the per-register max of the part sketches —
    the property that lets daily sketches roll up without re-reads."""
    from pyspark.sql import functions as F
    from juniper_syslog_filter_spark.operators.sketch import hll_build

    a = spark.createDataFrame([(f"a{i}",) for i in range(500)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(500)], "v string")
    sk_a = hll_build(a, "v")
    sk_b = hll_build(b, "v")
    merged = {
        r.register: r.mx
        for r in sk_a.unionAll(sk_b)
        .groupBy("register")
        .agg(F.max("mx").alias("mx"))
        .collect()
    }
    direct = {
        r.register: r.mx for r in hll_build(a.unionAll(b), "v").collect()
    }
    assert merged == direct


def test_hll_null_values_ignored(spark):
    from juniper_syslog_filter_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    df = spark.createDataFrame(
        [("a",), (None,), ("b",), (None,)], "v string"
    )
    est = hll_estimate(hll_build(df, "v"), m=1024).collect()[0]
    assert est.registers_hit == 2


def test_hll_empty_input_estimates_zero(spark):
    """F.sum over zero rows is NULL; the coalesce pins the empty-sketch
    estimate to 0 (linear counting with V = m), not NULL (round-3
    advice: sketch.py:244)."""
    from juniper_syslog_filter_spark.operators.sketch import (
        hll_build,
        hll_estimate,
    )

    df = spark.createDataFrame([], "v string")
    est = hll_estimate(hll_build(df, "v"), m=1024).collect()[0]
    assert est.registers_hit == 0
    assert est.sum_scaled == 1024 * (1 << 41)
    assert est.est_hll == 0


def test_hll_m_must_divide_4096(spark):
    """m=2000 (non-divisor) and m=8192 (> 12 hash bits) silently bias
    the register distribution — now hard errors (round-3 advice:
    sketch.py:148)."""
    import pytest

    from juniper_syslog_filter_spark.operators.sketch import (
        hll_build,
        hll_estimate,
        hll_sql,
    )

    df = spark.createDataFrame([("a",)], "v string")
    for bad_m in (2000, 8192, 0, -16, 3):
        with pytest.raises(ValueError, match="divisor of 4096"):
            hll_build(df, "v", m=bad_m)
        with pytest.raises(ValueError, match="divisor of 4096"):
            hll_estimate(df, m=bad_m)
        with pytest.raises(ValueError, match="divisor of 4096"):
            hll_sql("SELECT 'a' AS v", m=bad_m)
    for good_m in (16, 64, 256, 1024, 4096):
        hll_build(df, "v", m=good_m)  # no raise


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_hl1_oracle_est_far_from_libm_boundary(spark, sf):
    """The hl1 gate's only libm-dependent term is the linear-counting
    branch's ln() (round-3 advice: sketch.py:192 — IEEE does not require
    correctly-rounded log, so a 1-ULP Spark/DuckDB divergence near a .5
    boundary could flip the rounded BIGINT). Pin, per oracle SF, that
    EITHER the alpha branch fires (pure * and /, correctly rounded,
    engine-exact unconditionally — true at sf0.01, the driver's gate)
    OR the lc value sits >= 1e-3 from the nearest rounding boundary
    (~10^10 ULPs of slack; true at sf0.001). Fixtures are fixed, so
    this makes the flake impossible on the gate data, not just
    unlikely."""
    import math

    from juniper_syslog_filter_spark.queries.sketch import q_hl1_hll_distinct

    row = q_hl1_hll_distinct(spark, sf).collect()[0]
    m = 1024
    # Recompute the CASE predicate from the exact integer aggregates:
    # linear counting fires only when hit < m AND alpha_raw <= 2.5*m.
    alpha_raw = (
        0.7213 / (1.0 + 1.079 / m) * (m * m) * float(1 << 41)
    ) / row.sum_scaled
    if row.registers_hit == m or alpha_raw > 2.5 * m:
        return  # alpha branch: ln never evaluated
    lc = m * math.log(m / (m - row.registers_hit))
    dist = abs(lc - math.floor(lc) - 0.5)
    assert dist >= 1e-3, (row, lc)


# ---------------------------------------------------------------------------
# weighted_sample (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------


def _py_aes_topk(rows, k, salt="wsamp:42"):
    """Independent reference: top-k ids by ln(u)/w, u from md5."""
    import math

    keyed = []
    for rid, w in rows:
        if w <= 0:
            continue
        h = hashlib.md5(f"{rid}:{salt}".encode()).hexdigest()
        u = (int(h[:13], 16) + 1) / 16**13
        keyed.append((math.log(u) / w, -rid))
    keyed.sort(reverse=True)
    return sorted(-neg for _, neg in keyed[:k])


def test_weighted_sample_matches_python_reference(spark):
    from juniper_syslog_filter_spark.operators.sampling import weighted_sample

    rows = [(i, (i % 7) + 1) for i in range(400)] + [(1000, 0), (1001, -3)]
    df = spark.createDataFrame(rows, "id long, w long")
    got = sorted(
        r.id for r in weighted_sample(df, "id", "w", 50).collect()
    )
    assert got == _py_aes_topk(rows, 50)
    assert 1000 not in got and 1001 not in got  # weight <= 0 excluded


def test_weighted_sample_deterministic_and_salted(spark):
    from juniper_syslog_filter_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, 1 + i % 3) for i in range(300)], "id long, w int"
    )
    s1 = sorted(r.id for r in weighted_sample(df, "id", "w", 40).collect())
    s2 = sorted(r.id for r in weighted_sample(df, "id", "w", 40).collect())
    s3 = sorted(
        r.id
        for r in weighted_sample(df, "id", "w", 40, salt="other:1").collect()
    )
    assert s1 == s2  # reproducible
    assert s1 != s3  # salt reseeds


def test_weighted_sample_weight_proportional(spark):
    """Statistical sanity: ids with weight 10 must dominate a k=100
    sample from 200 weight-10 + 800 weight-1 rows (expected ~71%+)."""
    from juniper_syslog_filter_spark.operators.sampling import weighted_sample

    rows = [(i, 10 if i < 200 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w int")
    got = [r.id for r in weighted_sample(df, "id", "w", 100).collect()]
    heavy = sum(1 for i in got if i < 200)
    assert heavy > 55, heavy


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def _py_bloom_positions(v, m_bits, k):
    out = []
    for i in range(k):
        h = hashlib.md5(f"{i}#{v}".encode()).hexdigest()
        out.append(int(h[:4], 16) % m_bits)
    return out


def test_bloom_no_false_negatives_and_matches_reference(spark):
    from juniper_syslog_filter_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    keyed_vals = [f"doc-{i}" for i in range(30)]
    keyed = spark.createDataFrame([(v,) for v in keyed_vals], "v string")
    bloom = bloom_build(keyed, "v", m_bits=256, k=3)

    # filter contents match the Python reference exactly
    want_bits = set()
    for v in keyed_vals:
        want_bits.update(_py_bloom_positions(v, 256, 3))
    got_bits = {r.pos for r in bloom.collect()}
    assert got_bits == want_bits

    probes = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(60)], "v string"
    )
    got = {
        r.v: r.bloom_hit
        for r in bloom_probe(bloom, probes, "v", m_bits=256, k=3).collect()
    }
    # every keyed value hits (no false negatives)
    assert all(got[f"doc-{i}"] for i in range(30))
    # probe verdicts match the reference bit test exactly
    for i in range(30, 60):
        v = f"doc-{i}"
        want = all(p in want_bits for p in _py_bloom_positions(v, 256, 3))
        assert got[v] == want


def test_bloom_null_probe_is_not_member(spark):
    """A NULL probe value reads bloom_hit = FALSE, not SQL NULL — the
    same pin the DuckDB twin applies via COALESCE, so bl1's oracle
    contract survives a nullable text column (round-3 advice: the bl1
    oracle in queries/sketch.py)."""
    from juniper_syslog_filter_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    keyed = spark.createDataFrame([("a",), ("b",)], "v string")
    bloom = bloom_build(keyed, "v", m_bits=256, k=3)
    probes = spark.createDataFrame([("a",), (None,), ("zz",)], "v string")
    got = {
        r.v: r.bloom_hit
        for r in bloom_probe(bloom, probes, "v", m_bits=256, k=3).collect()
    }
    assert got["a"] is True
    assert got[None] is False  # pinned, not NULL


def test_bloom_undersized_filter_has_false_positives(spark):
    """With m << 10n the FP rate is large — the property the bl1
    contract query relies on to pin the sketch against the oracle."""
    from juniper_syslog_filter_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    keyed = spark.createDataFrame(
        [(f"k-{i}",) for i in range(40)], "v string"
    )
    bloom = bloom_build(keyed, "v", m_bits=64, k=2)
    probes = spark.createDataFrame(
        [(f"other-{i}",) for i in range(200)], "v string"
    )
    hits = [
        r.bloom_hit
        for r in bloom_probe(bloom, probes, "v", m_bits=64, k=2).collect()
    ]
    assert 0 < sum(hits) < 200  # FPs exist but not everything hits


def test_bloom_probe_is_map_side(spark):
    """The probe side must not shuffle: no non-broadcast Exchange above
    the probe scan (the bits row broadcasts; positions test in-scan)."""
    import re
    from juniper_syslog_filter_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    keyed = spark.createDataFrame([(f"k-{i}",) for i in range(10)], "v string")
    probes = spark.createDataFrame([(f"p-{i}",) for i in range(10)], "v string")
    out = bloom_probe(bloom_build(keyed, "v"), probes, "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only Exchange allowed is the keyed side's distinct (tiny) —
    # nothing on the probe lineage; BroadcastNestedLoopJoin carries the
    # single bits row
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    probe_branch = plan.split("BroadcastNestedLoopJoin")[0]
    assert not re.search(r"(?<!Broadcast)Exchange\b", probe_branch), plan[:2000]


def test_a7_rank_certificate_on_skewed_values(spark, monkeypatch):
    """a7's rank-error certificate must hold on an adversarially skewed
    distribution (99 zeros + a huge outlier per group) where a
    value-tolerance check would be meaningless — the certificate is
    rank-based, so skew cannot break it. Also pins exact p50/p95
    against numpy's linear interpolation (quantile_cont)."""
    import numpy as np

    from juniper_syslog_filter_spark.queries import relational

    rows = [("spike", 0.0)] * 99 + [("spike", 1e12)]
    rows += [("flat", float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    df.createOrReplaceTempView("_a7_src")

    # the query only reads events
    monkeypatch.setattr(relational, "load_table", lambda s, d, t: df)
    out = {
        r.event_type: r
        for r in relational.q_a7_approx_percentiles(spark, "").collect()
    }

    assert out["spike"].ok50 and out["spike"].ok95
    assert out["flat"].ok50 and out["flat"].ok95
    spike_vals = np.array([0.0] * 99 + [1e12])
    assert out["spike"].p50 == round(float(np.quantile(spike_vals, 0.5)), 6)
    assert out["spike"].p95 == round(float(np.quantile(spike_vals, 0.95)), 6)
    assert out["flat"].n == 50


def test_a7_certificate_rejects_wrong_rank(spark):
    """The certificate is falsifiable: an 'approx' value planted far
    from the target rank must flip ok to False (guards against the
    certificate being a tautology)."""
    from pyspark.sql import functions as F

    n, acc, q = 1000, 10000, 0.5
    ev = spark.range(n).select(F.col("id").cast("double").alias("value"))
    # plant the minimum as the claimed p50 — rank 1, target rank 500
    planted = ev.agg(F.min("value").alias("_a"))
    j = ev.crossJoin(F.broadcast(planted))
    row = j.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((F.col("value") < F.col("_a")).cast("long")).cast("double").alias("lt"),
        F.sum((F.col("value") <= F.col("_a")).cast("long")).cast("double").alias("le"),
    ).collect()[0]
    err, target = n / acc, q * n
    ok = (row.lt + 1 <= target + err + 1) and (row.le >= target - err - 1)
    assert not ok
