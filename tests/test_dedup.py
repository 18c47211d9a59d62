"""Dedup operator tests: MinHash/LSH banding behavior, SimHash
stability, Jaccard correctness — small deterministic frames, with a
driver-local oracle where the semantics allow."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from juniper_syslog_filter_spark.operators import dedup as D

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again"),  # near dup of 1
    (4, "completely different content about spark query engines at scale"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dup_same_shingles_same_buckets(spark, docs):
    b = D.minhash_buckets(docs, "doc_id", "text", n_bands=4, rows_per_band=2)
    rows = {(r.id, r.band): r.bucket for r in b.collect()}
    for band in range(4):
        assert rows[(1, band)] == rows[(2, band)]


def test_lsh_finds_exact_and_near_dups(spark, docs):
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, n_bands=8, rows_per_band=1)
    got = {(r.id_a, r.id_b): r.jacc for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # exact dup always survives
    assert (1, 4) not in got and (2, 4) not in got  # unrelated doc never pairs


def _duck_texts(texts: list[str]):
    """DuckDB connection holding ``d(i, t)``, one row per text."""
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INT, t VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(texts)))
    return con


def _duck_sets(texts: list[str], sql_of) -> list[set[str]]:
    """``sql_of('t')`` evaluated by DuckDB on each text, as Python sets."""
    rows = _duck_texts(texts).execute(
        f"SELECT i, {sql_of('t')} FROM d ORDER BY i"
    ).fetchall()
    return [set(r[1]) for r in rows]


EDGE_TEXTS = ["", "short", "a b c d", "a  b", " lead and trail ", "x"]


def test_jaccard_matches_python_sets():
    """The char-shingle kernel equals its DuckDB oracle on every text,
    and ``jaccard_sql`` over those shingles equals Python set Jaccard."""
    texts = [t for _, t in DOCS] + EDGE_TEXTS
    for k in (1, 3, 8):
        duck = _duck_sets(texts, lambda e: D.char_shingles_sql(e, k))
        assert duck == [D._py_char_shingles(t, k) for t in texts], k
    texts = [t for _, t in DOCS]
    rows = _duck_texts(texts).execute(f"""
        WITH s AS (SELECT i, {D.char_shingles_sql('t', 8)} AS sh FROM d)
        SELECT a.i, b.i, {D.jaccard_sql('a.sh', 'b.sh')}
        FROM s a JOIN s b ON a.i < b.i
    """).fetchall()
    assert len(rows) == 6
    for ia, ib, j in rows:
        sa, sb = D._py_char_shingles(texts[ia], 8), D._py_char_shingles(texts[ib], 8)
        assert abs(j - len(sa & sb) / len(sa | sb)) < 1e-12, (ia, ib)


def test_simhash_identical_for_dups_and_differs_for_unrelated(spark, docs):
    out = {r.doc_id: r.sh for r in docs.select("doc_id", D.simhash(F.col("text"), 32).alias("sh")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[4]
    # near-dup should be close in hamming space
    ham = bin(out[1] ^ out[3]).count("1")
    assert ham <= 8, ham


def test_hamming64(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], "a long, b long")
    assert df.select(D.hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h == 2


def test_max_bucket_caps_pathological_buckets(spark):
    # 5 identical docs → one bucket of 5 → 10 pairs; cap at 1 kills all.
    df = spark.createDataFrame([(i, "same text everywhere") for i in range(5)], "doc_id int, text string")
    all_pairs = D.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.0, max_bucket=None)
    assert all_pairs.count() == 10
    capped = D.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.0, max_bucket=1)
    assert capped.count() == 0


def test_word_ngrams():
    """The word-n-gram kernel equals its DuckDB oracle, empty tokens from
    repeated or edge spaces included."""
    assert D._py_word_ngrams("a b c d", 2) == {"a b", "b c", "c d"}
    texts = [t for _, t in DOCS] + EDGE_TEXTS
    for n in (1, 2, 3):
        duck = _duck_sets(texts, lambda e: D.word_ngrams_sql(e, n))
        assert duck == [D._py_word_ngrams(t, n) for t in texts], n


def test_exact_dedup_operator(spark, docs):
    out = {r.keeper_doc_id: r.n_copies for r in D.exact_dedup(docs, ["text"], "doc_id").collect()}
    assert out == {1: 2, 3: 1, 4: 1}


def _all_pairs(docs):
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    return a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))


def test_sig_jaccard_equals_string_set_jaccard(spark, docs):
    """The int64-fingerprint verify path over the in-pass signatures of
    minhash_doc_table must reproduce exact string-set Jaccard (collision
    probability ~1e-14 — any mismatch here is a bug, not a collision)."""
    sig = D.minhash_doc_table(docs, "doc_id", "text", with_sig=True)
    got = {
        (r.id_a, r.id_b): r.jacc
        for r in D.verify_pairs_sig(
            sig.select("id", "sig"), _all_pairs(docs), threshold=0.0
        ).collect()
    }
    texts = dict(DOCS)
    assert len(got) == 6
    for (ia, ib), j in got.items():
        sa, sb = D._py_char_shingles(texts[ia], 8), D._py_char_shingles(texts[ib], 8)
        assert j == round(len(sa & sb) / len(sa | sb), 6), (ia, ib)


def test_verify_pairs_jaccard_is_word_bigram_jaccard(spark, docs):
    """d4's verify step equals Python set Jaccard of word 2-grams."""
    got = {
        (r.id_a, r.id_b): r.jacc
        for r in D.verify_pairs_jaccard(
            docs, _all_pairs(docs), "doc_id", "text", threshold=0.0
        ).collect()
    }
    texts = dict(DOCS)
    assert len(got) == 6
    for (ia, ib), j in got.items():
        sa, sb = D._py_word_ngrams(texts[ia], 2), D._py_word_ngrams(texts[ib], 2)
        assert j == round(len(sa & sb) / len(sa | sb), 6), (ia, ib)


def test_minhash_doc_table_sig_matches_driver_fingerprints(spark, docs):
    """The combined kernel's in-pass signature equals the driver-side
    fingerprint of each doc's shingle set (same md5-prefix definition)."""
    from_doc = {
        r.id: list(r.sig)
        for r in D.minhash_doc_table(docs, "doc_id", "text", with_sig=True).collect()
    }
    assert from_doc == {
        i: list(D._hash_sig(D._py_char_shingles(t, 8))) for i, t in DOCS
    }


def test_passage_dup_stats(spark):
    shared = " ".join(f"w{i}" for i in range(10))  # one exact 10-word passage
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    rows = [
        (1, shared + " " + uniq_a),   # 2 passages, 1 duplicated
        (2, shared + " " + uniq_b),   # 2 passages, 1 duplicated
        (3, "too short to tile"),      # < 10 words -> absent
        (4, uniq_a + " tail words dropped by tiling"),  # 1 passage, dup of doc1's
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: (r["n_pass"], r["n_dup"]) for r in
           D.passage_dup_stats(df, "doc_id", "text", window=10).collect()}
    assert got == {1: (2, 2), 2: (2, 1), 4: (1, 1)}


def test_incremental_lsh_equals_full_run_restricted_to_batch(spark):
    """incremental_lsh_candidates (new batch vs stored buckets) must
    reproduce exactly the full-corpus lsh_candidate_pairs output
    restricted to pairs touching the batch — including cap behavior,
    because the cap counts COMBINED bucket membership."""
    base = [
        "the quick brown fox jumps over the lazy dog number %d",
        "spark shuffles partitions across executors run %d",
        "completely unrelated text about web crawling at scale %d",
    ]
    rows = [(i, base[i % 3] % (i % 5)) for i in range(30)]
    # a spam cluster: identical text, large bucket (exercises the cap)
    rows += [(100 + i, "boilerplate footer all rights reserved") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    full_b = D.minhash_buckets(docs, "doc_id", "text", n_bands=4, rows_per_band=2)
    full = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(full_b, max_bucket=6).collect()
    }
    is_batch = lambda i: i % 2 == 1  # odd ids are the new batch
    expect = {p for p in full if is_batch(p[0]) or is_batch(p[1])}

    store = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    sb = D.minhash_buckets(store, "doc_id", "text", n_bands=4, rows_per_band=2)
    bb = D.minhash_buckets(batch, "doc_id", "text", n_bands=4, rows_per_band=2)
    got = {
        (r.id_a, r.id_b)
        for r in D.incremental_lsh_candidates(bb, sb, max_bucket=6).collect()
    }
    assert got == expect
    assert expect, "fixture must produce candidate pairs"
    # the 8-doc spam bucket must have been capped out on both paths
    assert not any(a >= 100 and b >= 100 for a, b in got)


# ---------------------------------------------------------------------------
# exact_substring_spans — any-offset exact duplicate spans (Lee et al.
# ACL'22 granularity; the case d7's fixed tiles structurally miss)
# ---------------------------------------------------------------------------


def _spans_brute(docs, k=8, min_len=12, cap=20):
    """Driver-local oracle: enumerate all word k-grams, apply the
    doc-frequency cap, intersect per pair on the alignment diagonal,
    merge consecutive runs — same semantics, no Spark."""
    from collections import defaultdict

    grams = defaultdict(list)  # gram -> [(doc, pos)]
    for doc_id, text in docs:
        w = text.split(" ")
        for i in range(len(w) - k + 1):
            grams[" ".join(w[i : i + k])].append((doc_id, i))
    out = set()
    pair_hits = defaultdict(list)  # (a, b, diag) -> [pos_a]
    for occ in grams.values():
        if not 2 <= len({d for d, _ in occ}) <= cap:
            continue
        for ai, (da, pa) in enumerate(occ):
            for db, pb in occ[ai + 1 :]:
                if da == db:
                    continue
                a, b = (da, db) if da < db else (db, da)
                x, y = (pa, pb) if da < db else (pb, pa)
                pair_hits[(a, b, x - y)].append(x)
    for (a, b, diag), xs in pair_hits.items():
        xs = sorted(set(xs))
        run = [xs[0]]
        for x in xs[1:]:
            if x == run[-1] + 1:
                run.append(x)
            else:
                if len(run) + k - 1 >= min_len:
                    out.add((a, b, run[0], run[0] - diag, len(run) + k - 1))
                run = [x]
        if len(run) + k - 1 >= min_len:
            out.add((a, b, run[0], run[0] - diag, len(run) + k - 1))
    return out


SPAN_DOCS = [
    # 30-word docs sharing a verbatim 14-word run at DIFFERENT offsets
    # (3 in doc 1, 9 in doc 2) — invisible to fixed 10-word tiles when
    # it straddles a tile boundary, exact here.
    (
        1,
        "alpha beta gamma the shared fourteen word span sits right here in "
        "the middle of this document delta epsilon zeta eta theta iota "
        "kappa lam mu nu xi omicron pi",
    ),
    (
        2,
        "one two three four five six seven eight nine the shared fourteen "
        "word span sits right here in the middle of this document rho "
        "sigma tau upsilon phi chi",
    ),
    # unrelated doc
    (3, "totally different words nothing in common with the others at all "
        "padding padding2 padding3 padding4 padding5 padding6 padding7"),
]


def test_substring_spans_match_brute_force(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id int, text string")
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_words)
        for r in D.exact_substring_spans(
            df, "doc_id", "text", k=8, min_len=12
        ).collect()
    }
    want = _spans_brute(SPAN_DOCS, k=8, min_len=12)
    assert got == want
    assert (1, 2, 3, 9, 14) in got, "the straddling span must be found exactly"


def test_substring_spans_straddle_invisible_to_tiles(spark):
    """The same 14-word shared run crosses d7's 10-word tile boundary at
    mismatched phases, so passage_dup_stats reports no duplicate tile —
    exact_substring_spans is the only operator that sees it."""
    df = spark.createDataFrame(SPAN_DOCS, "doc_id int, text string")
    tiles = D.passage_dup_stats(df, "doc_id", "text", window=10)
    assert tiles.filter(F.col("n_dup") > 0).count() == 0
    spans = D.exact_substring_spans(df, "doc_id", "text", k=8, min_len=12)
    assert spans.count() == 1


def test_substring_spans_multiple_islands_and_min_len(spark):
    """Two disjoint shared runs on different diagonals -> two span rows;
    a shared run shorter than min_len is filtered."""
    base = [f"w{i}" for i in range(12)]          # 12-word run A
    short = [f"s{i}" for i in range(9)]          # 9-word run (< min_len)
    docs = [
        (1, " ".join(base + ["fillA1", "fillA2"] + short + ["tailA"])),
        (2, " ".join(["padB1", "padB2", "padB3"] + base + ["fillB"] + short)),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.span_words)
        for r in D.exact_substring_spans(
            df, "doc_id", "text", k=8, min_len=12
        ).collect()
    }
    assert got == _spans_brute(docs, k=8, min_len=12) == {(1, 2, 0, 3, 12)}


def test_substring_spans_boilerplate_cap(spark):
    """A gram shared by > max_docs_per_gram docs is boilerplate: capped
    out before the self-join, so no pair rows survive from it."""
    boiler = " ".join(f"b{i}" for i in range(14))
    docs = [(i, f"u{i}x u{i}y " + boiler) for i in range(1, 6)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    capped = D.exact_substring_spans(
        df, "doc_id", "text", k=8, min_len=12, max_docs_per_gram=3
    )
    assert capped.count() == 0
    uncapped = D.exact_substring_spans(
        df, "doc_id", "text", k=8, min_len=12, max_docs_per_gram=20
    )
    assert uncapped.count() == 10  # C(5,2) pairs, one span each


def _within_brute(docs, k, min_len, cap):
    """Driver-local oracle for within_doc_repeated_spans."""
    from collections import defaultdict

    out = set()
    for doc_id, text in docs:
        w = text.split(" ")
        occ = defaultdict(list)
        for i in range(len(w) - k + 1):
            occ[" ".join(w[i : i + k])].append(i)
        hits = defaultdict(list)  # delta -> [pos_a]
        for ps in occ.values():
            if not 2 <= len(ps) <= cap:
                continue
            for ai, pa in enumerate(ps):
                for pb in ps[ai + 1 :]:
                    hits[pb - pa].append(pa)
        for delta, xs in hits.items():
            xs = sorted(set(xs))
            run = [xs[0]]
            for x in xs[1:]:
                if x == run[-1] + 1:
                    run.append(x)
                else:
                    if len(run) + k - 1 >= min_len:
                        out.add((doc_id, run[0], run[0] + delta, len(run) + k - 1))
                    run = [x]
            if len(run) + k - 1 >= min_len:
                out.add((doc_id, run[0], run[0] + delta, len(run) + k - 1))
    return out


def test_within_doc_repeats_match_brute_force(spark):
    docs = [
        # 14-word block pasted twice with filler between (offsets 0, 17)
        (1, " ".join([f"w{i}" for i in range(14)] + ["x", "y", "z"]
                     + [f"w{i}" for i in range(14)])),
        # periodic text "a b a b ..." — overlapping self-repeats per delta
        (2, " ".join(["a", "b"] * 8)),
        # no repeats
        (3, " ".join(f"u{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r.doc_id, r.a_start, r.b_start, r.span_words)
        for r in D.within_doc_repeated_spans(
            df, "doc_id", "text", k=8, min_len=12
        ).collect()
    }
    want = _within_brute(docs, k=8, min_len=12, cap=20)
    assert got == want
    assert (1, 0, 17, 14) in got
    assert not any(d == 3 for d, *_ in got)


def test_within_doc_repeats_occurrence_cap(spark):
    """A gram repeated more than max_occ_per_doc times is a doc-local
    pathology ('the the the …'): capped out, no pair fan-out."""
    df = spark.createDataFrame(
        [(1, " ".join(["t"] * 30))], "doc_id int, text string"
    )
    assert (
        D.within_doc_repeated_spans(
            df, "doc_id", "text", k=2, min_len=3, max_occ_per_doc=5
        ).count()
        == 0
    )
    uncapped = D.within_doc_repeated_spans(
        df, "doc_id", "text", k=2, min_len=3, max_occ_per_doc=100
    )
    got = {
        (r.doc_id, r.a_start, r.b_start, r.span_words)
        for r in uncapped.collect()
    }
    assert got == _within_brute([(1, " ".join(["t"] * 30))], 2, 3, 100)


def test_remove_within_doc_repeats(spark):
    """Removal action: later occurrence cut, earlier kept; overlapping
    spans union; clean docs pass through untouched."""
    block = [f"w{i}" for i in range(14)]
    docs = [
        (1, " ".join(block + ["x", "y", "z"] + block)),
        (2, " ".join(f"u{i}" for i in range(20))),  # no repeats
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r.doc_id: (r.text_deduped, r.n_removed)
        for r in D.remove_within_doc_repeats(
            df, "doc_id", "text", k=8, min_len=12
        ).collect()
    }
    # doc 1: the second 14-word block (positions 17..30) is dropped
    assert got[1] == (" ".join(block + ["x", "y", "z"]), 14)
    assert got[2] == (docs[1][1], 0)
    # consistency with the detector: removed words == union of b-spans
    spans = D.within_doc_repeated_spans(
        df, "doc_id", "text", k=8, min_len=12
    ).collect()
    drop = set()
    for r in spans:
        assert r.doc_id == 1
        drop.update(range(r.b_start, r.b_start + r.span_words))
    assert len(drop) == got[1][1]


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    """CCNet paragraph dedup on a constructed corpus: a boilerplate
    chunk shared by three docs survives only in the lowest (doc_id,
    pos); within-doc repeats collapse too; unique prose is untouched;
    reassembly preserves original order."""
    from juniper_syslog_filter_spark.operators.dedup import paragraph_dedup

    boiler = " ".join(f"b{i}" for i in range(12))
    uniq1 = " ".join(f"u{i}" for i in range(12))
    uniq2 = " ".join(f"v{i}" for i in range(12))
    tail = "short tail"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq1}"),
            (2, f"{boiler} {uniq2} {boiler}"),  # boiler repeated in-doc
            (3, f"{uniq2} {tail}"),             # uniq2 already seen in doc 2
            (4, ""),                            # empty: excluded
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in paragraph_dedup(df, chunk_words=12).collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].n_par, got[1].n_kept) == (2, 2)
    assert got[1].kept_text == f"{boiler} {uniq1}"
    # doc 2: first chunk is the boiler's first occurrence? doc 1 pos 0
    # wins (lower doc_id) — doc 2 keeps only uniq2
    assert (got[2].n_par, got[2].n_kept) == (3, 1)
    assert got[2].kept_text == uniq2
    # doc 3: uniq2 chunk lost to doc 2; the 2-word tail chunk survives
    assert (got[3].n_par, got[3].n_kept) == (2, 1)
    assert got[3].kept_text == tail
