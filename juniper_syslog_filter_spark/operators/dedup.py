"""Deduplication operators for training-data pipelines.

Four families, all engine-portable (every primitive has an exact DuckDB
twin so the driver's oracle gate can verify values, not just shapes):

* exact dedup        — hash groupBy (driver query ``d1``)
* MinHash + LSH      — shingle → per-band min-hash → bucket self-join →
                       exact-Jaccard verify (classic banding scheme)
* SimHash            — per-bit majority vote over token hashes
* n-gram Jaccard     — blocked pairwise token/ngram set similarity

Portability rules:

* the hash everywhere is ``md5`` of a seed-prefixed string — identical
  hex in Spark and DuckDB, and hex strings min/compare identically, so
  min-hash signatures match across engines byte-for-byte;
* shingle/ngram ARRAYS never appear in outputs (element order differs
  between engines); only order-insensitive scalars derived from them do.

Scale notes (100 TB): signatures are computed in one narrow pass
(map-side); the only shuffle is the (band, bucket) self-join, whose
fan-out is bounded by bucket size — at web scale you additionally cap
bucket width (drop buckets with > ~1k members as spam clusters, see
``lsh_candidate_pairs(max_bucket)``), which also bounds skew. AQE
skew-join splitting stays on as backstop.

Execution strategy: signature/fingerprint computation runs in ONE
Arrow-batched ``mapInPandas``/``pandas_udf`` kernel per operator over
the Python set kernels (``_py_char_shingles``, ``_py_word_ngrams``) —
a Spark higher-order-function (``transform``/``filter``/``aggregate``)
form is interpreted (no codegen) and Catalyst does not CSE the shingle
subtree across the 16 band-row fields, which measured 979 s for 5k docs
at sf0.1 in round 1 (an O(bands×rows×shingles) interpreted blow-up).
The kernels compute the identical md5-based definitions in a single
pass over each Arrow batch; the ``*_sql`` DuckDB functions are their
oracles, and tests check the kernels against them.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window
from pyspark.sql import functions as F

from ..session import spread_small_input

# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def char_shingles_sql(expr: str, k: int = 8) -> str:
    """Distinct character k-grams of ``expr`` (shorter texts yield their
    whole text as the single shingle) — the DuckDB oracle of
    :func:`_py_char_shingles`."""
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(1, length({expr}) - {k - 1}) + 1), "
        f"i -> substr({expr}, i::INT, {k})))"
    )


def word_ngrams_sql(expr: str, n: int = 2, sep: str = " ") -> str:
    """Distinct word n-grams (space-joined) of ``expr`` split on
    ``sep`` — the DuckDB oracle of :func:`_py_word_ngrams`."""
    toks = f"string_split({expr}, '{sep}')"
    if n == 1:
        return f"list_distinct({toks})"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(1, len({toks}) - {n - 1}) + 1), "
        f"i -> array_to_string(list_slice({toks}, i::INT, i::INT + {n - 1}), ' ')))"
    )


# ---------------------------------------------------------------------------
# Jaccard
# ---------------------------------------------------------------------------


def jaccard_sql(a: str, b: str) -> str:
    """Exact Jaccard of two distinct-element lists (DuckDB)."""
    return (
        f"len(list_intersect({a}, {b}))::DOUBLE"
        f" / len(list_distinct(list_concat({a}, {b})))"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_for_band_row_sql(shingles: str, band: int, row: int) -> str:
    return f"list_min(list_transform({shingles}, s -> md5('{band}:{row}:' || s)))"


def band_bucket_sql(shingles: str, band: int, rows_per_band: int) -> str:
    parts = ", ".join(
        minhash_for_band_row_sql(shingles, band, r) for r in range(rows_per_band)
    )
    return f"md5(concat_ws('|', {parts}))"


def _py_char_shingles(text: str, k: int) -> set[str]:
    """Distinct character k-grams of ``text`` as a set (order never
    matters downstream — only min-hash and set sizes are consumed);
    :func:`char_shingles_sql` is its oracle."""
    t = text or ""
    return {t[i : i + k] for i in range(max(1, len(t) - k + 1))}


def minhash_doc_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 8,
    rows_per_band: int = 2,
    k: int = 8,
    with_sig: bool = False,
) -> DataFrame:
    """(id, buckets) — ONE row per doc, ``buckets[b]`` = LSH bucket of
    band b, identical to :func:`band_bucket_sql` (md5 hex min over
    seed-prefixed shingles, band bucket = md5 of '|'-joined row mins).
    With ``with_sig`` also emits ``sig``: the doc's sorted int64 shingle
    fingerprints (md5 first 8 bytes — the exact-Jaccard verify input),
    computed in the SAME pass so the corpus is shingled once, not once
    per downstream consumer. At 100 TB this row is the stored per-doc
    signature artifact; banding back out is a JVM-side ``posexplode``.

    Hex-string min == digest-byte min (hex encoding is order-monotone),
    so the kernel compares raw digests and hex-encodes only the winner.
    """
    id_type = dict(df.dtypes)[id_col]
    seeds = [
        [f"{b}:{r}:".encode("utf-8") for r in range(rows_per_band)]
        for b in range(n_bands)
    ]
    md5 = hashlib.md5
    bands_idx = list(range(n_bands))

    src = spread_small_input(df.select(id_col, text_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # shingle → per-seed digest memo: natural-language shingles
        # repeat heavily across documents (measured 104x on the bench
        # corpus), so hashing each distinct shingle once cuts the md5
        # volume by the repetition factor. Capped to bound memory on
        # low-redundancy corpora. Seed slot 0 is the UNSEEDED digest
        # feeding the verify fingerprint; slots 1.. are the band rows.
        memo: dict[bytes, list[bytes]] = {}
        flat_seeds = [s for band in seeds for s in band]

        # Slot 0 (the unseeded verify-fingerprint digest) is computed and
        # memoized only when with_sig — the buckets-only path (d4
        # candidates) never reads it, so skip its md5 + memo bytes.
        sig_slots = 1 if with_sig else 0

        def digests(s: bytes) -> list[bytes]:
            got = memo.get(s)
            if got is None:
                got = [md5(seed + s).digest() for seed in flat_seeds]
                if with_sig:
                    got = [md5(s).digest()] + got
                if len(memo) < 1_000_000:
                    memo[s] = got
            return got

        for pdf in batches:
            out_id: list = []
            out_buckets: list[list[str]] = []
            out_sig: list[np.ndarray] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                ds = [digests(s.encode("utf-8")) for s in _py_char_shingles(text, k)]
                si = sig_slots
                buckets = []
                for _ in bands_idx:
                    row_mins = []
                    for _ in range(rows_per_band):
                        row_mins.append(min(d[si] for d in ds).hex())
                        si += 1
                    buckets.append(md5("|".join(row_mins).encode("utf-8")).hexdigest())
                out_id.append(doc_id)
                out_buckets.append(buckets)
                if with_sig:
                    buf = b"".join(d[0][:8] for d in ds)
                    sig = np.frombuffer(buf, dtype=">i8").astype(np.int64)
                    sig.sort()
                    out_sig.append(sig)
            cols = {"id": out_id, "buckets": out_buckets}
            if with_sig:
                cols["sig"] = out_sig
            yield pd.DataFrame(cols)

    schema = f"id {id_type}, buckets array<string>"
    if with_sig:
        schema += ", sig array<long>"
    return src.mapInPandas(run, schema)


def _explode_bands(doc_table: DataFrame) -> DataFrame:
    """(id, buckets[, ...]) → (id, band, bucket) — JVM-side unbanding."""
    return doc_table.select(
        "id", F.posexplode("buckets").alias("band", "bucket")
    )


def minhash_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bands: int = 8,
    rows_per_band: int = 2,
    k: int = 8,
) -> DataFrame:
    """(id, band, bucket) — one row per (doc, band); the banded view of
    :func:`minhash_doc_table`."""
    return _explode_bands(
        minhash_doc_table(df, id_col, text_col, n_bands, rows_per_band, k)
    )


def lsh_candidate_pairs(
    buckets: DataFrame, max_bucket: int | None = 1000, materialize: bool = True
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any (band, bucket).

    ``max_bucket`` drops pathological buckets (boilerplate/spam clusters)
    — the standard web-scale guard that also bounds join skew: a bucket
    of size m yields m² pair rows, so one 10⁶-doc bucket would emit 10¹²
    rows without the cap.

    ``materialize`` eagerly materializes the signature table
    (``localCheckpoint``): the plan references it three times (size
    filter + both self-join sides), and a lazy cache RACES — the three
    subtrees launch concurrently in one job and each recomputes the
    signature kernel before the cache is hot (measured 82 s → 15 s for
    the same query). At real scale the signature table is tiny relative
    to the corpus (~8 short rows/doc) and is written to its own table
    anyway; eager materialization is the same design decision locally.
    """
    if materialize:
        buckets = buckets.localCheckpoint(eager=True)
    if max_bucket is not None:
        sizes = buckets.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        buckets = (
            buckets.join(sizes, ["band", "bucket"])
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _hash_sig(items: set[str]) -> np.ndarray:
    """Sorted distinct int64 fingerprints of a string set (first 8 bytes
    of md5, big-endian). Set Jaccard over these equals string-set Jaccard
    unless two distinct members collide in 64 bits (P ≈ n²/2⁶⁵ ≈ 1e-14
    for ~600-member pair unions — below any float rounding the oracle
    compare could see)."""
    md5 = hashlib.md5
    buf = b"".join(md5(s.encode("utf-8")).digest()[:8] for s in items)
    arr = np.frombuffer(buf, dtype=">i8").astype(np.int64)
    arr.sort()
    return arr


def sig_jaccard_udf():
    """Vectorized exact Jaccard of two sorted-distinct int64 signature
    arrays: |a ∩ b| / (|a| + |b| - |a ∩ b|) — the identical rational as
    string-set intersection/union (:func:`jaccard_sql`), so the rounded
    double matches the oracle bit-for-bit (modulo the 1e-14 fingerprint
    collision bound)."""

    def fn(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = np.empty(len(sa), dtype=np.float64)
        for i, (a, b) in enumerate(zip(sa, sb)):
            inter = np.intersect1d(a, b, assume_unique=True).size
            out[i] = inter / (len(a) + len(b) - inter)
        return pd.Series(out)

    return F.pandas_udf(fn, "double")


def _py_word_ngrams(text: str, n: int) -> set[str]:
    """Distinct word n-grams of ``text`` as a set;
    :func:`word_ngrams_sql` is its oracle. ``str.split(' ')`` keeps
    empty tokens, exactly like DuckDB's ``string_split``."""
    toks = (text or "").split(" ")
    if n == 1:
        return set(toks)
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def verify_pairs_sig(sig: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Keep candidate pairs with exact set Jaccard ≥ threshold, given a
    per-doc signature table (id, sig: sorted int64 fingerprints).

    The signature table is hash-joined onto both pair sides and the
    per-pair Jaccard is a vectorized sorted-array intersection —
    O(|candidates|) work, O(Arrow batch) memory. At 100 TB the signature
    table is a stored artifact of the corpus (~2 KB/doc) and this stage
    is two shuffle joins + a narrow kernel; nothing holds per-worker
    state proportional to the corpus (the earlier design's per-worker
    text→shingle-set memo was a scale bug, and 32 workers × ~150 MB of
    fresh set allocations hit this host's page-fault storm — 625 CPU-s
    for 11 s of actual set math)."""
    jacc = sig_jaccard_udf()
    return (
        cand.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("_sa")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("_sb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jacc(F.col("_sa"), F.col("_sb")), 6).alias("jacc"),
        )
        .filter(F.col("jacc") >= threshold)
    )


def verify_pairs_jaccard(
    df: DataFrame,
    cand: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """:func:`verify_pairs_sig` on exact word-2-gram Jaccard: each doc's
    2-gram set is fingerprinted (:func:`_hash_sig`) by a pandas UDF in
    one pass per DOC — never per candidate pair — with memory bounded by
    the Arrow batch, not the corpus."""

    def fn(texts: pd.Series) -> pd.Series:
        return pd.Series([_hash_sig(_py_word_ngrams(t, 2)) for t in texts])

    sig_udf = F.pandas_udf(fn, "array<long>")
    sig = spread_small_input(
        df.select(F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig"))
    )
    # Referenced by both join sides; materialize once (same decision as
    # the bucket table in lsh_candidate_pairs — a lazy cache races).
    sig = sig.localCheckpoint(eager=True)
    return verify_pairs_sig(sig, cand, threshold)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_bands: int = 8,
    rows_per_band: int = 2,
    k: int = 8,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard.

    Returns (id_a, id_b, jacc) with jacc ≥ threshold. ONE kernel pass
    computes each doc's band buckets AND its exact-verify fingerprint
    signature (:func:`minhash_doc_table`); banding, the bucket
    self-join, and the signature joins are all JVM-side, and the final
    per-pair Jaccard is a vectorized sorted-array intersection —
    O(|candidates|) work after the bucket join.
    """
    doc = minhash_doc_table(
        df, id_col, text_col, n_bands, rows_per_band, k, with_sig=True
    ).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(
        _explode_bands(doc), max_bucket=max_bucket, materialize=False
    )
    return verify_pairs_sig(doc.select("id", "sig"), cand, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash(col: Column, bits: int = 32) -> Column:
    """SimHash over whitespace tokens — vectorized pandas-UDF execution
    of the :func:`simhash_sql` definition: bit j is set iff the
    majority of tokens have bit j of md5(token) set (ties → 0), where
    bit j reads hex digit j//4 (1-based), bit j%4.

    Per token the kernel builds a ``bits``-wide pattern whose bit j
    equals that definition: nibble value of hex digit i lands at bits
    4i..4i+3, i.e. each digest byte contributes its high nibble first —
    a nibble swap — in little-endian byte order. numpy then unpacks and
    majority-votes all tokens of a document at once.
    """
    if bits % 8 != 0 or bits > 64:
        raise ValueError("bits must be a multiple of 8, <= 64")
    nbytes = bits // 8
    md5 = hashlib.md5
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).astype(np.int64 if bits < 64 else np.uint64)

    def fn(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").split(" ")
            buf = b"".join(md5(tok.encode("utf-8")).digest()[:nbytes] for tok in toks)
            arr = np.frombuffer(buf, dtype=np.uint8).reshape(len(toks), nbytes)
            swapped = ((arr >> 4) | ((arr & 15) << 4)).astype(np.uint64)
            pattern = np.zeros(len(toks), dtype=np.uint64)
            for b in range(nbytes):
                pattern |= swapped[:, b] << np.uint64(8 * b)
            cnt = ((pattern[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            out[i] = int((weights[(cnt * 2) > len(toks)]).sum())
        return pd.Series(out)

    return F.pandas_udf(fn, "long")(col)


def simhash_sql(expr: str, bits: int = 32) -> str:
    """DuckDB twin of :func:`simhash`."""
    toks = f"string_split({expr}, ' ')"
    terms = []
    for j in range(bits):
        pos = j // 4 + 1
        shift = j % 4
        bit = (
            f"((strpos('{_HEX}', substr(md5(t), {pos}, 1)) - 1) >> {shift}) & 1 = 1"
        )
        cnt = f"len(list_filter({toks}, t -> {bit}))"
        terms.append(f"CASE WHEN {cnt} * 2 > len({toks}) THEN {1 << j}::BIGINT ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two simhash values (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    n_bands: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: (id_a, id_b, hamming) for every
    pair whose ``bits``-bit simhash differs in at most ``n_bands - 1``
    positions.

    EXACT, not approximate: splitting the fingerprint into ``n_bands``
    equal bands, two hashes within hamming distance ``n_bands - 1`` must
    agree on at least one whole band (pigeonhole), so the band-equality
    self-join recalls every qualifying pair — the standard sub-quadratic
    simhash dedup dataflow (Manku et al., WWW'07, "Detecting
    Near-Duplicates for Web Crawling"). Candidates are Σ bucket² per
    band instead of n²; ``max_bucket`` drops degenerate buckets (same
    skew guard, and same recall caveat, as :func:`lsh_candidate_pairs`).
    The signature table is eagerly materialized for the same
    3-subtree-race reason documented there; at real scale it is a stored
    artifact.
    """
    if bits % n_bands != 0:
        raise ValueError("bits must divide evenly into n_bands")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    s = df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col), bits).alias("sh")
    ).localCheckpoint(eager=True)
    bands = s.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), band_bits * i).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    if max_bucket is not None:
        sizes = bands.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_n"))
        bands = (
            bands.join(sizes, ["band", "bucket"])
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        hamming64(F.col("sh_a"), F.col("sh_b")).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= n_bands - 1)


# ---------------------------------------------------------------------------
# Exact dedup (the d1 family, as a reusable operator)
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """One keeper row id per distinct key tuple + copy count."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(f"keeper_{id_col}"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# Exact duplicate-passage census (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL'22 — exact substring dedup at
# fixed token-window granularity)
# ---------------------------------------------------------------------------


def passage_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 10,
) -> DataFrame:
    """Per-document census of exactly-duplicated ``window``-word
    passages: tile each doc into non-overlapping word windows, count
    global occurrences of each passage string, report per doc the total
    passage count and how many of its passages occur more than once in
    the corpus (``n_pass``, ``n_dup``).

    Scale design: explode is linear in corpus tokens; the occurrence
    count is ONE ``groupBy(passage)`` shuffle whose key cardinality is
    ≤ total passages (at 100 TB hash the passage to an int64 fingerprint
    first so the shuffle ships 8-byte keys, exactly like the shingle
    signatures above); the join back is AQE-broadcast when the dup set
    is small, shuffle-hash otherwise. Docs shorter than one window have
    no passages and are absent from the output (same on the oracle
    side).
    """
    ws = F.split(F.col(text_col), " ")
    tiled = (
        df.select(F.col(id_col), ws.alias("ws"))
        .where(F.size("ws") >= window)
        .select(
            id_col,
            "ws",
            F.explode(
                F.sequence(F.lit(0), (F.size("ws") / window).cast("int") - 1)
            ).alias("slot"),
        )
        .select(
            id_col,
            F.array_join(
                F.slice(F.col("ws"), F.col("slot") * window + 1, window), " "
            ).alias("passage"),
        )
    )
    occ = tiled.groupBy("passage").agg(F.count(F.lit(1)).alias("occ"))
    return (
        tiled.join(occ, "passage")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_pass"),
            F.sum(F.when(F.col("occ") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )


def incremental_exact_dedup(
    batch: DataFrame,
    corpus_fps: DataFrame,
    id_col: str,
    fp_col: str = "fp",
) -> DataFrame:
    """Dedup a NEW ingest batch against an existing corpus fingerprint
    store — the steady-state shape of crawl ingestion (each crawl drop
    dedups against everything already accepted, not against itself
    alone; re-running the full-corpus dedup per drop would be O(corpus)
    every time).

    ``corpus_fps`` is the stored fingerprint table (one ``fp_col``
    column; at real scale an Iceberg table bucketed by fp so this
    anti-join is storage-partition-aligned). Two steps, both on the fp
    key: (1) left-anti join drops batch rows whose fingerprint is
    already in the store; (2) a min-id winner semi-join settles
    batch-internal duplicates. Survivors (plus the winners' fps) are
    what gets appended to the store for the next batch.

    Scale: the anti-join shuffles on ``fp_col`` only — with the store
    bucketed by fp its store side needs no exchange, and a runtime
    bloom filter on the (much smaller) batch side prunes store
    partitions (same AQE mechanism pinned in tests/test_plans.py for
    the semi-join family). Batch-internal winners use a min-id
    row_number window rather than the agg+semi-join shape: ONE exchange
    on fp and no recompute of the anti-join subtree (the semi-join form
    re-runs it for the winner aggregate), with Catalyst's rank-limit
    pushdown (WindowGroupLimit Partial) capping each map task at one
    row per fp before the shuffle.
    """
    from pyspark.sql import Window

    fresh = batch.join(corpus_fps.select(fp_col), fp_col, "left_anti")
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_lsh_candidates(
    batch_buckets: DataFrame,
    store_buckets: DataFrame,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs for a NEW ingest batch against a stored
    band-bucket table — the MinHash twin of
    :func:`incremental_exact_dedup` and the production shape of
    near-dedup at crawl scale: signatures for accepted docs are written
    once (``minhash_buckets`` → store), and each new drop computes
    signatures for ITS docs only, then probes the store.

    Emits distinct ``(id_a, id_b)`` with ``id_a < id_b`` covering both
    store×batch and batch-internal pairs. The ``max_bucket`` cap is
    applied to the COMBINED (store + batch) bucket membership, so
    incremental ingestion reproduces exactly the candidate set of a
    full-corpus :func:`lsh_candidate_pairs` run restricted to pairs
    touching the batch — the invariant that makes incremental near-dup
    auditable against the batch run.

    Scale: the store side ships only (band, bucket, id) — at rest this
    is the stored signature table, bucketed by (band, bucket) so the
    probe join is storage-aligned; per-bucket store counts are a
    maintained aggregate there, not recomputed (here they cost one
    count over the two bucket tables). Both inputs are eagerly
    materialized for the same 3-way plan-reuse race documented in
    :func:`lsh_candidate_pairs`.
    """
    batch_buckets = batch_buckets.localCheckpoint(eager=True)
    store_buckets = store_buckets.localCheckpoint(eager=True)
    id_col = [c for c in batch_buckets.columns if c not in ("band", "bucket")][0]
    if max_bucket is not None:
        sizes = (
            store_buckets.select("band", "bucket")
            .unionAll(batch_buckets.select("band", "bucket"))
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("band", "bucket")
        )
        store_buckets = store_buckets.join(sizes, ["band", "bucket"])
        batch_buckets = batch_buckets.join(sizes, ["band", "bucket"])
    s = store_buckets.alias("s")
    b = batch_buckets.alias("b")
    cross = (
        s.join(b, ["band", "bucket"])
        .select(
            F.least(F.col(f"s.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"s.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
    )
    b2 = batch_buckets.alias("b2")
    internal = (
        b.join(b2, ["band", "bucket"])
        .filter(F.col(f"b.{id_col}") < F.col(f"b2.{id_col}"))
        .select(
            F.col(f"b.{id_col}").alias("id_a"),
            F.col(f"b2.{id_col}").alias("id_b"),
        )
    )
    return cross.unionAll(internal).distinct()


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 8,
    max_docs_per_fp: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Cross-doc passage-overlap pairs via shared winnowing fingerprints
    (Schleimer/Wilkerson/Aiken SIGMOD'03): two docs pair when they share
    ≥ ``min_shared`` selected fingerprints, so any verbatim passage of
    ≥ ``k + w - 1`` chars is guaranteed to contribute at least one.
    Complements the exact word-tile census (:func:`passage_dup_stats`,
    d7) with substring-alignment-free approximate matching — the MOSS
    dataflow, distributed.

    Shape mirrors :func:`lsh_candidate_pairs`: per-doc signatures in one
    Arrow pass (:func:`~..functions.text.winnow_fingerprints`), JVM-side
    ``explode``, then fingerprint-frequency capping BEFORE the self-join
    — fingerprints present in > ``max_docs_per_fp`` docs are boilerplate
    (site chrome, license headers at web scale) and carry no pair
    signal while contributing O(n²) join rows; dropping them bounds the
    self-join at Σ min(freq, cap)² per fingerprint. Frequency < 2 rows
    are dropped too (no pair). The fp → cap-filter → self-join chain
    shuffles on ``fp`` throughout (one partitioning reused across the
    count, filter-join, and pair-join); the final pair census is the
    one remaining shuffle.
    """
    from ..functions.text import winnow_fingerprints

    fps = df.select(
        F.col(id_col),
        F.explode(winnow_fingerprints(F.col(text_col), k, w)).alias("fp"),
    )
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_docs_per_fp))
        .select("fp")
    )
    g = fps.join(keep, "fp")
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 12,
    max_docs_per_gram: int = 20,
) -> DataFrame:
    """Exact any-offset duplicate-span detection (the Lee et al.
    ACL'22 "exact substring" granularity): for every unordered doc pair,
    every maximal word-aligned span of ≥ ``min_len`` words that appears
    verbatim in both docs, with its exact start offset in each. Unlike
    :func:`passage_dup_stats` (non-overlapping tiles — misses spans that
    straddle a tile boundary) and :func:`winnow_overlap_pairs`
    (approximate, no positions), this recovers every shared substring of
    ≥ ``k`` words at ANY offset, exactly, with positions.

    Dataflow (the distributed stand-in for Lee et al.'s single-machine
    suffix array): stride-1 word ``k``-grams per doc (map-only explode,
    n−k+1 grams per n-word doc) → gram-frequency cap BEFORE the
    self-join (grams in > ``max_docs_per_gram`` docs are boilerplate and
    contribute O(n²) join rows with no span signal; singletons carry no
    pair — both dropped, mirroring :func:`winnow_overlap_pairs`) →
    self-join on the gram → merge runs of consecutive matches into
    maximal spans. Two grams from docs (a, b) lie on the same shared
    substring iff they sit on the same alignment diagonal
    ``pos_a − pos_b``; within a (a, b, diagonal) group each ``pos_a``
    occurs at most once (``pos_b`` is determined), so the classic
    gaps-and-islands trick — ``pos_a − row_number()`` — labels maximal
    runs, and a run of c consecutive grams certifies a verbatim span of
    ``c + k − 1`` words (overlapping k-gram equality composes).

    Scale: one gram-keyed shuffle chain (count → cap-join → pair-join,
    same partitioning reused), then one window + partial-agg shuffle
    sized to the MATCH set, never the corpus. The join keys are the gram
    strings themselves — collision-free, hence "exact" with no verify
    pass — so a ~50-byte key crosses every shuffle. Output:
    ``(doc_a, doc_b, a_start, b_start, span_words)``, 0-based word
    offsets.
    """
    ws = F.split(F.col(text_col), " ")
    grams = (
        df.select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
        .where(F.size("ws") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - k + 1),
                    lambda i: F.array_join(F.slice(F.col("ws"), i, k), " "),
                )
            ).alias("p", "gram"),
        )
        .select("doc_id", F.col("p").cast("long").alias("pos"), "gram")
    )
    keep = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_docs_per_gram))
        .select("gram")
    )
    g = grams.join(keep, "gram")
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    win = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = pairs.withColumn(
        "island", F.col("pos_a") - F.row_number().over(win)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.count(F.lit(1)) + k - 1).cast("long").alias("span_words"),
        )
        .filter(F.col("span_words") >= min_len)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_words")
    )


def _doc_repeat_spans(
    text: str, k: int, min_len: int, cap: int
) -> list[tuple[int, int, int]]:
    """Doc-local core of :func:`within_doc_repeated_spans` /
    :func:`remove_within_doc_repeats`: ``(a_start, b_start,
    span_words)`` triples of maximal repeated spans in one document —
    gram→positions dict, occurrence cap, diagonal run-merge."""
    w = text.split(" ") if isinstance(text, str) else []
    n = len(w)
    if n < k:
        return []
    occ: dict[tuple, list[int]] = {}
    tw = tuple(w)
    for i in range(n - k + 1):
        occ.setdefault(tw[i : i + k], []).append(i)
    hits: dict[int, list[int]] = {}
    for ps in occ.values():
        if not 2 <= len(ps) <= cap:
            continue
        for ai in range(len(ps) - 1):
            pa = ps[ai]
            for bi in range(ai + 1, len(ps)):
                hits.setdefault(ps[bi] - pa, []).append(pa)
    out: list[tuple[int, int, int]] = []
    for delta, xs in hits.items():
        xs = sorted(set(xs))
        start = prev = xs[0]
        run = 1
        for x in xs[1:]:
            if x == prev + 1:
                run += 1
                prev = x
            else:
                if run + k - 1 >= min_len:
                    out.append((start, start + delta, run + k - 1))
                start = prev = x
                run = 1
        if run + k - 1 >= min_len:
            out.append((start, start + delta, run + k - 1))
    return out


def within_doc_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 12,
    max_occ_per_doc: int = 20,
) -> DataFrame:
    """Within-document repeated spans — the SELF-repetition half of the
    Lee et al. ACL'22 exact-substring dedup that
    :func:`exact_substring_spans` (cross-doc) does not cover: every
    maximal word-aligned span of ≥ ``min_len`` words that occurs at two
    positions INSIDE the same document (boilerplate paste-twice, looped
    generation, templated sections), with both 0-based offsets.

    Semantics: doc-local stride-1 ``k``-gram occurrence lists;
    occurrences of one gram > ``max_occ_per_doc`` times in a doc
    ("the the the…" pathologies, O(occ²) pair fan-out) are capped out;
    two occurrences lie on the same repeat iff they share the offset
    delta ``pos_b − pos_a`` (> 0), and consecutive gram matches per
    (delta) merge into maximal spans of ``run + k − 1`` words.
    Overlapping self-repeats (period < span, e.g. "a b a b a b") are
    reported per delta — the exact-repeat semantics. The within-doc cap
    is per-(doc,gram) OCCURRENCE count — a different predicate than the
    cross-doc form's doc-frequency cap.

    Dataflow — map-only, ZERO shuffle: unlike the cross-doc form
    (whose gram table must meet itself across documents and therefore
    shuffles on the gram), every byte this operator needs is already
    co-located in the document row, so the whole computation is one
    Arrow-batched ``mapInPandas`` kernel: per doc, a gram→positions
    dict, the cap, and the diagonal run-merge in plain Python over the
    batch. At 100 TB this is embarrassingly parallel — scan-speed,
    no sort, no exchange, no skew surface (a declarative
    window+self-join formulation was measured 4.8× slower cold and 2×
    warm at sf0.1 — 81.5→16.9 s / 7.2→3.6 s — because it sorts a
    corpus-sized exploded gram table that never needed to leave its
    partition, a cost that grows with the corpus at 100 TB; plan
    pinned join/window/hash-Exchange-free in tests/test_plans.py). Output: ``(doc_id, a_start, b_start,
    span_words)`` with ``a_start < b_start``.
    """
    id_type = dict(df.dtypes)[id_col]
    cap = max_occ_per_doc

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            a_st: list[int] = []
            b_st: list[int] = []
            spn: list[int] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                for start, bstart, span in _doc_repeat_spans(
                    text, k, min_len, cap
                ):
                    ids.append(doc_id)
                    a_st.append(start)
                    b_st.append(bstart)
                    spn.append(span)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=object),
                    "a_start": pd.Series(a_st, dtype="int64"),
                    "b_start": pd.Series(b_st, dtype="int64"),
                    "span_words": pd.Series(spn, dtype="int64"),
                }
            )

    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(
        kernel,
        schema=(
            f"doc_id {id_type}, a_start long, b_start long, span_words long"
        ),
    )


def remove_within_doc_repeats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 12,
    max_occ_per_doc: int = 20,
) -> DataFrame:
    """The REMOVAL action over :func:`within_doc_repeated_spans`'s
    detections — what a training-data pipeline actually applies: for
    every detected repeated span, the LATER occurrence's words
    (positions ``[b_start, b_start + span)``) are dropped and the doc
    is re-joined; the earlier occurrence survives (Lee et al. ACL'22's
    cut-the-later-copy convention). Overlapping spans union their
    removal positions, so a word is dropped once no matter how many
    repeats cover it.

    Same map-only zero-shuffle dataflow as the detector (everything is
    doc-local), detection + removal fused into ONE kernel pass — the
    spans never materialize as rows, so there is no join of spans back
    to the corpus. Output: ``(doc_id, text_deduped, n_removed)`` —
    one row per input doc (docs with no repeats pass through with
    ``n_removed = 0``).
    """
    id_type = dict(df.dtypes)[id_col]
    cap = max_occ_per_doc

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            txt: list[str] = []
            nrm: list[int] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                spans = _doc_repeat_spans(text, k, min_len, cap)
                if not spans:
                    ids.append(doc_id)
                    txt.append(text if isinstance(text, str) else "")
                    nrm.append(0)
                    continue
                drop: set[int] = set()
                for _a, b, span in spans:
                    drop.update(range(b, b + span))
                w = text.split(" ")
                kept = [t for i, t in enumerate(w) if i not in drop]
                ids.append(doc_id)
                txt.append(" ".join(kept))
                nrm.append(len(w) - len(kept))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=object),
                    "text_deduped": pd.Series(txt, dtype=object),
                    "n_removed": pd.Series(nrm, dtype="int64"),
                }
            )

    src = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(
        kernel,
        schema=f"doc_id {id_type}, text_deduped string, n_removed long",
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 12,
) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al.,
    LREC 2020): split each document into paragraph units, fingerprint
    each unit, keep only the corpus-wide FIRST occurrence of every
    distinct paragraph (order = (doc_id, position) — deterministic),
    and reassemble each document from its surviving paragraphs. This is
    the boilerplate-removal pass CCNet/RefinedWeb run BEFORE document-
    level dedup: repeated nav bars / license blocks / disclaimers
    vanish from every copy but the first while unique prose stays.

    The fixture corpus has no newline structure, so a "paragraph" here
    is a fixed ``chunk_words``-word window (position-aligned chunking —
    deterministic and SQL-restatable); on real crawl text the splitter
    is ``split(text, '\\n\\n')`` with the rest of the dataflow
    unchanged.

    Returns ``(id, n_par, n_kept, kept_text)``; docs with empty text
    are excluded (no paragraphs).

    Scale shape (100 TB): two linear shuffles — the first-occurrence
    election is one window over the paragraph FINGERPRINT (Exchange on
    md5, in-partition sort, row_number — map-side nothing, but state
    per task is one sort buffer), reassembly is one hash-aggregate on
    the doc id. Paragraph rows ≈ corpus words / chunk_words, so the
    shuffled volume is ~the corpus itself: the same cost CCNet pays,
    with no all-pairs term anywhere. The window carries no frame (pure
    row_number), so Spark's WindowExec streams groups without
    buffering beyond one fingerprint's rows (bounded by the corpus-wide
    copy count of one paragraph — the dup multiplicity, not the
    corpus).
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = (
        df.where(F.length(text_col) > 0)
        .select(
            F.col(id_col),
            words.alias("_w"),
            n_chunks.alias("_nc"),
        )
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_nc") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(
                            F.col("_w"), i * chunk_words + 1, chunk_words
                        ),
                    ),
                )
            ).alias("pos", "par"),
        )
    )
    w = Window.partitionBy(F.md5("par")).orderBy(id_col, "pos")
    sel = chunks.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.struct("pos", "par"))
    return sel.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_par"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["par"]
            ),
        ).alias("kept_text"),
    )
