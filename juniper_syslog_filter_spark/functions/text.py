"""Text-analysis functions for training-data pipelines: language ID,
document fingerprinting, tokenization. All expressions have exact DuckDB
SQL twins (returned by the ``*_sql`` helpers) so the driver's oracle
gate verifies values.

Tokenization is JVM-side Catalyst (whole-stage codegen). ``lang_id``
and ``rolling_hash`` execute as Arrow-batched pandas_udf kernels — the
same treatment as :func:`..operators.dedup.simhash` — because their
pure-expression forms fold per-token / per-character through
interpreted higher-order functions (the pattern that made d2/d3
explode at scale). Their ``*_sql`` DuckDB twins are the spec the
kernels are tested against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Language ID — stopword-count heuristic.
# ---------------------------------------------------------------------------

# Deliberately small, disjoint-enough lists; priority order breaks ties.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "los", "y", "que", "es"],
    "fr": ["le", "les", "et", "est", "une"],
}
_LANG_ORDER = ["en", "de", "es", "fr"]


def lang_id(col: Column) -> Column:
    """Predicted language: argmax of per-language stopword hit counts
    over whitespace tokens; all-zero → 'und'. Ties resolve in the fixed
    order en > de > es > fr (strictly-greater chain, deterministic).

    pandas_udf execution of the :func:`lang_id_sql` definition: one
    Arrow batch in, a numpy count matrix (langs × rows) out, argmax
    with the priority order encoded by iteration order. Null/empty
    text → 'und' (matches the SQL twin: null counts make every WHEN
    branch false)."""
    order = list(_LANG_ORDER)
    sets = [frozenset(STOPWORDS[lang]) for lang in order]

    def fn(texts: pd.Series) -> pd.Series:
        n = len(texts)
        counts = np.zeros((len(order), n), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").split(" ")
            for k, wset in enumerate(sets):
                counts[k, i] = sum(tok in wset for tok in toks)
        # argmax returns the FIRST maximal index — exactly the
        # en > de > es > fr strictly-greater chain of the SQL twin.
        best = counts.argmax(axis=0)
        out = np.where(
            counts[best, np.arange(n)] > 0,
            np.array(order, dtype=object)[best],
            "und",
        )
        return pd.Series(out)

    return F.pandas_udf(fn, "string")(col)


def lang_id_sql(expr: str) -> str:
    """DuckDB twin of :func:`lang_id`."""
    toks = f"string_split({expr}, ' ')"
    cnt = {}
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        cnt[lang] = f"len(list_filter({toks}, t -> list_contains([{lst}], t)))"
    best = f"greatest({', '.join(cnt.values())})"
    sql = "'und'"
    for lang in reversed(_LANG_ORDER):
        sql = (
            f"CASE WHEN {cnt[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {sql} END"
        )
    return sql


# ---------------------------------------------------------------------------
# Rolling-hash document fingerprint.
# ---------------------------------------------------------------------------

_MOD = 1_000_000_007
_BASE = 31


def rolling_hash(col: Column) -> Column:
    """Polynomial rolling hash over the character codes of ``col``:
    ``h = fold(chars, 0, (acc, c) -> (acc*31 + ascii(c)) % 1e9+7)``.

    pandas_udf execution of the :func:`rolling_hash_sql` definition.
    The sequential Horner fold is re-expressed as the closed form
    ``Σ code_i · 31^(n-1-i) mod p`` so numpy evaluates a whole document
    in one vector op: code points via a UTF-32 reinterpret (no per-char Python), a shared power table
    grown on demand. Each term is < p ≈ 2^30, so an int64 sum is exact
    up to ~9·10^9 characters per document. Null → 0 (the SQL twin's
    empty-fold seed; datagen text is non-null ASCII).
    """
    def fn(texts: pd.Series) -> pd.Series:
        # powers[i] = 31^i mod p, grown to the batch's longest doc.
        powers = np.ones(1, dtype=np.int64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if not t:
                continue
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            n = len(codes)
            while len(powers) < n:
                # Modular doubling: [31^0..31^(k-1)] + 31^k·same. Every
                # product is < p² < 2^60 — exact in int64.
                p_k = (powers[-1] * _BASE) % _MOD
                powers = np.concatenate([powers, powers * p_k % _MOD])
            out[i] = int((codes * powers[n - 1 :: -1] % _MOD).sum() % _MOD)
        return pd.Series(out)

    return F.pandas_udf(fn, "long")(col)


def rolling_hash_sql(expr: str) -> str:
    """DuckDB twin: list_reduce seeds from the first element, so prepend
    an explicit 0 to match Spark's explicit zero accumulator."""
    codes = (
        f"list_transform(list_filter(string_split({expr}, ''), c -> c <> ''), "
        f"c -> ascii(c)::BIGINT)"
    )
    return (
        f"list_reduce(list_concat([0::BIGINT], {codes}), "
        f"(acc, c) -> (acc * {_BASE} + c) % {_MOD})"
    )


# ---------------------------------------------------------------------------
# Tokenization.
# ---------------------------------------------------------------------------

# BPE-ish pre-tokenizer: word runs OR single non-space punctuation —
# the GPT-2-style first split, minus unicode categories.
BPE_SPLIT_PATTERN = r"\w+|[^\w\s]"


def bpe_token_count(col: Column) -> Column:
    """Count of regex pre-tokens (``\\w+|[^\\w\\s]``)."""
    # Group index 0 = whole match (the pattern has no capture groups);
    # DuckDB's regexp_extract_all defaults to 0, Spark's to 1.
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_PATTERN), 0))


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '\\w+|[^\\w\\s]'))"


# ---------------------------------------------------------------------------
# Quality-filter rule cascade (C4 / Gopher style).
# ---------------------------------------------------------------------------

# First matching rule wins; a doc matching none is kept. Thresholds are
# tuned to the synthetic corpus so every bucket is exercised; on real
# web text they'd be the published C4/Gopher values (min words, max
# chars, mean-word-length band, stopword floor).
QUALITY_STOPWORDS = ("the", "a", "of", "and", "to")


def quality_rule_expr(text: Column, n_chars: Column) -> Column:
    """Label each document with the FIRST quality rule it violates —
    ``too_short`` / ``too_long`` / ``word_len`` / ``low_stopword`` —
    or ``keep``. Pure Catalyst expression (one pass, no shuffle, no
    Python); the per-rule drop census is the standard data-quality
    dashboard of a filtering pipeline.

    Every operand is engine-portable: integer counts, one double
    division (identical IEEE result), and a HOF ``filter`` over the
    space tokenization (cheap here — a handful of comparisons per
    token, unlike the per-character folds that needed kernels)."""
    ws = F.split(text, " ")
    nw = F.size(ws)
    # mean word length over single-space-joined text: (chars - spaces)/words
    mwl = (F.length(text) - nw + 1).cast("double") / nw.cast("double")
    stop_frac = (
        F.size(
            F.filter(
                ws, lambda w: w.isin(*QUALITY_STOPWORDS)
            )
        ).cast("double")
        / nw.cast("double")
    )
    return (
        F.when(nw < 40, "too_short")
        .when(n_chars > 450, "too_long")
        .when((mwl < 4.05) | (mwl > 4.6), "word_len")
        .when(stop_frac < 0.04, "low_stopword")
        .otherwise("keep")
    )


def quality_rule_sql(text: str, n_chars: str) -> str:
    """DuckDB twin of :func:`quality_rule_expr`."""
    ws = f"string_split({text}, ' ')"
    stops = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    mwl = f"(length({text}) - len({ws}) + 1)::DOUBLE / len({ws})::DOUBLE"
    stop_frac = (
        f"len(list_filter({ws}, w -> w IN ({stops})))::DOUBLE"
        f" / len({ws})::DOUBLE"
    )
    return f"""
        CASE WHEN len({ws}) < 40 THEN 'too_short'
             WHEN {n_chars} > 450 THEN 'too_long'
             WHEN {mwl} < 4.05 OR {mwl} > 4.6 THEN 'word_len'
             WHEN {stop_frac} < 0.04 THEN 'low_stopword'
             ELSE 'keep' END
    """


# ---------------------------------------------------------------------------
# Repetition signals — Gopher-style quality rules (Rae et al. 2021 §A1.1:
# documents dominated by repeated lines/n-grams are boilerplate/spam).
# Over single-block web text the line rules degenerate, so the signals
# here are the duplicate word fraction and duplicate word-bigram
# fraction, both exactly restatable in ANSI SQL (list comprehension on
# the DuckDB side) for the oracle gate.
# ---------------------------------------------------------------------------


def word_bigrams(col: Column) -> Column:
    """``array<string>`` of adjacent word pairs ("w1 w2") of the
    whitespace tokenization; empty array for docs with <2 words.

    ONE ``zip_with`` pass over two array slices — JVM-side, no shuffle,
    no Python. (Contrast with the per-k shingle loops that made d2's
    expression form explode: this is a single fused pass, the same
    budget as ``t6``'s regexp pass, linear in doc length.)
    """
    words = F.split(col, " ")
    n = F.size(words)
    grams = F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))


def repetition_exprs(col: Column) -> dict[str, Column]:
    """Per-doc repetition stats: ``n_words``, ``uniq_words``,
    ``n_bigrams``, ``uniq_bigrams``, ``dup_word_frac``,
    ``dup_bigram_frac`` (fracs rounded to 6, the driver-hash float
    convention)."""
    words = F.split(col, " ")
    grams = word_bigrams(col)
    n_words = F.size(words)
    uniq_words = F.size(F.array_distinct(words))
    n_bigrams = F.size(grams)
    uniq_bigrams = F.size(F.array_distinct(grams))
    return {
        "n_words": n_words,
        "uniq_words": uniq_words,
        "n_bigrams": n_bigrams,
        "uniq_bigrams": uniq_bigrams,
        "dup_word_frac": F.round(1 - uniq_words / n_words, 6),
        "dup_bigram_frac": F.when(
            n_bigrams > 0, F.round(1 - uniq_bigrams / n_bigrams, 6)
        ).otherwise(F.lit(0.0)),
    }


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03).
# ---------------------------------------------------------------------------

def winnow_fingerprints(col: Column, k: int = 8, w: int = 8) -> Column:
    """Winnowing fingerprint selection: the sorted-distinct set of
    window minima over the char-``k``-gram rolling hashes of ``col``
    (window width ``w``) — the MOSS document-fingerprint scheme that
    guarantees any shared substring of length ≥ ``k + w - 1`` shares a
    selected fingerprint, at ~``2/(w+1)`` selection density.

    Arrow-batched pandas_udf execution of the :func:`winnow_sql`
    definition (an interpreted-HOF form would Horner-fold per shingle
    per doc — the d2 failure mode). Vectorized per document: k-gram
    hashes in O(n) via a scaled prefix-sum of ``c_j·31^(n-1-j) mod p``
    rescaled by a modular inverse power table (all < 2^62, exact in
    int64), window minima via a stride-tricks sliding view, dedup+sort
    via ``np.unique``. Hash values are IDENTICAL to the per-shingle Horner fold of
    :func:`rolling_hash` restricted to the shingle, so the twins agree
    bit-for-bit. Docs with fewer than ``w`` shingles yield an empty
    array (the SQL twin's guard).

    Scale: map-only (zero shuffle); downstream cross-doc joins on the
    exploded fingerprints are the sub-quadratic passage-dup path.
    """
    inv_base = pow(_BASE, _MOD - 2, _MOD)

    def fn(texts: pd.Series) -> pd.Series:
        powers = np.ones(1, dtype=np.int64)  # 31^i mod p
        invpow = np.ones(1, dtype=np.int64)  # 31^-i mod p

        def grow(tab: np.ndarray, base: int, n: int) -> np.ndarray:
            while len(tab) < n:
                step = (int(tab[-1]) * base) % _MOD
                tab = np.concatenate([tab, tab * step % _MOD])
            return tab

        out: list = []
        for t in texts:
            n = len(t) if t else 0
            if n - k + 1 < w:  # fewer than w shingles
                out.append(np.empty(0, dtype=np.int64))
                continue
            codes = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            ).astype(np.int64)
            powers = grow(powers, _BASE, n + 1)
            invpow = grow(invpow, inv_base, n + 1)
            # T_j = c_j * 31^(n-1-j); windowed sums of k terms, each
            # < p ~ 2^30, so the raw int64 prefix sums are exact for
            # any document under ~2^33 chars.
            terms = codes * powers[n - 1 :: -1] % _MOD
            pre = np.concatenate([[0], np.cumsum(terms)])
            win = (pre[k:] - pre[: n - k + 1]) % _MOD
            # h_i = win_i * 31^-(n-k-i): undo the global scale so each
            # equals the shingle's own Horner fold.
            h = win * invpow[n - k :: -1] % _MOD
            mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            out.append(np.unique(mins))
        return pd.Series(out)

    return F.pandas_udf(fn, "array<long>")(col)


def winnow_sql(
    table: str, id_expr: str, text_expr: str, k: int = 8, w: int = 8
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` as a staged query: SELECTs
    ``(doc_id, fps)`` from ``table``. Each level (char codes, shingle
    hashes, window minima) materializes ONCE per row via CTE columns —
    textually nesting the three levels into one expression re-evaluates
    ``codes`` inside every hash lambda and ``hashes`` inside every
    window lambda, O(m·n·k) interpreted per doc (measured >300 s for
    500×300-char docs vs 0.4 s staged). ``range`` is empty for ``stop <
    start``, so only the < ``w``-shingles case needs the CASE guard."""
    return f"""
    WITH _wn_codes AS (
      SELECT {id_expr} AS doc_id,
             list_transform(list_filter(string_split({text_expr}, ''),
                                        c -> c <> ''),
                            c -> ascii(c)::BIGINT) AS codes
      FROM {table}
    ),
    _wn_hashes AS (
      SELECT doc_id,
             list_transform(range(1, len(codes) - {k} + 2),
               i -> list_reduce(list_concat([0::BIGINT], codes[i:i+{k}-1]),
                                (acc, c) -> (acc * {_BASE} + c) % {_MOD}))
               AS hashes
      FROM _wn_codes
    )
    SELECT doc_id,
           CASE WHEN len(hashes) >= {w}
                THEN list_sort(list_distinct(
                       list_transform(range(1, len(hashes) - {w} + 2),
                                      j -> list_min(hashes[j:j+{w}-1]))))
                ELSE []::BIGINT[] END AS fps
    FROM _wn_hashes
    """


# ---------------------------------------------------------------------------
# HTML → text extraction (the WET-generation step of a crawl pipeline)
# ---------------------------------------------------------------------------

# The cascade uses only regex constructs with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): (?is) flags, [^>]*, lazy .*?,
# \s. Order matters: script/style BLOCKS go first (their text content
# must vanish, not survive tag-stripping), then tags, then a minimal
# entity decode, then whitespace collapse.
_HTML_BLOCK_RES = [
    r"(?is)<script[^>]*>.*?</script>",
    r"(?is)<style[^>]*>.*?</style>",
]
_HTML_TAG_RE = r"<[^>]*>"
_HTML_ENTITIES = [
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&amp;", "&"),  # &amp; LAST: no double-decode
]


def html_to_text(col: Column) -> Column:
    """Extract visible text from an HTML string: drop script/style
    blocks, strip tags, decode the five core entities, collapse
    whitespace. Pure JVM ``regexp_replace`` chain — map-only,
    whole-stage-codegen, zero Python. Matches :func:`html_to_text_sql`
    byte-for-byte (same patterns, same order)."""
    out = col
    for pat in _HTML_BLOCK_RES:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _HTML_TAG_RE, " ")
    for ent, ch in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_to_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`html_to_text` (RE2; note the explicit 'g'
    flag — DuckDB's regexp_replace is first-match-only by default,
    Spark's is global)."""
    out = expr
    for pat in _HTML_BLOCK_RES:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_TAG_RE}', ' ', 'g')"
    for ent, ch in _HTML_ENTITIES:
        lit = ch.replace("'", "''")
        out = f"replace({out}, '{ent}', '{lit}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"
