"""Text-analysis operators for the training-data pipeline: token counting,
quality scoring, language ID, document fingerprinting.

All pure native Column expressions (JVM, codegen) — deliberately built from
engine-portable primitives (``md5``, ``regexp``, ``split``) so the DuckDB
oracle can run the byte-identical computation in ANSI SQL.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

# tiny stopword marker sets per language — heuristic n-gram/stopword
# language ID; deliberately small so the SQL oracle mirrors them verbatim
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "nicht"],
    "es": ["el", "la", "que", "de", "los"],
    "fr": ["le", "la", "et", "les", "des"],
}

_PUNCT_RE = r"[.,;:!?'\"()\[\]{}]"
# BPE-ish subword splitter: word-initial chunk + continuation chunks of <=4 chars
_BPE_RE = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize(text: ColumnOrName) -> Column:
    """Whitespace-collapsed, lowercased text — the dedup key normalization."""
    return F.lower(F.trim(F.regexp_replace(_col(text), r"\s+", " ")))


def tokens(text: ColumnOrName) -> Column:
    """Whitespace tokens (non-empty)."""
    return F.filter(F.split(F.trim(_col(text)), r"\s+"), lambda t: t != "")


def token_count(text: ColumnOrName) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def subword_count(text: ColumnOrName) -> Column:
    """BPE-ish token count: bounded-length alpha/digit/punct chunks."""
    return F.regexp_count(_col(text), F.lit(_BPE_RE))


def punct_ratio(text: ColumnOrName) -> Column:
    n = F.length(_col(text))
    return F.when(n > 0, F.regexp_count(_col(text), F.lit(_PUNCT_RE)).cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(text: ColumnOrName, lang: str = "en") -> Column:
    toks = tokens(normalize(text))
    markers = LANG_MARKERS[lang]
    hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(text: ColumnOrName) -> Column:
    toks = tokens(_col(text))
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: ColumnOrName) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation band +
    stopword presence + word-length band.  Deterministic, SQL-mirrorable."""
    t = _col(text)
    n_tok = token_count(t).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    pr = punct_ratio(t)
    punct_score = F.when(pr <= 0.2, F.lit(1.0)).otherwise(F.greatest(F.lit(0.0), F.lit(1.0) - (pr - 0.2) * 2.0))
    sw = stopword_ratio(t)
    sw_score = F.least(sw * F.lit(5.0), F.lit(1.0))
    mwl = mean_word_length(t)
    wl_score = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.25))
    return F.round((len_score + punct_score + sw_score + wl_score) / F.lit(4.0), 6)


def lang_scores(text: ColumnOrName) -> Column:
    """struct of per-language stopword hit counts."""
    toks = tokens(normalize(text))
    fields = []
    for lang, markers in LANG_MARKERS.items():
        fields.append(F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(lang))
    return F.struct(*fields)


def lang_id(text: ColumnOrName) -> Column:
    """argmax language by marker hits; 'und' (undetermined) when all zero.
    Ties break in LANG_MARKERS declaration order (en, de, es, fr)."""
    s = lang_scores(text)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[s[lang] for lang in langs])
    out = F.lit("und")
    for lang in reversed(langs):
        out = F.when((best > 0) & (s[lang] == best), F.lit(lang)).otherwise(out)
    # earlier language wins ties because later whens overwrite in reversed order
    return out


def fingerprint(text: ColumnOrName) -> Column:
    """Document fingerprint: md5 of normalized text (portable to SQL)."""
    return F.md5(normalize(text))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from an already-materialized token
    array COLUMN.  Pass a bound column, not the tokenization expression:
    Catalyst inlines expression arguments into every ``element_at`` inside
    the transform lambda, re-tokenizing the document once per shingle
    position (measured O(tokens²) — 27s for 5k docs vs <1s materialized)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(-1)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)])
    )
    return F.when(k >= n, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def shingles(text: ColumnOrName, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    NOTE: single-expression form — fine for one-off use, but pipelines
    should materialize tokens first and call :func:`shingles_from_tokens`
    (see its docstring for the quadratic-inlining trap)."""
    return shingles_from_tokens(tokens(normalize(text)), n)


def top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """(id, term, rank): the k most CHARACTERISTIC terms per document,
    scored by df-normalized term frequency ``score = tf / df_term`` (docs
    containing the term).  A tf-idf-family score chosen for cross-engine
    exactness: one IEEE double division is correctly rounded and therefore
    bit-identical in any engine, while ``ln``-based idf can differ at 1 ulp
    between libm implementations and flip ranks.  Ties break on term text.

    Two aggregations (term stats are map-side partial) + one window; the
    vocabulary side broadcasts.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(normalize(text_col))).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    dfreq = F.broadcast(tf.groupBy("term").agg(F.count("*").alias("df")))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df").cast("double")
    )
    w = Window.partitionBy("_id").orderBy(F.desc("score"), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(F.col("_id").alias(id_col), "term", "rank")
    )


# PII patterns: alternation-free, backreference-free, lookaround-free so
# Java regex (Spark), RE2 (DuckDB), and Python `re` all produce identical
# leftmost-greedy matches.  Email before phone (an email's local part can
# contain digits); IPs use dots, which the phone charset excludes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+?\d[\d -]{7,}\d"


def pii_counts(text: ColumnOrName) -> Column:
    """struct(n_emails, n_phones, n_ips) — per-row PII hit counts (longs).
    Counted on the RAW text independently per class (an email's digits are
    not long enough to double-count as a phone under the ≥9-char rule,
    and the phone charset excludes '.', so classes don't overlap on
    realistic text)."""
    t = _col(text)
    return F.struct(
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
    )


def scrub_pii(text: ColumnOrName) -> Column:
    """Redact emails → ``<EMAIL>``, IPv4s → ``<IP>``, then phone-like digit
    runs → ``<PHONE>`` (that order: scrubbing an email first protects its
    digit runs; IPs next because the phone charset has no '.').  Pure
    native ``regexp_replace`` — JVM-side, codegen, zero Python."""
    out = F.regexp_replace(_col(text), PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


# C4 page-cleaning heuristics (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning with a Unified Text-to-Text Transformer", §2.2).  The
# published rule set, minus the third-party blocklist (no external data in
# this sandbox): keep only lines ending in terminal punctuation, drop lines
# under 3 words or mentioning javascript, discard pages with fewer than 5
# sentences, with "lorem ipsum", or with a curly brace.  Patterns are
# alternation-free and identical under Java regex and RE2, so the DuckDB
# oracle runs them verbatim.
C4_TERMINAL_RE = r'[.!?"]$'
C4_JS_RE = r"\bjavascript\b"
C4_MIN_WORDS_PER_LINE = 3
C4_MIN_SENTENCES = 5


def c4_line_stats(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = C4_MIN_WORDS_PER_LINE,
    min_sentences: int = C4_MIN_SENTENCES,
):
    """C4 page-cleaning decisions per document: line counts, the cleaned
    (line-filtered) text, and the page verdict.

    Output: ``(id, n_lines, n_kept_lines, n_sentences, page_clean, kept,
    cleaned)`` where ``cleaned`` joins the surviving lines with newlines,
    ``n_sentences`` counts terminal-punctuation marks in the cleaned text
    (the sandbox-concrete reading of C4's "fewer than 5 sentences"),
    ``page_clean`` is the lorem-ipsum/brace page gate, and ``kept`` is the
    full verdict.

    Plan: ZERO shuffles — a narrow per-row projection chain.  The line
    array and the kept-lines array are materialized as bound columns in
    separate selects (multi-referenced arrays must not be re-inlined per
    use — the documented projection-collapse trap); every line predicate
    sees only its lambda variable, so nothing re-evaluates per element."""
    lined = df.select(
        F.col(id_col),
        F.col(text_col).alias("_text"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )

    def _keep_line(ln: Column) -> Column:
        t = F.trim(ln)
        n_words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
        return (
            t.rlike(C4_TERMINAL_RE)
            & (n_words >= min_words_per_line)
            & ~F.lower(t).rlike(C4_JS_RE)
        )

    kept_arr = lined.select(
        id_col,
        "_text",
        F.size("_lines").cast("long").alias("n_lines"),
        F.filter("_lines", _keep_line).alias("_kept"),
    )
    staged = kept_arr.select(
        id_col,
        F.col("n_lines"),
        F.size("_kept").cast("long").alias("n_kept_lines"),
        # NOTE: explicit one-arg lambda — F.trim grew an optional second
        # parameter in Spark 4, so passing it bare makes transform() feed
        # the element INDEX in as the trim-character set (silent no-op).
        F.array_join(F.transform("_kept", lambda ln: F.trim(ln)), "\n").alias("cleaned"),
        (
            ~F.contains(F.lower("_text"), F.lit("lorem ipsum"))
            & ~F.contains(F.col("_text"), F.lit("{"))
        ).alias("page_clean"),
    )
    n_sent = F.regexp_count("cleaned", F.lit(r"[.!?]")).cast("long")
    return staged.select(
        id_col,
        "n_lines",
        "n_kept_lines",
        n_sent.alias("n_sentences"),
        "page_clean",
        (F.col("page_clean") & (n_sent >= min_sentences)).alias("kept"),
        "cleaned",
    )


def _run_scan(arr: Column, n_keys: int, key) -> Column:
    """struct(top, ndist) — max run length and distinct count of a SORTED
    array, in ONE sequential ``aggregate`` pass (equal elements are
    adjacent after ``sort_array``, so max frequency == max run).  ``key``
    maps an element to its ``n_keys`` comparable string parts (1 for a
    string array, 2 for an arrays_zip pair); the accumulator carries them
    flat so no struct-typed sentinel is needed (tokens are non-empty, so
    '' never matches a real part).  No nested higher-order lambdas: the
    input is built from sort_array/arrays_zip/slice only (the CLAUDE.md
    lambda-collision trap cannot apply)."""
    prev = [F.lit("").alias(f"p{i}") for i in range(n_keys)]
    zero = F.lit(0).cast("long")
    init = F.struct(*prev, zero.alias("run"), zero.alias("best"), zero.alias("ndist"))

    def step(acc, t):
        parts = key(t)
        same = parts[0] == acc["p0"]
        for i in range(1, n_keys):
            same = same & (parts[i] == acc[f"p{i}"])
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            *[parts[i].alias(f"p{i}") for i in range(n_keys)],
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            (acc["ndist"] + F.when(same, zero).otherwise(F.lit(1).cast("long"))).alias("ndist"),
        )

    return F.aggregate(
        arr, init, step,
        lambda acc: F.struct(acc["best"].alias("top"), acc["ndist"].alias("ndist")),
    )


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    token-count variants: per document the duplicate-token fraction, the
    most-frequent-token fraction, and the most-frequent-bigram fraction —
    the standard LLM-corpus filters for boilerplate/keyword-stuffed pages.

    Plan: ZERO shuffles — one narrow projection chain per row.  Tokens are
    materialized as a bound column first (the shingle inlining trap), the
    bigram array is built natively with ``arrays_zip(slice, slice)`` (no
    transform lambda feeding another lambda — the documented projection-
    collapse corruption), and each frequency scan is one O(n) ``aggregate``
    over a ``sort_array`` (max frequency == max run of a sorted array).
    All counts are exact longs; each fraction is ONE double division of
    exact integers, so any engine reproduces it bit-for-bit."""
    toksed = df.select(F.col(id_col), tokens(normalize(text_col)).alias("_toks"))
    t = F.col("_toks")
    m = F.greatest(F.size(t) - 1, F.lit(0))
    staged = toksed.select(
        id_col,
        F.size(t).cast("long").alias("n_tokens"),
        F.sort_array(t).alias("_uni"),
        F.sort_array(F.arrays_zip(F.slice(t, 1, m), F.slice(t, 2, m))).alias("_bi"),
    )
    scanned = staged.select(
        id_col,
        "n_tokens",
        _run_scan(F.col("_uni"), 1, lambda e: [e]).alias("_u"),
        _run_scan(F.col("_bi"), 2, lambda e: [e["0"], e["1"]]).alias("_b"),
    )
    n = F.col("n_tokens")
    zero_d = F.lit(0.0)
    return scanned.select(
        id_col,
        "n_tokens",
        F.col("_u")["ndist"].alias("n_distinct"),
        F.col("_u")["top"].alias("top_token_count"),
        F.col("_b")["top"].alias("top_bigram_count"),
        F.when(n > 0, (n - F.col("_u")["ndist"]).cast("double") / n).otherwise(zero_d).alias("dup_token_frac"),
        F.when(n > 0, F.col("_u")["top"].cast("double") / n).otherwise(zero_d).alias("top_token_frac"),
        F.when(n >= 2, F.col("_b")["top"].cast("double") / (n - 1)).otherwise(zero_d).alias("top_bigram_frac"),
    )


def default_pack_buckets(spark) -> int:
    """Default stream count for ``pack_token_stream``: 2× the cluster's
    default parallelism, floored at 64.  The window sum inside each bucket
    is sequential, so ``n_buckets`` IS the packing stage's max parallelism —
    a fixed count would cap a 1000-executor cluster at 64 concurrent
    streams.  2× leaves slack for skewed bucket sizes; the md5 bucket
    function keeps any EXPLICIT ``n_buckets`` bit-deterministic across
    cluster sizes (pass one when the layout must be reproducible)."""
    return max(64, 2 * spark.sparkContext.defaultParallelism)


def pack_token_stream(
    df,
    budget: int,
    n_buckets: int = None,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Training-sequence packing layout: concatenate documents into
    ``n_buckets`` independent token streams (bucket = md5(id) — stable,
    engine-portable) and chop each stream into fixed-``budget`` sequences
    — the standard LLM-pretraining shape where documents may straddle
    sequence boundaries.  Returns one row per doc:

    - ``bucket``        — which stream the doc concatenates into
    - ``n_tokens``      — whitespace token count contributed
    - ``start_seq``     — sequence index holding the doc's first token
    - ``start_off``     — offset of that token within ``start_seq``
    - ``end_seq``       — sequence index holding the doc's last token

    Everything is a running window sum in (bucket, id) order — pure native
    expressions, ONE shuffle on the bucket key, no sequential driver pass:
    at corpus scale each bucket's cumulative sums are independent, so the
    layout parallelizes by bucket while staying bit-deterministic for a
    FIXED ``n_buckets`` (same ids + same n_buckets → same packing on any
    cluster size).  ``n_buckets=None`` sizes the stream count to the
    cluster (``default_pack_buckets``) — parallelism over cross-cluster
    layout reproducibility; pass an explicit count when the layout must be
    portable.  Zero-token docs are dropped (they contribute nothing to the
    stream).  Sequence indices are pure int64 arithmetic (``div``) — no
    double rounding near 2^53 per the ANSI-mode truncation discipline.
    """
    from pyspark.sql import Window

    if n_buckets is None:
        n_buckets = default_pack_buckets(df.sparkSession)
    toks = df.select(
        F.col(id_col),
        F.pmod(
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("long"),
            F.lit(n_buckets),
        ).cast("int").alias("bucket"),
        token_count(text_col).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = F.lit(int(budget)).cast("long")
    return (
        toks.withColumn("_cum", F.sum("n_tokens").over(w))
        .withColumn("_start", F.col("_cum") - F.col("n_tokens"))
        .select(
            id_col,
            "bucket",
            "n_tokens",
            F.expr(f"_start div {int(budget)}").alias("start_seq"),
            F.pmod(F.col("_start"), b).alias("start_off"),
            F.expr(f"(_cum - 1) div {int(budget)}").alias("end_seq"),
        )
    )
