"""Text-analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions (whole-stage codegen,
no Python in the hot path), deterministic, and expressible in ANSI SQL so the
DuckDB oracle can verify them bit-for-bit.  Designed for 100 TB corpora: every
operator is a narrow per-row map (no shuffle) unless it aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword language
# heuristic.  Deliberately small + frozen: the SQL oracle mirrors them.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "que"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization, lower-cased, empty tokens dropped."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: words + punctuation marks counted
    separately (a cheap, deterministic proxy for a BPE tokenizer)."""
    words = F.size(F.filter(F.split(F.lower(text), r"[^a-z0-9']+"),
                            lambda t: t != ""))
    puncts = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return (words + puncts).cast("long")


def punct_ratio(text: Column) -> Column:
    non_word = F.length(text) - F.length(
        F.regexp_replace(text, r"[^\w\s]", ""))
    return F.round(non_word / F.greatest(F.length(text), F.lit(1)), 6)


def stopword_ratio(text: Column, stopwords=("the", "a", "and", "of", "to"),
                   toks: Column | None = None) -> Column:
    toks = tokens(text) if toks is None else toks
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)


def avg_word_len(text: Column, toks: Column | None = None) -> Column:
    toks = tokens(text) if toks is None else toks
    total = F.aggregate(toks, F.lit(0).cast("long"),
                        lambda acc, t: acc + F.length(t))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(text: Column, toks: Column | None = None) -> Column:
    """Composite quality heuristic in [0,1]: penalises too-short docs, high
    punctuation density and degenerate word lengths.  Deterministic."""
    toks = tokens(text) if toks is None else toks
    n_tok = F.size(toks).cast("long")
    len_ok = F.least(n_tok / F.lit(32.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    wl = avg_word_len(text, toks=toks)
    wl_ok = F.when((wl >= 3) & (wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_ok + punct_ok + wl_ok) / 3.0, 6)


def lang_guess(text: Column, toks: Column | None = None) -> Column:
    """Stopword-marker language ID: the language with the most marker hits
    wins; ties and zero-hit docs -> 'und'.  Mirrors to a SQL CASE chain."""
    toks = tokens(text) if toks is None else toks

    def marker_hits(markers):
        # one-parameter lambda: PySpark passes the element index to any
        # extra lambda parameter, so a default-arg capture would be
        # clobbered by a Column.
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    hits = {lang: marker_hits(markers)
            for lang, markers in LANG_MARKERS.items()}
    langs = sorted(LANG_MARKERS)  # deterministic priority on ties: first wins
    best = F.greatest(*[hits[lg] for lg in langs])
    out = F.lit("und")
    # reversed so the FIRST language in sorted order wins ties
    for lg in reversed(langs):
        out = F.when((best > 0) & (hits[lg] == best), F.lit(lg)).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalised, lower-cased
    text (md5 exists verbatim in DuckDB, so the oracle matches exactly)."""
    normalized = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(normalized)


def rolling_fingerprints(text: Column, window: int = 4) -> Column:
    """Winnowing-style rolling fingerprints: md5 over each ``window``-token
    span; returns the 4 lexicographically smallest (document sketch).

    Token array let-bound (round 12): the inlined form re-evaluated the
    regex-split subtree per span position — O(tokens^2).  Results identical
    (tests/test_expr_binding.py)."""
    from .util import bind_once

    def spans_of(tks):
        n = F.size(tks)
        spans = F.transform(
            F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(tks, i, window))))
        return F.slice(F.array_sort(spans), 1, 4)

    return bind_once(tokens(text), spans_of)


def text_profile(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document analysis record: two narrow projections, no shuffle.

    The token array is materialised in a first projection and every
    token-derived metric reads the stored array (CollapseProject keeps the
    boundary because the tokenizer expression is non-cheap and referenced
    many times) — tokenization happens once per row, not once per metric.
    """
    t = F.col(text_col)
    staged = df.select(F.col(id_col), t.alias("__text"),
                       tokens(t).alias("__toks"))
    tt = F.col("__text")
    tk = F.col("__toks")
    return staged.select(
        F.col(id_col),
        F.size(tk).cast("long").alias("n_tokens"),
        bpe_ish_token_count(tt).alias("n_bpe_tokens"),
        F.length(tt).cast("long").alias("n_chars"),
        avg_word_len(tt, toks=tk).alias("avg_word_len"),
        punct_ratio(tt).alias("punct_ratio"),
        stopword_ratio(tt, toks=tk).alias("stopword_ratio"),
        quality_score(tt, toks=tk).alias("quality"),
        lang_guess(tt, toks=tk).alias("lang_guess"),
        fingerprint(tt).alias("fingerprint"),
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Non-distinct word n-grams (frequency-preserving, unlike
    dedup.word_shingles which deduplicates for set-similarity).

    Guard: sequence(1, 0) DESCENDS in Spark, so an empty doc must yield an
    empty array, not slice(toks, 0, n) (an error at runtime).
    """
    cnt = F.size(toks) - (n - 1)
    grams = F.transform(F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(cnt > 0, grams).otherwise(
        F.array().cast("array<string>"))


def repetition_profile(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Gopher-style per-document repetition filters (Rae et al. 2021 §A1.1).

    Returns one row per doc:
      - ``n_tokens``
      - ``dup_token_frac``   fraction of tokens that repeat an earlier token
      - ``max_token_frac``   share of the single most frequent token
      - ``top_bigram_cover`` max over bigrams of count(g)*len(g) / n_chars
                             (character coverage of the most repetitive
                             2-gram; Gopher's "top n-gram character
                             fraction" without needing an argmax, so the
                             metric is engine-order independent)
      - ``dup_line_frac``    fraction of lines that repeat an earlier line

    All pure column expressions: a narrow per-row map, no shuffle.  The
    per-row cost is O(distinct_tokens * n_tokens) — bounded for real
    corpora by a pre-filter on n_chars (documents longer than the training
    cutoff are truncated upstream), so there is no skew hazard at 100 TB.

    The token/bigram/line arrays and their distincts are STAGED as stored
    columns across projection boundaries: inlined into the count lambdas
    they would be re-built once per distinct gram (measured 13x slower at
    sf0.1 — array construction, not counting, dominated).
    """
    t = F.col(text_col)
    s1 = df.select(F.col(id_col), t.alias("__text"), tokens(t).alias("__tk"))
    s2 = s1.select(
        F.col(id_col), F.col("__text"), F.col("__tk"),
        _word_ngrams(F.col("__tk"), 2).alias("__bg"),
        F.filter(F.split(F.col("__text"), r"\n"),
                 lambda x: x != "").alias("__ln"))
    s3 = s2.select(
        F.col(id_col), F.col("__text"), F.col("__tk"), F.col("__bg"),
        F.col("__ln"),
        F.array_distinct(F.col("__tk")).alias("__dtk"),
        F.array_distinct(F.col("__bg")).alias("__dbg"),
        F.array_distinct(F.col("__ln")).alias("__dln"))
    tk, bg, ln = F.col("__tk"), F.col("__bg"), F.col("__ln")
    n = F.size(tk)
    safe_n = F.greatest(n, F.lit(1))
    big_cover = F.array_max(F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(F.col("__dbg"),
                    lambda g: (F.size(F.filter(bg, lambda x: x == g))
                               * F.length(g)).cast("long"))))
    n_lines = F.greatest(F.size(ln), F.lit(1))
    return s3.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round((n - F.size(F.col("__dtk"))) / safe_n, 6)
         .alias("dup_token_frac"),
        F.round(F.array_max(F.concat(
            F.array(F.lit(0)),
            F.transform(F.col("__dtk"),
                        lambda g: F.size(F.filter(tk, lambda x: x == g)))))
                / safe_n, 6).alias("max_token_frac"),
        F.round(big_cover / F.greatest(F.length(F.col("__text")), F.lit(1)),
                6).alias("top_bigram_cover"),
        F.round((F.size(ln) - F.size(F.col("__dln"))) / n_lines, 6)
         .alias("dup_line_frac"),
    )


# PII patterns shared with the SQL oracle: the common Java-regex/RE2 subset
# (no backrefs, no lookaround), so Spark and DuckDB match identically.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d() -]{6,}\d", "<PHONE>"),
)


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact emails, IPv4 addresses and phone-like digit runs.

    Returns (id, redacted text, n_email, n_ip, n_phone).  Patterns apply in
    order, each counting on the PREVIOUS stage's output so a redacted email
    can't double-count as a phone number.  Pure regexp column expressions —
    per-row map, no shuffle, whole-stage codegen.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long")
                      .alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select(F.col(id_col), cur.alias("text"), *counts)


def chunk_documents(df: DataFrame, size: int = 16, overlap: int = 4,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping token windows for training.

    Chunk starts are 1, 1+step, ... with step = size - overlap, while
    start <= max(n_tokens - size + step, 1) — the final window swallows the
    tail (no chunk is a suffix of the previous one).  Empty docs produce no
    chunks.  Returns (doc_id, chunk_id, chunk_text, n_chunk_tokens).

    explode() of a per-row sequence: rows fan out ~n_tokens/step with no
    shuffle; downstream repartitioning (if needed) is the caller's choice.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    step = size - overlap
    t = F.col(text_col)
    staged = df.select(F.col(id_col), tokens(t).alias("__toks"))
    n = F.size(F.col("__toks"))
    starts = F.sequence(F.lit(1),
                        F.greatest(n - size + step, F.lit(1)),
                        F.lit(step))
    ex = (staged.where(n > 0)
          .select(F.col(id_col), F.col("__toks"),
                  F.explode(starts).alias("__s")))
    return ex.select(
        F.col(id_col),
        ((F.col("__s") - 1) / step).cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice(F.col("__toks"), F.col("__s"), size))
         .alias("chunk_text"),
        F.least(F.lit(size), F.size(F.col("__toks")) - F.col("__s") + 1)
         .cast("long").alias("n_chunk_tokens"),
    )


def top_ngrams_by_doc_freq(df: DataFrame, n: int = 2, k: int = 20,
                           text_col: str = "text") -> DataFrame:
    """Corpus-level n-gram statistics: the k n-grams appearing in the most
    documents.  Returns (ngram, doc_freq), ties broken lexicographically.

    One explode + hash aggregate + TakeOrderedAndProject: partial counts
    combine map-side, and only k rows per partition reach the driver — the
    plan a 100 TB corpus wants.
    """
    from .dedup import word_shingles
    from .layout import ensure_parallelism
    ex = ensure_parallelism(df).select(
        F.explode(word_shingles(F.col(text_col), n)).alias("ngram"))
    return (ex.groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .orderBy(F.col("doc_freq").desc(), F.col("ngram"))
            .limit(k))


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id",
                    n_docs: int | None = None) -> DataFrame:
    """Per-document top-k TF-IDF terms.  Returns (doc_id, term, score).

    tf = occurrences of the term in the doc; idf = ln((N + 1) / (df + 1))
    with df = number of docs containing the term.  Scores are rounded to 6
    places BEFORE ranking so the ordering is reproducible across engines
    (ties then break lexicographically).  ``n_docs`` avoids a count job
    when the caller already knows N; when omitted it is computed once.

    Plan shape: tokenize once, one (doc, term) aggregate for tf, one term
    aggregate for df (broadcast back — the vocabulary is tiny next to the
    corpus), one window per doc for the top-k.
    """
    from pyspark.sql import Window

    from .layout import ensure_parallelism
    base = ensure_parallelism(df)
    if n_docs is None:
        n_docs = base.count()
    terms = base.select(F.col(id_col),
                        F.explode(tokens(F.col(text_col))).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (terms.dropDuplicates([id_col, "term"])
             .groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .withColumn("score", F.round(
                  F.col("tf") * F.log((n_docs + 1) / (F.col("df") + 1)), 6)))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term"))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
            .select(id_col, "term", "score"))


def bm25_topk(df: DataFrame, query: str, k: int = 10, k1: float = 1.2,
              b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 retrieval: the top-k documents for a constant query
    string.  Returns (doc_id, score) ordered by score desc then doc_id,
    scores rounded to 6 places BEFORE ranking (the tfidf_top_terms
    reproducibility recipe).

    idf is the non-negative Lucene variant
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``; the length normalization
    uses ``dl / avgdl`` with avgdl expressed exactly as
    ``dl * N / total_tokens`` so no pre-rounded scalar leaks into the
    score.

    Plan shape (100-TB): the query's terms are a driver-side constant
    list, so the exploded token stream is filtered to them BEFORE any
    aggregation -- the shuffled volume is O(matching tokens), not
    O(corpus tokens) -- and the corpus is scanned/tokenized exactly
    ONCE.  Per-doc length rides along the explode (no second join),
    document frequency is a window count over the per-(doc, term) rows
    (no second aggregate branch, no join), the final score is ONE
    map-side-combinable aggregate to matching-doc rows, and only k rows
    reach the driver (TakeOrderedAndProject).  Corpus constants (N,
    total token count) are one scan-level aggregate computed up front.
    """
    qterms = sorted({t for t in query.lower().split() if t})
    if not qterms:
        raise ValueError("bm25_topk: query has no tokens")
    from .layout import ensure_parallelism
    base = ensure_parallelism(df)
    totals = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("total")).collect()[0]
    n_docs, total_tokens = int(totals["n"]), int(totals["total"] or 0)
    if n_docs == 0 or total_tokens == 0:
        return base.select(F.col(id_col),
                           F.lit(0.0).alias("score")).limit(0)
    terms = (base.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("__dl"),
        F.explode(tokens(F.col(text_col))).alias("term"))
        .where(F.col("term").isin(qterms)))
    tf = (terms.groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).alias("tf"),
               F.first("__dl").alias("dl")))
    # tf already holds one row per (doc, term), so document frequency is
    # a window count over it -- the corpus is tokenized/scanned ONCE and
    # there is no second aggregate branch or join at all; the window
    # shuffles only the matched doc-term rows on the term key
    from pyspark.sql import Window
    dfc = F.count(F.lit(1)).over(Window.partitionBy("term"))
    idf = F.log(F.lit(1.0) + (F.lit(float(n_docs)) - dfc + 0.5)
                / (dfc + 0.5))
    norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl") * F.lit(float(n_docs))
                / F.lit(float(total_tokens))))
    contrib = tf.select(F.col(id_col), (idf * norm).alias("__c"))
    return (contrib.groupBy(id_col)
            .agg(F.round(F.sum("__c"), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))
