"""Text analysis for large-scale training-data pipelines.

All hot-path expressions are JVM built-ins (whole-stage codegen): tokenize,
token counts, quality scoring, language-ID heuristic, fingerprinting. Each is
deliberately *defined* so an external SQL engine (the DuckDB oracle) can
reproduce it exactly — determinism is part of the operator contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# language → discriminative stopwords (heuristic n-gram/lexicon language-ID)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}

_WORD_RE = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def re_token_count(text: Column) -> Column:
    """BPE-ish token count: word chunks + individual punctuation marks."""
    return F.coalesce(F.regexp_count(text, F.lit(_WORD_RE)), F.lit(0)).cast("long")


def stopword_count(text: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    if all(w.isascii() for w in words):
        pat = r"\b(" + "|".join(words) + r")\b"
    else:
        # CJK: \b is ASCII-word-boundary in RE2 (and effectively in Java's
        # default \w) — plain occurrence counting is the portable definition
        pat = "(" + "|".join(words) + ")"
    return F.coalesce(F.regexp_count(F.lower(text), F.lit(pat)), F.lit(0))


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword hit counts; ties and zero-hit rows
    fall back to 'unknown'. Deterministic tie-break: language name asc."""
    scores = [
        F.struct(
            stopword_count(text, lang).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(LANG_STOPWORDS)
    ]
    # max over (hits, lang) — but prefer SMALLER lang name on tied hits:
    # invert via array_min on (−hits, lang)
    cand = F.array_min(
        F.array(
            *[
                F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang"))
                for s in scores
            ]
        )
    )
    return F.when(cand["neg"] >= 0, F.lit("unknown")).otherwise(cand["lang"])


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    p = F.coalesce(F.regexp_count(text, F.lit(r"[^\w\s]")), F.lit(0))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = ws_token_count(text)
    return F.when(toks > 0, stopword_count(text, lang).cast("double") / toks.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite document quality in [0,1]: length band + low punctuation +
    reasonable mean word length. Formula is part of the contract:

    0.4 * min(1, n_tokens/64) + 0.3 * (1 − min(1, punct_ratio*4))
    + 0.3 * (1 if 3 ≤ mean_word_len ≤ 12 else 0)
    """
    toks = ws_token_count(text)
    mean_wl = F.when(
        toks > 0,
        (F.length(F.regexp_replace(text, r"\s+", ""))).cast("double") / toks.cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        F.lit(0.4) * F.least(F.lit(1.0), toks.cast("double") / F.lit(64.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(text) * 4))
        + F.lit(0.3) * F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    )


def normalize_for_fingerprint(text: Column) -> Column:
    """Canonical form for content-defined fingerprints: lowercase, strip all
    non-alphanumerics."""
    return F.regexp_replace(F.lower(text), r"[^a-z0-9]", "")


def doc_fingerprint(text: Column) -> Column:
    """Deterministic content fingerprint (md5 of normalized text) — the
    rolling-hash document identity used by exact dedup."""
    return F.md5(normalize_for_fingerprint(text))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (lowercased, whitespace-tokenized) — the shingle
    set for Jaccard/MinHash dedup. Empty/short docs → empty array."""
    words = F.split(F.trim(F.lower(text)), r"\s+")
    # transform over index positions: shingle i = words[i..i+n-1]
    k = F.size(words) - F.lit(n - 1)
    return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)]),
            )
        )
    )


def vocab_topk(df: DataFrame, text_col: str = "text",
               k: int = 100) -> DataFrame:
    """Corpus vocabulary: the ``k`` terms with the highest document
    frequency (one row per document assumed), deterministically
    tie-broken by term.  Returns ``(term, doc_freq, rank)``.

    Scale shape: per-doc DISTINCT terms (map-side, inside the explode),
    a partial+final hash count over terms, then top-k as a distributed
    ``TakeOrderedAndProject`` (``orderBy().limit(k)`` — each partition
    contributes only its own top ``k``, never a global single-partition
    sort of the full vocabulary, which at web scale is billions of
    distinct tokens).  The rank window then runs on the k-row result."""
    terms = df.select(
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        ).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    topk = counts.orderBy(F.col("doc_freq").desc(), F.col("term").asc()).limit(k)
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("term").asc())
    return topk.select(
        "term", "doc_freq",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 3,
                    idf_scale: int = 1_000_000) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF, with an INTEGER idf proxy
    (``floor(idf_scale * n_docs / doc_freq)``) so the score — and thus
    the ranking — is bit-identical across engines (a float ``ln`` would
    differ in the last ulp between libm implementations).  Ties break by
    term.  Returns ``(id, term, tf, score, rank)``.

    Scale shape: one shuffle to count (doc, term) pairs, one partial+
    final count for document frequency, a broadcast-sized term-frequency
    join when the vocabulary is small (Catalyst/AQE picks it), and the
    per-doc top-k window partitioned by doc — no global sort."""
    n_docs = df.select(id_col).distinct().count()
    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term"),
    )
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        pairs.select(id_col, "term").distinct()
        .groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    idf = F.floor(F.lit(idf_scale) * F.lit(n_docs) / F.col("doc_freq"))
    scored = tf.join(dfreq, "term").select(
        F.col(id_col), "term", "tf",
        (F.col("tf") * idf).cast("long").alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col(id_col), "term", "tf", "score",
                F.col("rank").cast("long").alias("rank"))
    )


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition quality signals.

    The Gopher/MassiveText quality filters drop documents whose content is
    dominated by repeated lines or n-grams; the test corpus is single-line
    word streams, so the word- and bigram-level analogues are computed:

    * ``n_words`` — whitespace token count. Blank (empty or
      whitespace-only) text splits into one empty token, so it counts
      ``n_words = 1`` (``distinct_words = 1``, no bigrams); null text
      gives null counts.
    * ``distinct_words`` — distinct lowercased tokens.
    * ``top_word_count`` — occurrences of the single most frequent token
      (the "fraction of tokens in the most common n-gram" signal, n=1).
    * ``dup_word_permille`` — integer ‰ of token occurrences that are
      repeats of an earlier token (``1000·(n-distinct)/n``).
    * ``dup_bigram_permille`` — same at bigram level: repeated word-pair
      occurrences over total bigrams.

    Scale shape: the array signals (counts, distincts, bigrams) are per-row
    higher-order functions — pure map side, zero shuffles, whole-stage
    codegen.  Only ``top_word_count`` needs aggregation: an explode →
    partial-agg count keyed by ``(doc, word)`` → partial-agg max keyed by
    ``doc`` — two map-side-combining shuffles on the document key, no joins.
    Integer outputs only (permille via integer division) so the DuckDB
    oracle matches bit-for-bit.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    nb = F.size(words) - 1  # bigram count
    bigrams = F.when(nb <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda i: F.concat_ws(" ", F.element_at(words, i), F.element_at(words, i + 1)),
        )
    )
    base = df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(words)).cast("long").alias("distinct_words"),
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("distinct_bigrams"),
    )
    top = (
        df.select(F.col(id_col), F.explode(words).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_word_count"))
    )
    return (
        base.join(top, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            "distinct_words",
            F.coalesce(F.col("top_word_count"), F.lit(0)).cast("long").alias("top_word_count"),
            F.expr(
                "CAST(CASE WHEN n_words > 0 THEN ((n_words - distinct_words) * 1000) DIV n_words "
                "ELSE 0 END AS BIGINT)"
            ).alias("dup_word_permille"),
            F.expr(
                "CAST(CASE WHEN n_bigrams > 0 THEN ((n_bigrams - distinct_bigrams) * 1000) DIV n_bigrams "
                "ELSE 0 END AS BIGINT)"
            ).alias("dup_bigram_permille"),
        )
    )
