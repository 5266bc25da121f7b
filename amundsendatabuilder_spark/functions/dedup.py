"""Deduplication family for web-scale corpora.

Five strategies, cheap → precise, all shuffle-disciplined:

* **exact** — fingerprint hash-groupBy; map-side combine collapses dup groups
  before the shuffle.
* **n-gram Jaccard** — exact set similarity via shingle self-join (inverted
  index). Exact but quadratic in posting-list length; used as the verifier.
* **MinHash + LSH** — k permutations → b bands; band-bucket join proposes
  candidates in near-linear time; Jaccard on candidates only. The 100 TB path.
* **SimHash** — 64-bit bit-voting signature; hamming-close buckets.
* **embedding cosine** — near-dup by vector similarity (see similarity.py).

MinHash/SimHash signatures are computed with JVM-side hashes per shingle +
array aggregation (no Python in the hot path). Two hashers:

* ``xxhash64`` (default) — fastest, codegen'd, the production path.
* ``md5`` — 60-bit int from the first 15 hex chars of md5. Slower but
  **cross-engine reproducible** (DuckDB computes the identical value), which
  is how the driver's SQL oracle exactly verifies the MinHash/SimHash
  pipelines end-to-end (candidates AND estimates), not just row counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.text import doc_fingerprint, word_shingles


def hash64(col: Column, seed: int | None = None, hasher: str = "xxhash64") -> Column:
    """64-bit (xxhash64) or 60-bit (md5) integer hash of a string column.
    md5 variant: ``CAST('0x' || substr(md5(s || '|' || seed), 1, 15) AS
    BIGINT)`` in DuckDB produces the identical value."""
    if hasher == "xxhash64":
        return F.xxhash64(col) if seed is None else F.xxhash64(col, F.lit(seed))
    if hasher == "md5":
        s = col if seed is None else F.concat_ws("|", col, F.lit(str(seed)))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hasher {hasher}")


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: fingerprint, keeper id
    (min id), group size. One shuffle, partial-agg friendly."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per normalized-content fingerprint."""
    w = df.withColumn("fingerprint", doc_fingerprint(F.col(text_col)))
    keep = w.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return w.join(keep, ["fingerprint", id_col], "left_semi").drop("fingerprint")


def shingle_postings(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                     n: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing ≥1 shingle.

    Inverted-index self-join: postings grouped by shingle; ultra-common
    shingles (posting list > ``max_posting``) are dropped — standard stop-
    shingle pruning; a pair sharing ONLY stop-shingles is noise at any scale.
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    posts = shingle_postings(df, id_col, text_col, n).localCheckpoint(eager=True)
    sizes = posts.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    hot = (
        posts.groupBy("shingle").agg(F.count(F.lit(1)).alias("pc"))
        .where(F.col("pc") > max_posting)
        .select("shingle")
    )
    pruned = posts.join(hot, "shingle", "left_anti")

    a = pruned.select(F.col("shingle"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("shingle"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3, k: int = 64, hasher: str = "xxhash64") -> DataFrame:
    """k-permutation MinHash signature per doc, entirely JVM-side:
    sig[i] = min over shingles of hash64(shingle, seed=i)."""
    sh = df.select(F.col(id_col), word_shingles(F.col(text_col), n).alias("sh"))

    def _perm(i: int):
        # closure factory: a `lambda s, i=i:` would be seen by the HOF
        # machinery as a 2-arg lambda and receive the array index instead
        return lambda s: hash64(s, i, hasher)

    sig = F.array(
        *[F.array_min(F.transform(F.col("sh"), _perm(i))) for i in range(k)]
    )
    return sh.where(F.size("sh") > 0).select(F.col(id_col), sig.alias("signature"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    hasher: str = "xxhash64",
) -> DataFrame:
    """LSH banding: signature split into ``bands`` rows of k/bands values;
    docs sharing any band-hash are candidates. Near-linear: explode → shuffle
    on band hash → per-bucket pairs. Returns (id_a, id_b, est_jaccard).
    With ``hasher='md5'`` the band bucket is the raw joined string (portable
    to the SQL oracle) instead of its xxhash64 compression."""
    rows = k // bands
    sigs = minhash_signatures(df, id_col, text_col, n, k, hasher).localCheckpoint(eager=True)

    def _band_bucket(b: int):
        joined = F.concat_ws(
            "|", *[F.element_at("signature", b * rows + r + 1).cast("string") for r in range(rows)]
        )
        return F.xxhash64(joined) if hasher == "xxhash64" else joined

    banded = sigs.select(
        F.col(id_col),
        F.posexplode(F.array(*[_band_bucket(b) for b in range(bands)])).alias(
            "band", "bucket"
        ),
    )
    a = banded.select("band", "bucket", F.col(id_col).alias("id_a"))
    b = banded.select("band", "bucket", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.lit(float(64 if k is None else k))
            ).alias("est_jaccard"),
        )
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64, hasher: str = "xxhash64") -> DataFrame:
    """64-bit SimHash by bit-voting over word hashes, JVM-side: for each bit,
    sign(sum over words of ±1) — near-dups differ in few bits. With
    ``hasher='md5'`` word hashes are 60-bit, so simhash bits 60..63 are
    always 0 — identical in the SQL oracle, harmless for hamming."""
    words = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    hashes = F.transform(words, lambda w: hash64(w, None, hasher))

    def _vote(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    bit_votes = [
        F.aggregate(hashes, F.lit(0).cast("long"), _vote(b)) for b in range(bits)
    ]
    sim = None
    for b, v in enumerate(bit_votes):
        term = F.when(v > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) * F.lit(2 ** b).cast("long") if b < 63 else \
               F.when(v > 0, F.lit(-(2 ** 63))).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return df.select(F.col(id_col), sim.alias("simhash"))


def hamming_distance(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       hasher: str = "xxhash64",
                       max_candidate_pairs: int | None = 100_000_000) -> DataFrame:
    """Candidate near-dups by SimHash: block on ``max_hamming + 1`` bit
    segments — by pigeonhole, any pair within hamming ≤ max_hamming must
    agree exactly on at least one segment (the r01 4-quarter scheme was
    complete only for hamming ≤ 3; this generalizes it) — then verify the
    full hamming distance. Blocking is COMPLETE: output equals brute-force
    all-pairs at the same threshold, which is what the SQL oracle checks.

    Scale envelope: segment width w = 64/(max_hamming+1) bits ⇒ at most 2^w
    distinct bucket values per segment, so on n docs the expected candidate
    count is ≥ (max_hamming+1) · n²/2^(w+1) — quadratic per bucket once
    n ≫ 2^w (e.g. max_hamming=8 ⇒ w≈7 ⇒ 128 buckets). The guard ENFORCES
    that envelope: the exact candidate-pair count Σ n_b·(n_b−1)/2 over the
    segment buckets is computed first (one cheap aggregation over the
    simhash frame) and the job aborts if it exceeds ``max_candidate_pairs``
    (same fail-loudly contract as the staleness 5% guard,
    ``neo4j_staleness_removal_task.py:33-45``). Pass ``None`` to disable.
    For loose thresholds on large corpora use multi-stage blocking (tighten
    max_hamming, or pre-shard by exact-dup fingerprint) instead of raising
    the budget."""
    nseg = max_hamming + 1
    bounds = [round(64 * i / nseg) for i in range(nseg + 1)]
    s = simhash(df, id_col, text_col, hasher=hasher).localCheckpoint(eager=True)

    def _segment(i: int):
        lo, width = bounds[i], bounds[i + 1] - bounds[i]
        v = F.shiftrightunsigned("simhash", lo)
        if width < 64:
            v = v.bitwiseAND(F.lit((1 << width) - 1))
        return v.cast("long")

    segments = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*[_segment(i) for i in range(nseg)])).alias("q", "qval"),
    )
    if max_candidate_pairs is not None:
        n_cand = (
            segments.groupBy("q", "qval")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("c"))
            .first()["c"]
        )
        if n_cand and n_cand > max_candidate_pairs:
            raise RuntimeError(
                f"simhash blocking guard: {int(n_cand)} candidate pairs at "
                f"max_hamming={max_hamming} (segment width ≈{64 // nseg} bits) "
                f"exceeds budget {max_candidate_pairs} — tighten max_hamming, "
                f"pre-shard the corpus, or raise/disable max_candidate_pairs"
            )
    a = segments.select("q", "qval", F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"))
    b = segments.select("q", "qval", F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"))
    return (
        a.join(b, ["q", "qval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming_distance(F.col("h_a"), F.col("h_b")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def paragraph_blocks(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", block_words: int = 5) -> DataFrame:
    """Explode each document into consecutive non-overlapping ``block_words``-
    word blocks — the "paragraph" unit for sub-document dedup.

    Reference-family semantics: RefinedWeb/CCNet-style corpora dedup at
    paragraph granularity, not whole-document; the test corpus is single-line
    word streams, so a fixed word window is the deterministic paragraph
    analogue.  Block construction is a per-row higher-order ``transform`` +
    ``posexplode`` — zero shuffles, pure map side, which is what makes the
    pass viable over 100 TB (the only shuffles in the whole pipeline are the
    ones keyed by block content downstream).

    Returns ``(id_col, block_idx BIGINT, block STRING)``. A blank (empty or
    whitespace-only) doc splits into one empty token, so it emits one empty
    block ``''`` — and blank docs therefore count as duplicates of each
    other in :func:`paragraph_dedup`; a null doc emits nothing.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    nblocks = F.ceil(F.size(words) / F.lit(block_words)).cast("int")
    blocks = F.when(F.size(words) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nblocks - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i * block_words + 1, block_words)),
        )
    )
    return df.select(
        F.col(id_col),
        F.posexplode(blocks).alias("block_idx", "block"),
    ).withColumn("block_idx", F.col("block_idx").cast("long"))


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", block_words: int = 5) -> DataFrame:
    """Cross-corpus paragraph-level dedup statistics (RefinedWeb-style exact
    sub-document dedup, over fixed ``block_words``-word blocks).

    A block *occurrence* is a duplicate iff it is not the corpus-wide first
    occurrence of that block text, ordered by ``(doc_id, block_idx)`` — the
    keep-first rule the paragraph-dedup literature uses, and deterministic so
    the DuckDB oracle reproduces it bit-for-bit.

    Scale shape: one shuffle keyed by block text for the first-occurrence
    window (groups are tiny — corpus-wide copies of one block — so the
    per-group sort is O(copies)), then one partial-agg shuffle keyed by
    ``doc_id`` for the per-document rollup.  No joins, no broadcast, no
    skew surface beyond a pathological single block repeated corpus-wide
    (bounded by docs × blocks-per-doc).

    Returns per document: ``n_blocks``, ``n_dup_blocks`` (occurrences that
    would be dropped), and ``dup_permille`` (integer ‰ of duplicated blocks
    — integer division, no cross-engine float surface).
    """
    occ = paragraph_blocks(df, id_col, text_col, block_words)
    w = Window.partitionBy("block").orderBy(F.col(id_col).asc(), F.col("block_idx").asc())
    flagged = occ.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("long")
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("is_dup").alias("n_dup_blocks"),
        )
        .select(
            F.col(id_col),
            F.col("n_blocks"),
            F.col("n_dup_blocks"),
            F.expr("CAST((n_dup_blocks * 1000) DIV n_blocks AS BIGINT)").alias("dup_permille"),
        )
    )
