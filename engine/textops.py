"""Text-analysis + deduplication operators for large-scale training-data pipelines.

All hot paths are JVM Column expressions (xxhash64, higher-order functions) —
hashing, shingling, minhash, banding and Jaccard never leave whole-stage codegen;
numpy appears only in the simhash bit-fold (Arrow-batched, operating on JVM-computed
token hashes).

Operators:
  exact_dedup        hash-groupBy exact dedup (content fingerprint -> keeper + dups)
  word_ngrams        n-gram shingles over the token array (Column)
  minhash_signature  k-permutation minhash over token/shingle hashes (Column)
  minhash_lsh_pairs  banded LSH candidate pairs + exact Jaccard verification
  ngram_jaccard_pairs exact n-gram Jaccard over LSH candidates (or all pairs)
  simhash            64-bit simhash (JVM token hashes + Arrow bit-fold)
  simhash_near_dups  near-dup pairs by simhash Hamming distance
  lang_id            stopword-profile language guess (Column-only)
  quality_score      length/punct/stopword/digit heuristics (Column-only)
  token_count        whitespace + BPE-ish regex token counts
  fingerprint        document fingerprint (min-shingle-hash + md5)

Scale notes: dedup family keys every shuffle on a hash (uniform by construction —
no skew); LSH bucket join is an equi-join on (band, band_hash) so AQE skew handling
applies to pathological buckets; signatures are fixed-width arrays (n_hashes*8 B).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import truncate_lineage

_MERSENNE = 2147483647  # 2^31 - 1


# ---------------------------------------------------------------------------
# cross-engine string hash
# ---------------------------------------------------------------------------
# xxhash64 is the production default (fastest JVM path) but has no DuckDB twin.
# The "md5" impl takes the top 60 bits of md5 as a non-negative int64 —
# bit-identical in Spark (conv(substring(md5(s),1,15),16,10)) and DuckDB
# (('0x'||substr(md5(s),1,15))::BIGINT) — so operators built on it are
# oracle-checkable end-to-end.
def cross_hash(s: Column, impl: str = "xxhash64") -> Column:
    if impl == "xxhash64":
        return F.xxhash64(s)
    if impl == "md5":
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash impl {impl!r}")


def cross_hash_sql(expr: str) -> str:
    """DuckDB twin of cross_hash(impl='md5')."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# DuckDB twins of engine.textops.tokens / word_ngrams (list lambdas)
def tokens_sql(text_expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({text_expr}), '\\s+'), x -> x <> '')"
    )


def word_ngrams_sql(toks_expr: str, n: int = 3) -> str:
    return (
        f"(CASE WHEN len({toks_expr}) >= {n} THEN "
        f"list_transform(range(1, len({toks_expr}) - {n - 2}), "
        f"i -> array_to_string(list_slice({toks_expr}, i, i + {n - 1}), ' ')) "
        f"ELSE [] END)"
    )


def tokens(text: Column, pattern: str = r"\s+") -> Column:
    """Lower-cased whitespace tokens (empty tokens filtered)."""
    return F.filter(F.split(F.lower(text), pattern), lambda t: t != "")


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles: array of space-joined n-grams (empty if < n tokens)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content: (fp, keep_id, dup_count, dup_ids).
    Single hash aggregation; the md5 key is uniform so no skew."""
    return df.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("dup_count"),
        F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------
def _hash_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=n_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def minhash_signature(
    shingles: Column, n_hashes: int = 64, seed: int = 42, hash_impl: str = "xxhash64"
) -> Column:
    """array<string> shingles -> array<long> of n_hashes minhash values.

    h_i(s) = (a_i * (H(s) mod M) + b_i) mod M with M = 2^31-1 and H = cross_hash
    (xxhash64 default; 'md5' for the DuckDB-oracle twin); all int64 arithmetic
    stays below 2^62 (ANSI-safe). Empty shingle sets map to all-M sentinels
    (never collide with real minima)."""
    base = F.transform(
        shingles, lambda s: F.pmod(cross_hash(s, hash_impl), F.lit(_MERSENNE))
    )
    sig = [
        F.coalesce(
            F.array_min(
                F.transform(base, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MERSENNE)))
            ),
            F.lit(_MERSENNE).cast("long"),
        )
        for a, b in _hash_params(n_hashes, seed)
    ]
    return F.array(*sig)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (distinct element sets)."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(1.0))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: shingle -> minhash -> band -> bucket
    equi-join -> exact-Jaccard verify. Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    hash_impl='md5' makes the whole pipeline DuckDB-reproducible (see
    minhash_lsh_pairs_sql): the shingle hash swaps to the md5-derived int64 and
    the band bucket key becomes the concatenated signature slice itself (exact
    — band-hash collisions cannot add candidates), so Spark output == oracle
    output by construction, not just with high probability.

    Shuffles: one per band-explode groupBy join (a single equi-join on
    (band, band_hash)) + the verify join; candidate volume is bounded by bucket
    sizes, not n^2."""
    if n_hashes % bands != 0:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_ngrams(tokens(F.col(text_col)), ngram).alias("_sh"),
    ).withColumn("_sig", minhash_signature(F.col("_sh"), n_hashes, seed, hash_impl))

    def band_key(b):
        concat = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )
        # md5 mode: the slice string IS the key (exact, oracle-reproducible);
        # xxhash64 mode: hash it down to 8 bytes (cheaper shuffle key)
        return concat if hash_impl == "md5" else F.xxhash64(concat)

    banded = sh.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), band_key(b).alias("bh")),
            )
        ).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    sha = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    shb = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (brute force; oracle for the LSH path and the
    right plan only for small partitions of a corpus)."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        word_ngrams(tokens(F.col(text_col)), ngram).alias("_sh"),
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_indexed(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard via an inverted shingle index — same output as
    ngram_jaccard_pairs but with NO cross join: explode distinct shingles,
    equi-join the index with itself on the shingle hash (candidate pairs share
    >=1 shingle — any pair with jaccard > 0 appears), count shared shingles per
    pair (= intersection), derive the union from per-doc set sizes.

    This is the plan that survives scale-up: shuffle volume is the posting-list
    volume (sum of pair-counts per shingle), not n^2. Pathologically hot
    shingles behave like hot cells — AQE skew-join applies to the self-join;
    threshold > 0 guarantees every emitted pair shares a shingle, so no
    candidates are lost vs brute force."""
    if threshold <= 0:
        # jaccard == 0 pairs (disjoint sets) never co-occur in the index;
        # brute force is the only exact plan for threshold <= 0
        return ngram_jaccard_pairs(df, id_col, text_col, ngram, threshold)
    # the shingle projection feeds three consumers; materialize it ONCE via
    # checkpoint instead of persist(): checkpoint blocks are released by the
    # ContextCleaner when the frame is garbage-collected, so repeated calls
    # (bench loops) don't leak cached relations for the session lifetime, and
    # the 3x recompute of a bare projection is avoided. A RELIABLE checkpoint
    # (configured dir — engine.session sets one) survives executor loss, which
    # localCheckpoint does not; localCheckpoint is the dir-less fallback only.
    sh = truncate_lineage(
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(word_ngrams(tokens(F.col(text_col)), ngram))
            .alias("_sh"),
        )
    )
    sizes = sh.select("_id", F.size("_sh").alias("_n"))
    posts = sh.select("_id", F.explode("_sh").alias("_g")).select(
        "_id", F.xxhash64("_g").alias("_gh")
    )
    l, r = posts.alias("l"), posts.alias("r")
    inter = (
        l.join(r, (F.col("l._gh") == F.col("r._gh")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count("*").alias("_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # parity with the brute-force semantics: two EMPTY shingle sets have
    # union == 0 -> jaccard defined as 1.0 (ngram_jaccard_pairs's otherwise arm)
    empt = sizes.filter(F.col("_n") == 0).select("_id")
    ea, eb = empt.alias("ea"), empt.alias("eb")
    empty_pairs = (
        ea.join(eb, F.col("ea._id") < F.col("eb._id"))
        .select(
            F.col("ea._id").alias("id_a"),
            F.col("eb._id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return out.unionByName(empty_pairs)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------
def np_simhash_fold(lists: list) -> np.ndarray:
    """Batch simhash fold, fully vectorized across rows: flatten every row's
    token hashes, then ONE np.add.reduceat per bit-plane (64 passes over the
    flat array — no per-row Python work beyond the unavoidable list unboxing).
    bit j of the output = 1 iff (#tokens with bit j set) > (#tokens without)."""
    n = len(lists)
    out = np.zeros(n, dtype=np.uint64)
    arrs = [
        (i, np.asarray(hs, dtype=np.int64))
        for i, hs in enumerate(lists)
        if hs is not None and len(hs) > 0
    ]
    if not arrs:
        return out.astype(np.int64)
    idx = np.fromiter((i for i, _ in arrs), dtype=np.int64, count=len(arrs))
    lens = np.fromiter((len(a) for _, a in arrs), dtype=np.int64, count=len(arrs))
    flat = np.concatenate([a for _, a in arrs]).view(np.uint64)
    starts = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    ne = np.zeros(len(arrs), dtype=np.uint64)
    for j in range(64):
        bitj = ((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
        ones = np.add.reduceat(bitj, starts)
        # votes = 2*ones - len > 0  <=>  2*ones > len
        ne |= np.where(2 * ones > lens, np.uint64(1) << np.uint64(j), np.uint64(0))
    out[idx] = ne
    return out.astype(np.int64)


@F.pandas_udf(T.LongType())
def _simhash_fold(token_hashes: pd.Series) -> pd.Series:
    """array<long> token hashes -> 64-bit simhash (vectorized batch fold)."""
    return pd.Series(np_simhash_fold(list(token_hashes)))


def simhash(text: Column, hash_impl: str = "xxhash64") -> Column:
    """64-bit simhash: JVM tokenization+hashing, Arrow-batched numpy bit fold.
    hash_impl='md5' uses the 60-bit cross-engine token hash (bits 60-63 then
    always vote negative -> 0 in both engines), making the value DuckDB-
    reproducible (simhash_sql)."""
    return _simhash_fold(F.transform(tokens(text), lambda t: cross_hash(t, hash_impl)))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 bit patterns (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by simhash: block on 4 x 16-bit chunks (a pair within Hamming
    distance <= 3 shares at least one exact chunk — pigeonhole), verify exact
    Hamming. Equi-join on (chunk_idx, chunk_value): no n^2.

    For max_hamming <= 3 the blocking is LOSSLESS (pigeonhole over 4 chunks), so
    the output is exactly {pairs with hamming <= max_hamming} — which is what
    simhash_near_dups_sql expresses directly for the oracle."""
    s = df.select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col), hash_impl).alias("_sh")
    )
    chunks = s.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"),
                        F.shiftrightunsigned(F.col("_sh"), i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("_id", "_sh", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.ci") == F.col("r.ci"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            hamming64(F.col("l._sh"), F.col("r._sh")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# language id / quality / tokens / fingerprint
# ---------------------------------------------------------------------------
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "que", "es"],
}


def lang_id(text: Column) -> Column:
    """Heuristic language guess: argmax of stopword-profile hit counts over the
    token array ('und' unknown when all profiles score 0)."""
    toks = tokens(text)
    scores = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias("s"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(_STOPWORDS.items())
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best.getField("s") > 0, best.getField("lang")).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """struct of quality heuristics: n_chars, n_tokens, mean_token_len_e3,
    stop_ratio_e3 (per-mille), digit_ratio_e3, score_e3 (composite)."""
    toks = tokens(text)
    n_chars = F.length(text)
    n_toks = F.size(toks)
    mean_tok = F.when(n_toks > 0, F.floor(n_chars * 1000 / n_toks)).otherwise(F.lit(0))
    all_stop = F.array(
        *[F.lit(w) for ws in _STOPWORDS.values() for w in ws]
    )
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(all_stop, t)))
    stop_ratio = F.when(n_toks > 0, F.floor(n_stop * 1000 / n_toks)).otherwise(F.lit(0))
    n_digits = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    digit_ratio = F.when(n_chars > 0, F.floor(n_digits * 1000 / n_chars)).otherwise(
        F.lit(0)
    )
    score = F.greatest(
        F.lit(0),
        F.least(F.lit(1000), F.lit(500) + stop_ratio * 2 - digit_ratio),
    )
    return F.struct(
        n_chars.cast("long").alias("n_chars"),
        n_toks.cast("long").alias("n_tokens"),
        mean_tok.cast("long").alias("mean_token_len_e3"),
        stop_ratio.cast("long").alias("stop_ratio_e3"),
        digit_ratio.cast("long").alias("digit_ratio_e3"),
        score.cast("long").alias("score_e3"),
    )


# BPE-ish pre-tokenizer: splits words, numbers, and punctuation runs like a GPT-2
# style pattern (simplified for the builtin regex engine)
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count(text: Column, mode: str = "whitespace") -> Column:
    """Token counts: 'whitespace' (split on runs of whitespace) or 'bpe' (count of
    GPT-2-ish pre-tokenizer matches via regexp_count)."""
    if mode == "whitespace":
        return F.size(tokens(text)).cast("long")
    if mode == "bpe":
        return F.regexp_count(text, F.lit(_BPE_PATTERN)).cast("long")
    raise ValueError(f"unknown token_count mode {mode!r}")


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------
def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Per-document top-k salient terms by smoothed TF-IDF
    (idf = ln((1+N)/(1+df)) + 1). Ranking is by the actual score — as the
    INTEGER floor-scaled tfidf_e6 (desc), term asc tiebreak — so a rare
    high-idf term outranks a common term with higher raw tf, which is what
    "top-k by TF-IDF" promises. Ranking on the integer keeps the order
    deterministic across engines; tfidf_e6 itself already rides in the
    hash-checked output, so the (empirically ulp-identical) ln evaluation
    adds no new cross-engine risk beyond the value column.

    Plan: one doc-term aggregation (shuffle on (doc, term)), one term-keyed
    df aggregation + join (broadcast it when the vocabulary is small; AQE
    otherwise), N via a broadcast 1-row scalar join (no collect), one window
    on doc. Returns (id, term, rank, tf, tfidf_e6)."""
    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (
                F.log(
                    (1.0 + F.col("n_docs").cast("double"))
                    / (1.0 + F.col("df").cast("double"))
                )
                + 1.0
            ),
        )
    )
    scored = scored.withColumn(
        "tfidf_e6", F.floor(F.col("tfidf") * 1_000_000).cast("long")
    )
    w = Window.partitionBy("_id").orderBy(
        F.col("tfidf_e6").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "term",
            F.col("rank").cast("long").alias("rank"),
            F.col("tf").cast("long").alias("tf"),
            "tfidf_e6",
        )
    )


def tfidf_top_terms_sql(table: str, id_col: str, text_col: str, k: int = 5) -> str:
    """DuckDB twin of tfidf_top_terms (same smoothing, same op order)."""
    return f"""
        WITH toks AS (
          SELECT {id_col} AS _id, unnest({tokens_sql(text_col)}) AS term
          FROM {table}
        ), tf AS (
          SELECT _id, term, COUNT(*) AS tf FROM toks GROUP BY _id, term
        ), dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (
          SELECT COUNT(*) AS n_docs FROM {table}
        ), scored AS (
          SELECT tf._id, tf.term, tf.tf, dfreq.df,
                 tf.tf * (LN((1.0 + CAST(n.n_docs AS DOUBLE))
                             / (1.0 + CAST(dfreq.df AS DOUBLE))) + 1.0) AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ), scored_e6 AS (
          SELECT *, CAST(FLOOR(tfidf * 1000000) AS BIGINT) AS tfidf_e6
          FROM scored
        )
        SELECT CAST(_id AS BIGINT) AS {id_col}, term,
               CAST(rank AS BIGINT) AS rank, CAST(tf AS BIGINT) AS tf,
               tfidf_e6
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY _id
                      ORDER BY tfidf_e6 DESC, term ASC) AS rank
          FROM scored_e6
        ) t WHERE rank <= {k}
    """


# ---------------------------------------------------------------------------
# DuckDB oracle twins (hash_impl='md5' paths)
# ---------------------------------------------------------------------------
def minhash_lsh_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB twin of minhash_lsh_pairs(hash_impl='md5'): candidate pairs are
    exactly those sharing one band's signature slice (the md5-mode band key is
    the slice itself, so no hash collisions), verified by exact Jaccard.
    Emits (id_a, id_b, jaccard_e3) matching q_minhash_dedup's aliases."""
    if n_hashes % bands != 0:
        raise ValueError("bands must divide n_hashes")
    rpb = n_hashes // bands
    sig_exprs = ",\n        ".join(
        f"coalesce(list_min(list_transform(_base, h -> (h * {a} + {b}) % {_MERSENNE}))"
        f", {_MERSENNE})"
        for a, b in _hash_params(n_hashes, seed)
    )
    # MATERIALIZED + banded string-key equi-join: same plan shape as the Spark
    # side (hash join on (band, slice-string)), NOT an OR-of-slices theta join
    # (which DuckDB executes as a nested loop re-evaluating the sig CTE — ~100x
    # slower).
    return f"""
        WITH t AS MATERIALIZED (
          SELECT {id_col} AS _id,
                 {word_ngrams_sql(tokens_sql(text_col), ngram)} AS _sh
          FROM {table}
        ), sig AS MATERIALIZED (
          SELECT _id, [
        {sig_exprs}
          ] AS _sig FROM (
            SELECT _id,
                   list_transform(_sh, s -> {cross_hash_sql('s')} % {_MERSENNE})
                     AS _base
            FROM t
          )
        ), banded AS (
          SELECT _id, r.i AS band,
                 array_to_string(list_transform(
                   list_slice(_sig, r.i * {rpb} + 1, (r.i + 1) * {rpb}),
                   v -> CAST(v AS VARCHAR)), ',') AS bh
          FROM sig CROSS JOIN (SELECT unnest(range({bands})) AS i) r
        ), cand AS (
          SELECT DISTINCT a._id AS id_a, b._id AS id_b
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bh = b.bh AND a._id < b._id
        ), p AS (
          SELECT id_a, id_b,
                 len(list_intersect(list_distinct(ta._sh), list_distinct(tb._sh)))
                   AS inter,
                 len(list_distinct(ta._sh)) + len(list_distinct(tb._sh))
                   - len(list_intersect(list_distinct(ta._sh), list_distinct(tb._sh)))
                   AS uni
          FROM cand JOIN t ta ON cand.id_a = ta._id
                    JOIN t tb ON cand.id_b = tb._id
        )
        SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
               CAST(FLOOR((CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
                           ELSE 1.0 END) * 1000) AS BIGINT) AS jaccard_e3
        FROM p
        WHERE (CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni ELSE 1.0 END)
              >= {threshold}
    """


def simhash_near_dups_sql(
    table: str, id_col: str, text_col: str, max_hamming: int = 3
) -> str:
    """DuckDB twin of simhash_near_dups(hash_impl='md5'). For max_hamming <= 3 the
    4x16-bit chunk blocking is lossless (pigeonhole), so the Spark output is
    exactly {pairs: hamming(simhash_a, simhash_b) <= max_hamming} — expressed
    here directly. The md5 token hash is 60-bit, so only bit-planes 0..59 can
    ever be set (both engines)."""
    if max_hamming > 3:
        raise ValueError("chunk blocking is only lossless for max_hamming <= 3")
    votes = ",\n        ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(60)
    )
    pack = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    return f"""
        WITH toks AS (
          SELECT {id_col} AS _id, unnest({tokens_sql(text_col)}) AS t
          FROM {table}
        ), h AS (
          SELECT _id, {cross_hash_sql('t')} AS hv FROM toks
        ), v AS (
          SELECT _id,
        {votes}
          FROM h GROUP BY _id
        ), s0 AS (
          SELECT _id, ({pack}) AS sh FROM v
        ), s AS (
          SELECT d._id, coalesce(s0.sh, 0) AS sh
          FROM (SELECT {id_col} AS _id FROM {table}) d LEFT JOIN s0 USING (_id)
        )
        SELECT CAST(a._id AS BIGINT) AS id_a, CAST(b._id AS BIGINT) AS id_b,
               CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        FROM s a JOIN s b
          ON a._id < b._id AND bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


def fingerprint(text: Column, ngram: int = 3) -> Column:
    """Deterministic int64 document fingerprint: minimum shingle hash (stable under
    shingle reordering, robust to whitespace differences via tokenization)."""
    sh = word_ngrams(tokens(text), ngram)
    return F.coalesce(
        F.array_min(F.transform(sh, lambda s: F.xxhash64(s))),
        F.xxhash64(F.concat_ws(" ", tokens(text))),
    )
