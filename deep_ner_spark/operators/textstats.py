"""Text analysis for training-data pipelines: quality scoring, language ID,
token counting, fingerprinting.  All pure built-ins (JVM, codegen'd) so the
DuckDB oracle can reproduce values exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deep_ner_spark.compat import spread_small_scan
from deep_ner_spark.functions.text import tokens_col
from deep_ner_spark.operators.dedup import _word_grams

EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "this", "be", "are",
)


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


# BPE-ish pre-tokenizer: letter runs capped at 4 chars (a subword budget —
# real BPE merges average ~4 chars/piece on English web text), digit runs
# capped at 3 (GPT-style number chunking), every other non-space char its
# own piece.  Alternation + greedy bounded quantifiers only, so Java regex
# (Spark) and RE2 (DuckDB) match identically — no lookaround, which RE2
# lacks and which real BPE pre-tokenizers (GPT-2's \s+(?!\S)) do use.
BPE_ISH_PATTERN = r"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]"


def bpe_token_count_col(text: Column) -> Column:
    """Approximate subword token count via the BPE-ish regex — the cheap
    corpus-cost estimator run before a real (plugin) tokenizer."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token-count stats: (id, n_chars, ws_tokens, bpe_tokens).

    ws_tokens is the whitespace count (the dedup/shingle tokenizer);
    bpe_tokens the BPE-ish subword estimate.  All JVM built-ins inside one
    whole-stage-codegen projection — at corpus scale this is scan-bound.
    """
    text = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.length(text).alias("n_chars"),
        token_count_col(text).cast("long").alias("ws_tokens"),
        bpe_token_count_col(text).cast("long").alias("bpe_tokens"),
    )


def stopword_ratio_col(text: Column, stopwords=EN_STOPWORDS) -> Column:
    toks = tokens_col(text)
    stops = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stopwords)))
    return stops / F.greatest(F.size(toks), F.lit(1))


def punct_ratio_col(text: Column) -> Column:
    no_punct = F.regexp_replace(text, r"[^\w\s]", "")
    return (F.length(text) - F.length(no_punct)) / F.greatest(
        F.length(text), F.lit(1)
    )


def quality_features(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-doc quality features: lengths, ratios, mean word length.

    These are the length/punct/stopword heuristics a pre-training filter
    applies before expensive model scoring.
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    return df.select(
        F.col(id_col),
        F.length(text).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        (F.length(F.regexp_replace(text, r"\s", "")) / F.greatest(F.size(toks), F.lit(1))).alias(
            "mean_token_len"
        ),
        stopword_ratio_col(text).alias("stopword_ratio"),
        punct_ratio_col(text).alias("punct_ratio"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1))).alias(
            "distinct_ratio"
        ),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite [0,1] quality score from the feature columns.

    score = 0.4 * min(n_tokens/64, 1) + 0.3 * stopword presence band +
            0.3 * distinct ratio — a deterministic linear blend, the usual
    shape of heuristic quality filters.
    """
    f = quality_features(df, id_col, text_col)
    return f.select(
        id_col,
        (
            0.4 * F.least(F.col("n_tokens") / 64.0, F.lit(1.0))
            + 0.3 * F.when(
                (F.col("stopword_ratio") >= 0.01) & (F.col("stopword_ratio") <= 0.6),
                1.0,
            ).otherwise(0.0)
            + 0.3 * F.col("distinct_ratio")
        ).alias("quality_score"),
    )


def lang_id(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.05
) -> DataFrame:
    """Stopword-ratio language heuristic: 'en' above threshold else 'unk'.

    A deterministic n-gram-free stand-in for fasttext-style LID, chosen so
    the SQL oracle reproduces it exactly; swap in a model-backed pandas UDF
    where a real classifier is available.
    """
    return df.select(
        F.col(id_col),
        F.when(stopword_ratio_col(F.col(text_col)) >= threshold, "en")
        .otherwise("unk")
        .alias("lang_pred"),
    )


def rolling_fingerprint(
    df: DataFrame, id_col: str, text_col: str, base: int = 1_000_003,
    mod: int = (1 << 61) - 1,
) -> DataFrame:
    """Polynomial rolling hash of the full text (Karp-Rabin form).

    h = sum(ord(c_i) * base^i) mod (2^61 - 1) — order-sensitive (unlike
    :func:`doc_fingerprint`), vectorized per Arrow batch in NumPy with
    O(len) work and precomputed power tables per length bucket.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def fp(texts: pd.Series) -> pd.Series:
        pows: dict = {}

        def powers(n: int) -> np.ndarray:
            p = pows.get(n)
            if p is None:
                p = np.empty(n, dtype=np.uint64)
                acc = 1
                for i in range(n):
                    p[i] = acc
                    acc = (acc * base) % mod
                pows[n] = p
            return p

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(object)
            p = powers(len(codes)).astype(object)
            out.append(int((codes * p % mod).sum() % mod))
        return pd.Series(out, dtype="object")

    return df.select(F.col(id_col), fp(F.col(text_col)).alias("rolling_fp"))


def ngrams_of_tokens(toks: Column, n: int) -> Column:
    """Word n-grams WITH multiplicity from a token-array column (unlike
    dedup.shingles_of_tokens, which is distinct — repetition stats need
    occurrence counts), built by the same ``dedup._word_grams``.  Pass an
    ATTRIBUTE (a projected token array), not an expression: HOF lambdas
    get no common-subexpression elimination, so an embedded split+filter
    would re-run per gram element (measured 8x on repetition_stats at
    sf0.1)."""
    return F.when(F.size(toks) >= n, _word_grams(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


# encode (cnt, char_volume) into one ordered bigint so "most frequent gram,
# ties broken by char volume" is a plain max() in BOTH engines (DuckDB has
# no struct max): cnt <= n_tokens and cnt*len < 2^32 at any realistic doc
# size, so key = cnt * 2^32 + cnt*len orders by cnt first, volume second.
_TIE_BASE = 4294967296  # 2^32


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 2, dup_n: int = 3
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1):

    * ``top_ngram_char_frac`` — character volume of the single most
      frequent ``top_n``-gram over the total character volume of all
      ``top_n``-gram occurrences (ties on count broken by volume; any
      remaining tie has equal volume, so the value is deterministic);
    * ``dup_ngram_char_frac`` — character volume of ``dup_n``-grams that
      occur more than once, over total ``dup_n``-gram volume;
    * ``max_ngram_repeat`` — occurrence count of the most repeated
      ``dup_n``-gram (integer; the cheap threshold most filters gate on).

    Documents shorter than ``dup_n`` drop out (no grams to count), matching
    the usual filter behavior of skipping too-short docs.

    Scale: ONE tokenize+explode pass emits both n-gram orders tagged by n
    (the tokens are projected once — HOF no-CSE), then two hash aggs keyed
    by (id, n, gram) and id — uniformly distributed keys, partial
    aggregation on both, no per-doc quadratic HOF work, so long documents
    cost O(len), not O(len^2).  A small scan is spread over the cores
    before the tokenize (:func:`~deep_ner_spark.compat.spread_small_scan`).
    """
    docs = spread_small_scan(df.select(F.col(id_col), F.col(text_col)))
    toks = docs.select(F.col(id_col), tokens_col(F.col(text_col)).alias("__toks"))
    both = toks.select(
        id_col,
        F.concat(
            F.transform(
                ngrams_of_tokens(F.col("__toks"), top_n),
                lambda g: F.struct(F.lit(top_n).alias("n"), g.alias("gram")),
            ),
            F.transform(
                ngrams_of_tokens(F.col("__toks"), dup_n),
                lambda g: F.struct(F.lit(dup_n).alias("n"), g.alias("gram")),
            ),
        ).alias("__gs"),
    ).select(id_col, F.explode_outer("__gs").alias("__g"))
    counts = (
        both.where(F.col("__g").isNotNull())
        .groupBy(id_col, "__g")
        .agg(F.count("*").alias("cnt"))
        .select(
            id_col,
            F.col("__g.n").alias("n"),
            F.col("cnt"),
            (F.length("__g.gram")).alias("len"),
        )
    )
    is_top, is_dup = F.col("n") == top_n, F.col("n") == dup_n
    vol = F.col("cnt") * F.col("len")
    agg = counts.groupBy(id_col).agg(
        F.sum(F.when(is_top, vol)).alias("__tot_top"),
        F.max(F.when(is_top, F.col("cnt") * _TIE_BASE + vol)).alias("__key"),
        F.sum(F.when(is_dup, vol)).alias("__tot"),
        F.sum(F.when(is_dup & (F.col("cnt") > 1), vol).otherwise(
            F.when(is_dup, F.lit(0)))).alias("__dup"),
        F.max(F.when(is_dup, F.col("cnt"))).alias("max_ngram_repeat"),
    )
    # inner-join semantics of the two-pass form: a doc must have dup_n-grams
    # (len >= dup_n implies len >= top_n for the default orders)
    return agg.where(F.col("__tot").isNotNull() & F.col("__tot_top").isNotNull()).select(
        id_col,
        ((F.col("__key") % _TIE_BASE) / F.col("__tot_top")).alias(
            "top_ngram_char_frac"
        ),
        (F.col("__dup") / F.col("__tot")).alias("dup_ngram_char_frac"),
        "max_ngram_repeat",
    )


# PII patterns chosen from the Java-regex/RE2 common subset (no lookaround,
# no backreferences) so the DuckDB oracle replays them exactly.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("phone", r"\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}\b"),
)


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails / IPv4s / intl-format phone numbers, count each kind.

    The standard pre-training privacy scrub: every match is replaced by a
    typed token (``<EMAIL>`` etc.) and counted.  Pure JVM regexps inside
    one codegen'd projection — scan-bound at corpus scale.  Patterns are
    deliberately conservative (high precision, ASCII word boundaries);
    swap in a model-backed pandas UDF where a real PII model is available.
    """
    text = F.col(text_col)
    redacted = text
    counts = []
    for name, pat in PII_PATTERNS:
        counts.append(F.regexp_count(text, F.lit(pat)).alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), *counts, redacted.alias("redacted_text"))


def doc_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprint: md5 of the sorted distinct token set.

    Invariant to token order/duplication — catches shuffled/near-identical
    docs that exact text hashing misses; engine-portable (md5).  A text
    with no tokens gets ``md5('')``; a null text gets a null fingerprint.
    """
    text = F.col(text_col)
    toks = F.array_sort(F.array_distinct(tokens_col(text)))
    return df.select(
        F.col(id_col),
        F.when(text.isNotNull(), F.md5(F.concat_ws(" ", toks))).alias("fingerprint"),
    )


def mixture_weights(
    df: DataFrame,
    group_col: str,
    text_col: str,
    target: dict | None = None,
) -> DataFrame:
    """Per-group token shares + resampling weights for a target data mix.

    The static data-mixing step of a pre-training pipeline: measure each
    domain/language's natural token share, then emit the per-group sampling
    weight that reshapes the corpus to ``target`` (group -> fraction;
    ``None`` = uniform over observed groups).  weight_g = target_g /
    natural_g, so weighted sampling with these weights yields the target
    mixture in expectation.

    Scale: ONE map-side-combined aggregation over the corpus; the window
    functions below run on the aggregated frame (one row per group), which
    is tiny at any corpus size.
    """
    from pyspark.sql import Window

    g = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count_col(F.col(text_col)).cast("long")).alias("n_tokens"),
    )
    # global window kept on purpose: it runs over g, one row per group
    w = Window.partitionBy()
    if target is None:
        weight = (F.sum("n_tokens").over(w) / F.col("n_tokens")) / F.count(
            F.lit(1)
        ).over(w)
    else:
        tgt = F.create_map(
            *[F.lit(x) for kv in target.items() for x in kv]
        )[F.col(group_col)]
        weight = tgt * F.sum("n_tokens").over(w) / F.col("n_tokens")
    return g.select(
        group_col,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.sum("n_tokens").over(w)).alias("natural_frac"),
        weight.alias("mix_weight"),
    )


def term_frequencies(
    df: DataFrame, text_col: str, min_count: int = 1
) -> DataFrame:
    """Corpus term frequencies: (token, cnt, rank) — the unigram substrate
    for tokenizer/vocab fitting and frequency-based filtering.

    rank is dense over (cnt DESC, token ASC) — fully deterministic.

    Scale: the count is a map-side-combined hash agg keyed by token (Zipf
    skew is absorbed by partial aggregation — each map task emits one row
    per distinct token, so the hot token's shuffle volume is n_tasks, not
    n_occurrences).  The global rank window sorts only the FILTERED vocab:
    pass a real ``min_count`` (or cap downstream) so the single-partition
    sort sees vocab-sized input, not corpus-sized.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode_outer(tokens_col(F.col(text_col))).alias("token")
    )
    counts = (
        toks.where(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    # global window kept on purpose: a rank over the min_count-filtered
    # vocabulary, whose size is bounded by the vocabulary, not the corpus
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return counts.select("token", "cnt", F.row_number().over(w).alias("rank"))
