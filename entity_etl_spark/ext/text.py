"""Text-analysis operators (E4, SURVEY §2.3): language ID, quality scoring,
token counting, fingerprinting — each a pure column expression (built-in
functions only, portable to the DuckDB oracle, zero Python in the hot path).

The heuristics are deliberately simple and deterministic: the value at
100 TB is the *shape* (single scan, map-only, codegen'd); swapping a
stronger scorer (fastText, a KenLM perplexity model) later means replacing
one column expression with a Pandas UDF without touching the pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import colcache

# marker-word lists per language; count of hits decides the language.
# (The harness corpus is synthetic; real deployments swap in a trained
# identifier via pandas_udf with the same (text)->lang signature.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "que"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "zh": ("de", "shi", "le"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count. size(split) counts empty-string tokens from
    leading whitespace the same way DuckDB's regexp_split_to_array does."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.split(F.trim(col), r"\s+")).cast("bigint")


def _count_occurrences(col: Column, word: str) -> Column:
    """Occurrences of ` word ` in the padded text — pure length arithmetic
    (no regex), identical in any SQL engine."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("bigint")


def lang_scores(text_col: str | Column) -> dict[str, Column]:
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(col)
    return {
        lang: sum(
            (_count_occurrences(low, w) for w in words), F.lit(0).cast("bigint")
        )
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text_col: str | Column) -> Column:
    """Predicted language = argmax of marker-word hit counts, ties broken by
    language code order (deterministic)."""
    scores = lang_scores(text_col)
    best = None
    for lang in sorted(scores):  # ascending code order ⇒ first max wins
        s = scores[lang]
        if best is None:
            best = F.struct(s.alias("score"), F.lit(lang).alias("lang"))
        else:
            best = F.when(s > best["score"], F.struct(s.alias("score"), F.lit(lang).alias("lang"))).otherwise(best)
    return best["lang"]


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0, ~1].

    Features: char length, token count, mean token length, stopword ratio.
    Single map-only scan. The five columns are built once per text column
    (:mod:`~entity_etl_spark.colcache`)."""
    return df.withColumns(
        colcache.cached(
            ("quality_features", text_col), lambda: _quality_columns(text_col)
        )
    )


def _quality_columns(text_col: str) -> dict[str, Column]:
    col = F.col(text_col)
    n_tokens = token_count(col)
    low = F.lower(col)
    n_stop = sum(
        (_count_occurrences(low, w) for w in STOPWORDS), F.lit(0).cast("bigint")
    )
    n_chars = F.length(col).cast("bigint")
    avg_tok_len = F.round((n_chars - (n_tokens - 1)) / n_tokens, 4)
    stop_ratio_raw = n_stop / n_tokens  # score uses the unrounded ratio
    stop_ratio = F.round(stop_ratio_raw, 4)
    score = F.round(
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio_raw * F.lit(4.0), F.lit(1.0)) * 0.5,
        4,
    )
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": avg_tok_len,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token
    fraction, most-frequent-token fraction, most-frequent-bigram fraction.
    High repetition (low distinct fraction / high top fractions) is the
    classic low-quality-document filter for pre-training corpora.

    Shape: one explode + two-level aggregation keyed by (doc, gram) then
    doc — map-side combined, shuffle carries only (doc, gram, count) rows.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc"),
        toks.alias("__t"),
        F.size(toks).alias("n_tokens"),
    )
    uni = base.select(
        "doc", "n_tokens", F.explode("__t").alias("g"), F.lit(1).alias("k")
    )
    bi = base.select(
        "doc",
        "n_tokens",
        F.explode(
            F.when(
                F.size("__t") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 1),
                    lambda i: F.concat_ws(" ", F.slice("__t", i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
        F.lit(2).alias("k"),
    )
    grams = uni.unionByName(bi)
    per_gram = grams.groupBy("doc", "n_tokens", "k", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_gram.groupBy("doc", "n_tokens").agg(
        F.sum(F.when(F.col("k") == 1, 1).otherwise(0)).alias("n_distinct"),
        F.max(F.when(F.col("k") == 1, F.col("c")).otherwise(0)).alias("top1"),
        F.max(F.when(F.col("k") == 2, F.col("c")).otherwise(0)).alias("top2"),
    )
    return per_doc.select(
        F.col("doc").alias(id_col),
        F.col("n_tokens"),
        F.round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
            "distinct_token_frac"
        ),
        F.round(F.col("top1") / F.col("n_tokens"), 6).alias("top_token_frac"),
        F.round(
            F.col("top2") / F.greatest(F.col("n_tokens") - 1, F.lit(1)), 6
        ).alias("top_bigram_frac"),
    )


GOPHER_REQUIRED_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_hash_word_ratio: float = 0.1,
    max_ellipsis_line_frac: float = 0.3,
    max_bullet_line_frac: float = 0.9,
    min_required_word_hits: int = 2,
) -> DataFrame:
    """Gopher-rules quality gate (Rae et al. 2021, §A1.1) as one map-only
    pass: per-document rule booleans plus the composite ``keep`` decision.

    Rules, all exact integer/character arithmetic (no model, no UDF):
    token count in [min, max]; mean word length in [3, 10]; '#' per word
    <= 0.1; <= 30% of lines end in an ellipsis; <= 90% of lines start
    with a bullet; at least 2 of Gopher's 8 required English words occur.
    Complements :func:`quality_features` (soft score) and
    :func:`repetition_metrics` (repetition signals) — this is the hard
    keep/drop gate a pre-training pipeline applies first.

    Physical shape: single scan, every rule a codegen'd column expression
    over the shared whitespace tokenization; at 100 TB this is the cheap
    filter that runs BEFORE any shuffle-bearing dedup stage.
    """
    from .dedup import nonempty_tokens  # the canonical shared tokenization

    col = F.col(text_col)
    toks = nonempty_tokens(col)
    n_tokens = F.size(toks).cast("bigint")
    safe_n = F.greatest(n_tokens, F.lit(1))
    # exact mean word length: sum of token lengths / token count
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.round(tok_chars / safe_n, 4)
    n_hash = (
        F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    ).cast("bigint")
    hash_word_ratio = F.round(n_hash / safe_n, 6)
    lines = F.filter(F.split(col, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    ellipsis_line_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.endswith(F.trim(l), F.lit("..."))
                | F.endswith(F.trim(l), F.lit("…")),
            )
        )
        / n_lines,
        6,
    )
    bullet_line_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.startswith(F.trim(l), F.lit("- "))
                | F.startswith(F.trim(l), F.lit("* "))
                | F.startswith(F.trim(l), F.lit("•")),
            )
        )
        / n_lines,
        6,
    )
    required_hits = sum(
        (
            F.when(F.array_contains(toks, w), 1).otherwise(0)
            for w in GOPHER_REQUIRED_WORDS
        ),
        F.lit(0),
    ).cast("bigint")
    out = df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        hash_word_ratio.alias("hash_word_ratio"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        bullet_line_frac.alias("bullet_line_frac"),
        required_hits.alias("required_word_hits"),
    )
    rules = {
        "rule_token_count": (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens),
        "rule_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "rule_hash_ratio": F.col("hash_word_ratio") <= max_hash_word_ratio,
        "rule_ellipsis_lines": F.col("ellipsis_line_frac")
        <= max_ellipsis_line_frac,
        "rule_bullet_lines": F.col("bullet_line_frac")
        <= max_bullet_line_frac,
        "rule_required_words": F.col("required_word_hits")
        >= min_required_word_hits,
    }
    out = out.withColumns(rules)
    keep = None
    for name in rules:
        keep = F.col(name) if keep is None else keep & F.col(name)
    return out.withColumn("keep", keep)


def doc_fingerprint(text_col: str | Column, algo: str = "md5") -> Column:
    """Stable whole-document fingerprint (md5 hex); see ext.dedup for
    similarity-preserving fingerprints (MinHash/SimHash)."""
    from .dedup import fingerprint

    return fingerprint(text_col, algo)


def clean_text(text_col: str | Column) -> Column:
    """Normalized text column: control characters stripped, whitespace runs
    collapsed to one space, ends trimmed — the standard pre-tokenization
    cleanup pass. Map-only codegen (two regexp_replace + trim); the
    character classes are shared Java-regex/RE2 syntax so an engine-portable
    oracle can reproduce the bytes exactly."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    no_ctrl = F.regexp_replace(
        col, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", " "
    )
    return F.trim(F.regexp_replace(no_ctrl, "[ \\t\\n\\r]+", " "))
