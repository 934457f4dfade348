"""Text-analysis operators for training-data pipelines.

All pure column expressions (whole-stage codegen, no Python UDFs):
token counting, quality scoring, language-ID heuristic, fingerprinting.
Each has a matching ANSI-SQL oracle in chillastic_spark.queries.

Every function takes an optional pre-tokenised words-array column
``w``; pass one (projected ONCE) when combining several features —
inlining the split() per feature makes codegen re-tokenise the text
for each (see functions.ngrams_of_words docstring).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from chillastic_spark import functions as CF

# Tiny per-language stopword profiles for the stopword heuristic.
# Deliberately small + deterministic so the SQL oracle mirrors them 1:1.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "que", "dans"],
}


def _w(text: Column | str | None, w: Column | None) -> Column:
    """Empty-filtered words array. ``split(trim(''))`` yields ``['']``,
    which scored empty/whitespace-only documents as 1-token docs with
    HIGHER quality than real prose — every feature here tokenises
    through this filter. A caller-supplied ``w`` must already be
    empty-filtered (with_text_features projects one)."""
    if w is not None:
        return w
    assert text is not None
    return F.array_remove(CF.words(text), "")


def token_count(text: Column | str | None = None, w: Column | None = None) -> Column:
    """Whitespace token count (empty tokens excluded: empty or
    whitespace-only text counts 0, NULL text counts NULL)."""
    return F.size(_w(text, w))


# GPT-2-style pre-tokenizer pattern, restricted to constructs with
# identical leftmost-first semantics in Java regex (Spark) and RE2
# (DuckDB) — verified token-for-token in tests. Contractions split off,
# words/digits/punctuation runs carry their leading space. Whitespace
# is spelled as the explicit Java-\s char set: RE2's \s excludes \x0B,
# so a bare \s here would let the oracle count a vertical tab as
# punctuation where Spark skips it.
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0b\f\r]+"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish subword-ish token count: how a GPT-2-family tokenizer's
    pre-tokenization would segment the text (the standard proxy for
    LLM token budgeting when the merges table isn't applied)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0)))


def stopword_hits(
    lang: str, text: Column | str | None = None, w: Column | None = None
) -> Column:
    """Number of tokens that are stopwords of ``lang``. Matching is
    case-insensitive: sentence-initial 'The' / ALL-CAPS spam must hit
    the profile, or lang_id returns 'und' on title-case text and the
    quality stopword penalty can never fire on shouting documents."""
    stops = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
    return F.size(
        F.filter(_w(text, w), lambda t: F.array_contains(stops, F.lower(t)))
    )


def quality_score(text: Column | str, w: Column | None = None) -> Column:
    """Heuristic quality score in [0,1]:

    0.4 · type-token-ratio  (vocabulary diversity)
    0.3 · length score      (min(tokens, 200)/200)
    0.2 · (1 − stopword ratio excess)  — penalise >50% stopwords
    0.1 · mean-word-length score (clamp((mean−2)/6, 0, 1))
    """
    w = _w(text, w)
    n = F.size(w).cast("double")
    distinct_ratio = F.size(F.array_distinct(w)) / n
    length_score = F.least(n, F.lit(200.0)) / F.lit(200.0)
    stop_ratio = stopword_hits("en", w=w) / n
    stop_score = F.lit(1.0) - F.greatest(stop_ratio - F.lit(0.5), F.lit(0.0)) * 2
    c = F.col(text) if isinstance(text, str) else text
    # no trim: the global replace already deletes EVERY whitespace char
    mean_wl = F.length(F.regexp_replace(c, r"[ \t\n\x0b\f\r]+", "")) / n
    wl_score = F.least(F.greatest((mean_wl - 2) / 6.0, F.lit(0.0)), F.lit(1.0))
    score = (
        0.4 * distinct_ratio + 0.3 * length_score + 0.2 * stop_score + 0.1 * wl_score
    )
    # tokenless text (empty/whitespace-only/NULL) is the floor, not a
    # divide-by-zero artifact that outscored genuine prose
    return F.when(n > 0, score).otherwise(F.lit(0.0))


def lang_id(text: Column | str | None = None, w: Column | None = None) -> Column:
    """Stopword-profile language ID with deterministic tie-break
    (en ≥ de ≥ fr)."""
    w = _w(text, w)
    en = stopword_hits("en", w=w)
    de = stopword_hits("de", w=w)
    fr = stopword_hits("fr", w=w)
    return (
        F.when((en >= de) & (en >= fr) & (en > 0), F.lit("en"))
        .when((de >= fr) & (de > 0), F.lit("de"))
        .when(fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass enrichment: tokenise once, derive all features."""
    w = F.col("__w")
    return (
        df.withColumn("__w", F.array_remove(CF.words(text_col), ""))
        .withColumn("n_tokens", token_count(w=w))
        .withColumn("quality", CF.round_det(quality_score(text_col, w=w), 4))
        .withColumn("pred_lang", lang_id(w=w))
        .withColumn("fingerprint", CF.fingerprint(text_col))
        .drop("__w")
    )


def char_pair_counts(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies WITHIN words —
    the counting primitive of BPE tokenizer training (the most frequent
    pair is the next merge). Returns (pair, n) with n >= min_count.

    Scale shape: two narrow explodes (word, then pair positions)
    feeding one map-side-combined count on a bounded key domain
    (|alphabet|² pairs) — shuffle volume is the distinct-pair count per
    partition, not the corpus character count.
    """
    w = df.select(F.explode(CF.words(text_col)).alias("word"))
    pairs = w.select(
        F.explode(
            F.when(
                F.length("word") >= 2,
                F.expr(
                    "transform(sequence(1, char_length(word) - 1),"
                    " i -> substr(word, i, 2))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    out = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    return out.filter(F.col("n") >= min_count)
