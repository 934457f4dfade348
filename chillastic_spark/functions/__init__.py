"""Scalar function library — the mutator "standard library".

The reference exposes moment+lodash inside user mutators (SURVEY §2.8,
reference README.md:172); observed usages map to Spark built-ins, which
we wrap here so mutator authors get one import. Everything stays
JVM-side (whole-stage codegen) — no Python UDFs in this module.

A key primitive is :func:`hash60`, a deterministic 60-bit hash built
from md5 that is *reproducible in ANSI SQL* (DuckDB oracle:
``('0x' || substr(md5(x), 1, 15))::BIGINT``). MinHash / SimHash /
fingerprinting all derive from it so correctness is oracle-checkable.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------- deterministic round


def round_det(col: Column, digits: int) -> Column:
    """Engine-portable rounding of a computed double:
    floor(x·10^d + 0.5) / 10^d.

    Spark's ``round`` rounds the double's SHORTEST DECIMAL REPR (via
    BigDecimal.valueOf) while DuckDB rounds the binary value — for a
    double like 0.54174999…repr "0.54175" they disagree. Running the
    identical floor arithmetic on both engines can't diverge. (Halfway
    behavior is round-toward-+∞; only cross-engine equality matters.)
    """
    p = F.lit(float(10**digits))
    return F.floor(col * p + F.lit(0.5)).cast("double") / p


def round_det_sql(expr: str, digits: int) -> str:
    """The DuckDB twin of round_det — same expression, same doubles.
    Renders the scale as a float repr so NEGATIVE digits (round to
    tens/hundreds) emit a valid literal — '{10**-2}.0' was '0.01.0',
    a parse error the Spark twin never had."""
    p = repr(float(10**digits))
    return f"floor(({expr}) * {p} + 0.5) / {p}"


def cosine_sql(a: str, b: str) -> str:
    """The DuckDB twin of :func:`cosine` — INCLUDING the zero-norm
    guard: a bare ``dot/(|a|·|b|)`` yields NaN on a zero vector while
    the Spark side returns 0.0, silently diverging rankings. One
    definition so no oracle can carry the unguarded division."""
    d = f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    return (
        f"(CASE WHEN {d} = 0 THEN 0.0"
        f" ELSE list_dot_product({a}, {b}) / {d} END)"
    )


# ---------------------------------------------------------------- hashing


def hash60(col: Column | str) -> Column:
    """Deterministic 60-bit non-negative hash of a string column.

    md5 → first 15 hex digits → bigint. Slower than xxhash64 but exactly
    reproducible in any SQL engine (the duckdb oracle uses the same
    construction), which is what makes the dedup operators verifiable.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalised lowercase text.

    Collapse-THEN-trim: every whitespace run becomes one space first, so
    the final trim (space-only in both engines) removes edge whitespace
    of any kind. Trim-then-collapse would keep a trailing newline as a
    trailing space — two documents identical up to a terminal newline
    (the most common near-identical pair in scraped corpora) would get
    different fingerprints. DuckDB twin: :func:`fingerprint_sql`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"[ \t\n\x0b\f\r]+", " ")))


def fingerprint_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`fingerprint` — same collapse-then-trim."""
    return f"md5(trim(regexp_replace(lower({expr}), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))"


# ---------------------------------------------------------------- text

# The whitespace set trimmed from text edges before tokenisation —
# exactly Java regex \s ([ \t\n\x0B\f\r]), so the trim agrees with the
# [ \t\n\x0b\f\r]+ SPLIT that follows. Spark's bare trim() removes only ASCII space
# 0x20, so a trailing '\n' or '\t' would survive into split() and
# yield a phantom '' edge token — and nearly every scraped document is
# newline-terminated. A char-set trim (btrim / DuckDB trim(x, chars))
# is one cheap char scan per edge and is engine-identical, unlike a
# '\s'-regex trim (RE2's \s excludes \x0B where Java's includes it).
WS_CHARS = " \t\n\x0b\f\r"
# escape-free DuckDB spelling of the same set
WS_CHARS_SQL = "(' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13))"


def words(col: Column | str) -> Column:
    """Whitespace tokenisation, ALL edge whitespace stripped.

    Convention: '' and whitespace-only text still tokenise to ['']
    (split's unavoidable shape — one empty token); operators that count
    or hash tokens must filter ``tok != ''`` for the empty-doc case.
    Interior '' tokens cannot occur ([ \\t\\n\\x0b\\f\\r]+ consumes whole runs).
    DuckDB twin: :func:`words_sql`.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.btrim(c, F.lit(WS_CHARS)), r"[ \t\n\x0b\f\r]+")


def words_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`words` — verified token-identical on edge
    whitespace, empty, and whitespace-only text."""
    return (
        f"regexp_split_to_array(trim({expr}, {WS_CHARS_SQL}), '[ \\t\\n\\x0b\\f\\r]+')"
    )


def ngrams_of_words(w: Column, n: int) -> Column:
    """Distinct space-joined n-grams of an ALREADY-MATERIALISED words
    array column. Callers should project the words array in a separate
    select first — inlining the split() subtree here makes codegen
    re-tokenise the text once per gram (O(words²) per doc)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    # sequence(1, k) DESCENDS when k < 1, so guard short docs explicitly
    return F.array_distinct(
        F.when(F.size(w) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def word_ngrams(col: Column | str, n: int) -> Column:
    """Distinct word n-gram shingles of a text column, space-joined.

    Prefer projecting words() first and calling ngrams_of_words — see
    its docstring for the codegen pitfall. The '' phantom token of
    empty/whitespace-only text is purged first (the words() contract):
    unfiltered, n=1 would emit [''] — an empty shingle that hashes and
    joins like a real gram.
    """
    w = F.filter(words(col), lambda t: t != F.lit(""))
    return ngrams_of_words(w, n)


# ----------------------------------------- interpolated percentile cell

# THE one definition of the percentile_cont interpolation used by every
# exact-percentile query/operator (value_percentiles, winsorized stats,
# centroid_outliers, quality gates). Built from explicit rank arithmetic
# instead of the engine's percentile_cont so the identical IEEE
# expression runs in both engines: pos = 1 + p·(n−1);
# result = v⌊pos⌋·(1−frac) + v⌈pos⌉·frac. Callers provide rank/count
# columns from their own window (rn ordered ascending by the value with
# an id tie-break, n = partition count), SUM the cell per group (≤2
# non-zero summands — float addition order cannot diverge), and apply
# their own rounding. A caller-local copy of this arithmetic WILL drift
# when the interpolation is ever fixed — never restate it.


def pct_cell(value: Column, rn: Column, n: Column, p: float) -> Column:
    """One interpolated-percentile summand; sum per group = percentile."""
    pos = F.lit(1.0) + F.lit(p) * (n - F.lit(1))
    lo, hi, frac = F.floor(pos), F.ceil(pos), pos - F.floor(pos)
    return F.when(rn == lo, value * (F.lit(1.0) - frac)).otherwise(
        F.lit(0.0)
    ) + F.when(rn == hi, value * frac).otherwise(F.lit(0.0))


def pct_keep(rn: Column, n: Column, p: float) -> Column:
    """Predicate selecting the ≤2 rows :func:`pct_cell` can score —
    OR these per requested percentile to pre-filter before the agg."""
    pos = F.lit(1.0) + F.lit(p) * (n - F.lit(1))
    return (rn == F.floor(pos)) | (rn == F.ceil(pos))


def pct_cell_sql(value: str, p: float) -> str:
    """DuckDB twin of :func:`pct_cell` over columns ``rn`` and ``n``."""
    pos = f"(1.0 + {p} * (n - 1))"
    frac = f"({pos} - floor({pos}))"
    return (
        f"(CASE WHEN rn = floor({pos}) THEN {value} * (1.0 - {frac}) ELSE 0.0 END"
        f" + CASE WHEN rn = ceil({pos}) THEN {value} * {frac} ELSE 0.0 END)"
    )


def pct_keep_sql(p: float) -> str:
    """DuckDB twin of :func:`pct_keep` over columns ``rn`` and ``n``."""
    pos = f"(1.0 + {p} * (n - 1))"
    return f"(rn = floor({pos}) OR rn = ceil({pos}))"


# ------------------------------------------------------------- vectors


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns, JVM-side fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # zero-safe: a zero-norm vector has cosine 0 against everything
    # (the operators' _unit_rows convention). Under ANSI mode (Spark 4
    # default) the bare division wouldn't just NaN — it would FAIL the
    # whole job on the first zero vector in the corpus.
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


# ------------------------------------------------- reference-observed (§2.8)
# moment/lodash usages in reference mutators → Spark equivalents. These
# thin aliases document the mapping and give mutator authors one namespace.

regexp_test = F.rlike  # OLD_DATE_REGEX.test(doc._index)  (indexDate.js:20)
regexp_replace = F.regexp_replace  # .replace(...)        (indexDate.js:33)
date_format = F.date_format  # moment(...).format(...)    (indexDate.js:30-31)
to_date = F.to_date  # moment(str, fmt)                   (indexDate.js:29)
# price.toFixed(2) (intPrice.js:17). NOT F.format_number: that inserts
# thousands-grouping commas ('1,234.50') and rounds HALF_EVEN, so a
# mutator porting toFixed through it would silently break equality
# joins/fingerprints on the field; printf matches JS's plain rendering.
to_fixed = lambda c, d=2: F.format_string(f"%.{int(d)}f", c)  # noqa: E731
array_map = F.transform  # _.map(products, ...)           (intPrice.js:15)
has_field = lambda c: F.col(c).isNotNull()  # noqa: E731  _.has(doc, f)
to_json = F.to_json  # JSON.stringify                     (subtask.js:24)
from_json = F.from_json  # JSON.parse                     (subtasks.js:507)
