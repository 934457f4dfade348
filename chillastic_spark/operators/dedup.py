"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine near-dup.

Design notes for 100 TB scale
-----------------------------
* Never cross-join the corpus. TEXT pair generation is always an
  *inverted-index equi-join* (explode shingles / LSH band buckets /
  simhash chunks → shuffle on the bucket key → join within bucket);
  Catalyst turns these into ordinary shuffled hash joins and AQE
  splits skewed buckets (a hot shingle) at runtime. VECTOR pair
  scoring (embedding_dup_pairs) goes through the block-pair grid
  (similarity.block_pair_replicate): hash-blocked Arrow tasks scoring
  their grid with one numpy matmul each — no joined-row
  materialization, no task ever holding more than two blocks.
* All hashing is the md5-derived 60-bit hash from
  ``chillastic_spark.functions.hash60`` so every operator has an exact
  ANSI-SQL oracle (see chillastic_spark/queries/documents.py).
* Shingling/minhashing are pure column expressions — no Python UDFs.
"""
from __future__ import annotations

import warnings
from collections import deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chillastic_spark import functions as CF
from chillastic_spark.knobs import env_knob, switch

# Multi-consumer intermediates (shingle sets, minhash signatures) are
# pinned via the SHARED policy in chillastic_spark.persist —
# re-exported here because every curation module historically imported
# it from dedup. One env knob (CHILLASTIC_PERSIST; CHILLASTIC_DEDUP_-
# PERSIST honoured as alias) now governs dedup, graph, BPE, components
# and gapfill alike: local|reliable|disk|none, see persist.py.
from chillastic_spark.persist import materialize  # noqa: F401  (re-export)


# ------------------------------------------------------------------ exact


def exact_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups by content fingerprint.

    Returns one row per duplicated fingerprint:
    (fingerprint, n_dups, keeper) — keeper = min id, the row to retain.
    Single hash-shuffle on the fingerprint; map-side partial agg applies.
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), CF.fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct content fingerprint.

    NULL text is ONE dedup group like any other (fingerprint coalesced
    to a sentinel): a plain equi-join would never match the NULL
    fingerprints (three-valued equality) and silently DELETE every
    null-text row instead of keeping one.

    NULL-id rows pass through UNTOUCHED: without an identity there is
    no deterministic keeper to pick, so not deduplicating them is the
    only honest behavior.

    One fp-PARTITIONED row_number (single full-row shuffle on the
    fingerprint — never a global window) rather than groupBy(min id) +
    semi-join: the join formulation kept EVERY row bearing the keeper
    id, so byte-identical rows re-emitted under the same id (the
    primary dirty-crawl input for exact dedup) survived; it also cost
    a second shuffle. Rows tying on (fingerprint, id) but differing
    elsewhere keep an arbitrary-but-single representative."""
    from pyspark.sql.window import Window

    for reserved in ("__fp", "__rn"):
        if reserved in df.columns:
            raise ValueError(
                f"exact_dedup: input already has a {reserved} column "
                "(reserved); rename it — silently overwriting would lose "
                "caller data (and the NULL-id passthrough union would "
                "fail with an obscure column mismatch)"
            )
    fp = F.coalesce(CF.fingerprint(text_col), F.lit("__null__"))
    keyed = df.filter(F.col(id_col).isNotNull()).withColumn("__fp", fp)
    w = Window.partitionBy("__fp").orderBy(id_col)
    deduped = (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )
    return deduped.unionByName(df.filter(F.col(id_col).isNull()))


# ------------------------------------------------------------- winnowing


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): hash every k-token gram, slide a ``window`` over the
    gram-hash sequence, keep each window's MINIMUM — the classic
    rolling-hash fingerprinting scheme with the guarantee that any
    shared run of ≥ window+k−1 tokens yields at least one shared
    fingerprint.

    Returns exploded (doc_id, fp) rows, distinct per doc. Everything is
    array-native column math inside one projection — zero shuffles, and
    the fingerprint set is ~1/window the gram count (the whole point:
    a sub-linear sketch that still localises matches).
    """
    w = df.select(F.col(id_col).alias("doc_id"), CF.words(text_col).alias("__w"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (k - 1)),
        lambda i: CF.hash60(F.concat_ws(" ", F.slice(F.col("__w"), i, k))),
    )
    g = w.select(
        "doc_id",
        F.when(F.size("__w") >= k, grams)
        .otherwise(F.array().cast("array<long>"))
        .alias("__g"),
    )
    mins = F.transform(
        F.sequence(F.lit(1), F.size("__g") - (window - 1)),
        lambda j: F.array_min(F.slice(F.col("__g"), j, window)),
    )
    fps = g.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.when(F.size("__g") >= window, mins).otherwise(F.col("__g"))
            )
        ).alias("fp"),
    )
    return fps


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints — the
    same inverted-index equi-join shape as every other dedup operator
    (never all-pairs), but over the ~1/window-sized fingerprint sets."""
    # measured (r6, sf0.1): WITH pin 1.32s vs 2.00s without — the
    # identical-twin self-join does NOT get a ReusedExchange here, so
    # the pin saves a full recompute of the fingerprint expansion
    fps = materialize(winnow_fingerprints(df, id_col, text_col, k, window))
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ------------------------------------------------------ substring coverage


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 12,
) -> DataFrame:
    """Per-document duplicated-substring coverage: the fraction of a
    doc's ``window``-token sliding windows whose exact text occurs more
    than once in the corpus (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — the ExactSubstr criterion,
    re-expressed as a window-hash aggregation instead of a suffix
    array).

    Returns (doc_id, total_windows, dup_windows, dup_frac) for docs with
    at least one duplicated window. Scale shape: ALL windows (not
    distinct — coverage counts instances) hash to 60-bit longs, one
    corpus-wide count per hash, one semi-join back, two per-doc aggs —
    shuffle volume O(corpus tokens), never pairwise.
    """
    w = df.select(F.col(id_col).alias("doc_id"), CF.words(text_col).alias("__w"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__w") - (window - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, window)),
    )
    wins = w.select(
        "doc_id",
        F.explode(
            F.when(F.size("__w") >= window, grams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("win"),
    )
    g = materialize(wins.select("doc_id", CF.hash60("win").alias("wh")))
    cnt = g.groupBy("wh").agg(F.count("*").alias("cnt"))
    # ONE per-doc aggregation over the count-annotated window table:
    # the old shape ran totals and dups as separate doc_id shuffles and
    # inner-joined them — an extra corpus-scale shuffle and a join for
    # the same numbers (the join's implicit dup_windows>0 semantics are
    # kept explicit here)
    return (
        g.join(cnt, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_windows"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("dup_windows"),
        )
        .filter(F.col("dup_windows") > 0)
        .withColumn(
            "dup_frac",
            CF.round_det(F.col("dup_windows") / F.col("total_windows"), 4),
        )
        .select("doc_id", "total_windows", "dup_windows", "dup_frac")
    )


# ---------------------------------------------------------- n-gram Jaccard


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3,
             extra_cols: list[str] | None = None) -> DataFrame:
    """(id, gram) exploded distinct word-n-gram shingles.

    Two-step projection: tokenise once into a words column, THEN build
    grams — keeps codegen from re-splitting the text per gram.
    """
    extra = list(extra_cols or [])
    w = df.select(
        F.col(id_col).alias("doc_id"), *[F.col(c) for c in extra],
        CF.words(text_col).alias("__w"),
    )
    return w.select(
        "doc_id", *extra, F.explode(CF.ngrams_of_words(F.col("__w"), n)).alias("gram")
    )


def hashed_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, gh) shingles hashed ONCE to a 60-bit long — the join/minhash
    currency. One md5 per gram; everything downstream is long
    arithmetic (cheap shuffles, no string compares)."""
    return shingles(df, id_col, text_col, n).select(
        "doc_id", CF.hash60("gram").alias("gh")
    )


class HotGramSkewWarning(UserWarning):
    """The uncapped gram universe contains a hot gram — the documented
    quadratic-blowup hazard of the plain pair generators."""


# Preflight trigger: warn when the hottest gram sits in more than this
# fraction of documents. BENCH_skew_r08 measured the failure mode the
# guard exists for: one gram in ~30% of docs made uncapped Jaccard
# 10.56× slower at sf1-skew (candidate growth is Σ|posting|², so it
# only gets worse with corpus size), while cap_hot_grams held 0.96×.
# 0.2 clears every benign corpus tested (sf* documents max ≈ a few %)
# while firing well before the measured blowup regime.
_HOT_GRAM_WARN_FRAC = 0.2


def _fraction(raw: str) -> float:
    value = float(raw)
    if not 0 <= value <= 1:  # also rejects nan
        raise ValueError(raw)
    return value


def _preflight_enabled() -> bool:
    """``CHILLASTIC_HOT_GRAM_PREFLIGHT`` (1 = on, the default; 0 = off)."""
    return env_knob("CHILLASTIC_HOT_GRAM_PREFLIGHT", True, switch, "0 or 1")


def _hot_gram_warn_frac() -> float:
    """``CHILLASTIC_HOT_GRAM_WARN_FRAC``, a fraction in [0, 1]."""
    return env_knob(
        "CHILLASTIC_HOT_GRAM_WARN_FRAC", _HOT_GRAM_WARN_FRAC, _fraction,
        "a fraction in [0, 1]",
    )


# Most recent preflight verdicts (bounded ring, newest last) — the
# operator-visible record of every guard run, hot or benign, surfaced
# through maintenance.store_health_report / GET /stores/health (r9
# verdict #3) so a skew-hazard corpus shows up on the dashboard rather
# than only in the warnings log of whichever executor driver ran it.
PREFLIGHT_VERDICTS: "deque[dict]" = deque(maxlen=16)


def _hot_gram_preflight(
    g: DataFrame,
    strict: bool,
    sizes: "DataFrame | None" = None,
    warn_frac: "float | None" = None,
) -> None:
    """Document-frequency preflight over the gram index (r8 verdict
    #2): warn (or raise, with ``strict=True``) when the hottest gram
    exceeds ``warn_frac`` of docs, pointing at the defenses. Runs only
    on the UNCAPPED path: ``max_doc_frac`` callers already bought the
    defense, and the semantics of the guarded query are untouched (a
    warning, never a data change — oracle hashes identical by
    construction).

    AMORTIZED (r9 verdict #5): the caller passes its lazily-pinned
    per-doc ``sizes`` aggregate and a lazily-pinned ``g`` — the doc
    count action here then DOUBLES as the materialization job for both
    frames (g is sizes' parent in the pinned lineage), so the guard's
    only marginal work is one max-df reduce over the already-cached
    gram index instead of the two standalone jobs it used to cost
    (BENCH_AB_r09 measured those at +0.5–0.8s on the sf0.1 jaccard
    headliner).

    Disable with CHILLASTIC_HOT_GRAM_PREFLIGHT=0; tune the trigger
    with CHILLASTIC_HOT_GRAM_WARN_FRAC."""
    if not _preflight_enabled():
        return
    if warn_frac is None:
        warn_frac = _hot_gram_warn_frac()
    nd_src = sizes if sizes is not None else g
    n_docs = nd_src.agg(F.countDistinct("doc_id").alias("nd")).collect()[0]["nd"]
    if not n_docs:
        return  # empty corpus — nothing to guard
    stats = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .agg(F.max("__df").alias("max_df"))
        .collect()[0]
    )
    frac = stats["max_df"] / n_docs
    PREFLIGHT_VERDICTS.append(
        {
            "max_df": stats["max_df"],
            "n_docs": n_docs,
            "hot_gram_doc_frac": round(frac, 4),
            "warn_frac": warn_frac,
            "triggered": frac > warn_frac,
        }
    )
    if frac <= warn_frac:
        return
    msg = (
        f"hot-gram skew: the hottest gram appears in {stats['max_df']} of "
        f"{n_docs} documents ({frac:.0%} > {warn_frac:.0%}). The uncapped "
        f"pair join's candidate volume grows as the SQUARE of that posting "
        f"list (measured 10.6x wall at sf1-skew; worse with corpus size). "
        f"Pass max_doc_frac=... (cap_hot_grams — the document-frequency "
        f"gate, oracle-verified as dedup_jaccard_capped) or use the "
        f"prefix-filtered variants (ngram_jaccard_pairs_prefix / "
        f"ngram_containment_pairs_prefix)."
    )
    if strict:
        raise ValueError(msg)
    warnings.warn(msg, HotGramSkewWarning, stacklevel=3)


def cap_hot_grams(
    g: DataFrame, df: DataFrame, max_doc_frac: float
) -> DataFrame:
    """Drop grams present in more than ``max_doc_frac`` of documents
    from an inverted-index table ``g`` (doc_id, gh, ...).

    Standard near-dup practice (boilerplate/stopword shingles): a gram
    shared by x% of an N-doc corpus produces an O((xN)²) bucket in the
    gram self-join — the worst skew bucket by far. Capping document
    frequency bounds every bucket by (max_doc_frac·N)² instead of
    leaving the hot keys to AQE skew-splitting; true near-dup pairs
    keep plenty of discriminative grams, so pair recall is unaffected
    (pinned by tests/test_operators.py). Costs one extra count per
    gram (same shuffle key as the join) and a semi-join.

    Shingle tables are distinct-per-doc, so count(*) per gram IS the
    document frequency."""
    nd = df.agg(F.count(F.lit(1)).alias("__nd"))
    dfreq = g.groupBy("gh").agg(F.count(F.lit(1)).alias("__df"))
    keep = (
        dfreq.crossJoin(F.broadcast(nd))  # 1-row broadcast, no shuffle
        .filter(F.col("__df") <= F.col("__nd") * max_doc_frac)
        .select("gh")
    )
    return g.join(keep, "gh", "semi")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.05,
    partition_cols: list[str] | None = None,
    max_doc_frac: float | None = None,
    strict: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs by word-n-gram Jaccard similarity.

    Inverted-index formulation (NOT a cross join):
      1. explode distinct shingles → (doc, gram)
      2. self equi-join on gram (optionally also on partition cols such
         as lang/source to bound the candidate space) → common counts
      3. Jaccard = common / (|A| + |B| − common), filter ≥ threshold.

    The only shuffles are the gram-key join and two small aggregations.
    ``max_doc_frac`` (off by default — the oracle twin checks the
    uncapped semantics) excludes boilerplate grams shared by more than
    that fraction of docs from the shingle universe before the join —
    see :func:`cap_hot_grams`; sizes and scores are computed over the
    capped universe so the measure stays a true Jaccard. The uncapped
    path runs the :func:`_hot_gram_preflight` skew guard (warn, or
    raise with ``strict=True``) — semantics untouched.
    """
    keys = list(partition_cols or [])
    g = shingles(df, id_col, text_col, n, extra_cols=keys).withColumn(
        "gh", CF.hash60("gram")
    ).drop("gram")
    if max_doc_frac is not None:
        g = cap_hot_grams(g, df, max_doc_frac)
    return _pair_scores(
        g,
        "jaccard",
        lambda c, a, b: c / (a + b - c),
        threshold,
        keys=keys,
        preflight=max_doc_frac is None,
        strict=strict,
    )


def _pair_scores(
    g: DataFrame,
    score_name: str,
    score_of,
    threshold: float,
    keys: "list[str] | None" = None,
    preflight: bool = False,
    strict: bool = False,
) -> DataFrame:
    """THE inverted-index pair scorer shared by the Jaccard and
    containment operators: one materialized gram table feeding both
    join sides + the size agg, the gram-hash equi-join (id_a < id_b,
    null-safe on any partition keys), and the ROUNDED-score filter.
    One definition, so a rounding or join-condition fix can never
    apply to one measure and silently diverge in the other.
    ``score_of(common, sz_a, sz_b) -> Column`` supplies the formula."""
    keys = list(keys or [])
    run_preflight = preflight and _preflight_enabled()
    # the shingle table feeds three consumers (both join sides + sizes);
    # materialise it once instead of re-tokenising per consumer — at
    # cluster scale this is a persist/checkpoint of the inverted index.
    # On the preflight path the pin is LAZY: the guard's doc-count
    # action doubles as the materialization job for g AND the sizes
    # aggregate (pinned too — a bonus: sa/sb below used to recompute it
    # twice from cached g), so the guard costs one extra max-df reduce
    # over cached data instead of two standalone jobs (r9 verdict #5).
    g = materialize(g, eager=not run_preflight)
    sizes = g.groupBy("doc_id", *keys).agg(F.count("*").alias("sz"))
    if run_preflight:
        sizes = materialize(sizes, eager=False)
        _hot_gram_preflight(g, strict, sizes=sizes)
    a, b = g.alias("a"), g.alias("b")
    cond = (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    for k in keys:
        # null-safe: two docs whose partition key is NULL still share a
        # partition (plain = would silently exempt them from dedup)
        cond = cond & F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
    common = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            score_name,
            CF.round_det(
                score_of(F.col("common"), F.col("sz_a"), F.col("sz_b")), 4
            ),
        )
        .filter(F.col(score_name) >= threshold)
        .select("id_a", "id_b", score_name)
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_doc_frac: float | None = None,
    strict: bool = False,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT:
    |A ∩ B| / min(|A|, |B|).

    Jaccard misses the quote/excerpt case — a short doc fully embedded
    in a much longer one has tiny |A∩B|/|A∪B| but containment 1.0.
    Same inverted-index shape as :func:`ngram_jaccard_pairs` (gram-hash
    equi-join, never all-pairs), so the scale properties are identical:
    the only shuffles are the gram join and two small aggregations;
    ``max_doc_frac`` is the same hot-gram cap (:func:`cap_hot_grams`).
    Reference analog: the dedup surface (SURVEY.md §2 training-data
    extensions); containment is the standard companion measure.
    """
    g = hashed_shingles(df, id_col, text_col, n)
    if max_doc_frac is not None:
        g = cap_hot_grams(g, df, max_doc_frac)
    return _pair_scores(
        g,
        "containment",
        lambda c, a, b: c / F.least(a, b),
        threshold,
        preflight=max_doc_frac is None,
        strict=strict,
    )


# The plain operators (and the shared DuckDB oracles) filter on the
# ROUNDED score — round_det(s, 4) ≥ t, i.e. floor(s·10⁴ + 0.5)/10⁴ ≥ t —
# which admits true scores down to t − 0.5·10⁻⁴ (inclusive). Candidate
# pruning in the prefix twins must therefore be lossless for every pair
# whose TRUE score is ≥ t − 0.5·10⁻⁴, or a rounded-boundary pair the
# plain operator emits could be pruned before verification.
_ROUND_MARGIN = 0.5e-4


def _prefix_index(
    df: DataFrame, id_col: str, text_col: str, n: int, t_eff: float
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """(g, sizes, pre) for the prefix-filtered twins — the ONE
    definition of the prefix rule, shared so the Jaccard and
    containment twins can never diverge on it.

    ``g``: materialized (doc_id, gh) distinct-shingle table (feeds the
    frequency agg, the prefix ranking, and the verify arrays).
    ``sizes``: (doc_id, sz) gram counts — returned so callers reuse
    the one aggregate instead of re-shuffling the corpus for it.
    ``pre``: (doc_id, gh, sz) — each doc's first ``sz − ⌈t_eff·sz⌉ + 1``
    grams in the global rarest-first total order (ascending document
    frequency, gh tie-break). By the prefix-filter theorem, any pair
    whose overlap is ≥ ⌈t_eff·sz⌉ for a doc must have a common gram in
    that doc's prefix."""
    from pyspark.sql.window import Window

    g = materialize(hashed_shingles(df, id_col, text_col, n))
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    freq = g.groupBy("gh").agg(F.count("*").alias("dfct"))
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("dfct", "gh")
    )
    pre = (
        g.join(freq, "gh")
        .join(sizes, "doc_id")
        .withColumn("pos", pos)
        .filter(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.col("sz") * F.lit(t_eff)) + 1
        )
        .select("doc_id", "gh", "sz")
    )
    # DELIBERATELY unpinned: the Jaccard twin's self-join builds two
    # aliases over an IDENTICAL subplan, which Spark dedupes via
    # ReusedExchange — measured at sf0.1, pinning pre made jaccard
    # ~60% slower (checkpoint write ≫ the reused recompute) and
    # containment ~5% slower. The pin-multi-consumer convention
    # applies to DIFFERING consumer plans (g's three consumers), not
    # identical-twin aliases.
    return g, sizes, pre


def _verify_common(cand: DataFrame, g: DataFrame) -> DataFrame:
    """Exact-verification stage shared by the prefix-filtered twins:
    (id_a, id_b, common, sz_a, sz_b) for each candidate pair.

    Verifies by pairing each candidate with BOTH docs' sorted gram
    arrays and intersecting in codegen (`array_intersect`), the
    Vernica SIGMOD'10 verify shape — one row per candidate, never a
    row-expansion. The rejected alternative (candidates ⋈ grams(A) ⋈
    grams(B) and count matches) multiplies every candidate by |A|
    BEFORE the gh equality can prune: on a corpus whose gram
    frequencies are near-uniform (prefix filtering prunes little) the
    intermediate is |cand|·|doc| rows and dominates the whole job —
    measured 18× slower than the plain operator on a synthetic
    flat-frequency corpus, vs at-par with the array verify.

    Exactness: ``shingles`` emits per-doc DISTINCT grams, so the gram
    array is a set and |array_intersect| equals the plain operator's
    per-pair match count (they could diverge only if two distinct
    grams of one doc collided in the 60-bit hash — the same event that
    would skew the plain count)."""
    # pinned: the doc→gram-array table feeds BOTH join sides, and the
    # differing output aliases defeat Spark's exchange reuse — without
    # the pin the corpus-sized collect_list shuffle+agg runs twice
    # (plan-verified: two ObjectHashAggregate subtrees)
    arrs = materialize(
        g.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("gh")).alias("ghs"),
            F.count("*").alias("sz"),
        )
    )
    return (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("id_a"),
                F.col("ghs").alias("ghs_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("id_b"),
                F.col("ghs").alias("ghs_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn(
            "common", F.size(F.array_intersect("ghs_a", "ghs_b"))
        )
        .select("id_a", "id_b", "common", "sz_a", "sz_b")
    )


def ngram_containment_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT twin of :func:`ngram_containment_pairs` with ASYMMETRIC
    prefix filtering — identical output, candidates cut by roughly the
    prefix fraction (≈ 1 − t, so ~10× at the registered t=0.9).

    Containment |A∩B| / min(|A|,|B|) ≥ t only bounds the overlap in
    terms of the SMALLER doc, so the symmetric Jaccard prefix rule
    does not apply to the larger side. The standard asymmetric scheme:
    give each unordered pair one canonical "smaller" role by the total
    order (sz, doc_id); if the pair qualifies, the smaller doc's
    overlap is ≥ t·|small|, so its rarest-gram prefix of
    ``|d| − ⌈t·|d|⌉ + 1`` grams must hit the partner's FULL gram set.
    Join = small-side prefixes × full index (posting volume
    Σ |prefix_posting|·|full_posting| instead of Σ|posting|²), then
    verify surviving pairs exactly as the plain operator does.
    Candidate pruning runs at ``t − 0.5·10⁻⁴`` so rounded-boundary
    pairs the plain operator emits are never pruned (_ROUND_MARGIN).
    Equality with the plain join is test-pinned on the real corpus.
    """
    t_eff = max(threshold - _ROUND_MARGIN, 0.0)
    g, sizes, pre = _prefix_index(df, id_col, text_col, n, t_eff)
    full = g.join(sizes, "doc_id")
    a, b = pre.alias("a"), full.alias("b")
    smaller_role = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    cand = (
        a.join(b, (F.col("a.gh") == F.col("b.gh")) & smaller_role)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
        )
        .distinct()
    )
    common = _verify_common(cand, g)
    return (
        common.withColumn(
            "containment",
            CF.round_det(
                F.col("common") / F.least(F.col("sz_a"), F.col("sz_b")), 4
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.25,
) -> DataFrame:
    """EXACT twin of :func:`ngram_jaccard_pairs` with prefix filtering
    (Chaudhuri et al. ICDE'06; Vernica et al. SIGMOD'10 for the
    MapReduce shape) — identical output pairs, provably fewer join
    candidates, which is the dominant cost at corpus scale.

    Why it matters at 100 TB: the plain inverted-index join emits one
    candidate per SHARED gram — Σ_g |posting(g)|² pairs before the
    per-pair aggregation. Prefix filtering exploits the threshold:
    order every doc's grams by ascending global document frequency
    (rarest first, one total order for the whole corpus); if
    J(A,B) ≥ t, the first ``|d| − ⌈t·|d|⌉ + 1`` grams of A and B must
    share an element — so only that prefix of each doc needs to enter
    the join, and hot (frequent) grams land in the LONG suffixes that
    never join. A length filter (``t·max(|A|,|B|) ≤ min(|A|,|B|)``,
    necessary for J ≥ t) prunes candidates before verification, and
    the verify step computes the exact intersection by joining only
    the surviving pairs back to the full shingle table.

    Shuffle census: gram-frequency agg (gh), frequency join (gh),
    size join + in-doc rank window (doc_id, one exchange — the window
    reuses the join's partitioning), prefix self-join (gh over
    prefixes only), verify joins (candidate-sized). Versus the plain
    operator it trades one extra small agg + window for a candidate
    set that shrinks as the threshold rises — at t=0.5 the prefix is
    half the index; at t=0.9 a tenth.

    Registered as the scale-path twin of ``dedup_ngram_jaccard`` with
    the SAME oracle SQL — the result sets are equal by construction
    (see test_dedup_properties: pair-for-pair equality on the real
    corpus). Candidate pruning runs at ``t − 0.5·10⁻⁴`` so
    rounded-boundary pairs the plain operator emits are never pruned
    (_ROUND_MARGIN).
    """
    t_eff = max(threshold - _ROUND_MARGIN, 0.0)
    g, _sizes, pre = _prefix_index(df, id_col, text_col, n, t_eff)
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # length filter: J ≥ t ⇒ |A∩B| ≥ t·|A∪B| ⇒ t·max ≤ min
        .filter(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(t_eff) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    common = _verify_common(cand, g)
    return (
        common.withColumn(
            "jaccard",
            CF.round_det(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# -------------------------------------------------------------- MinHash LSH

# Universal-hash permutation family over the 60-bit gram hash:
# perm_i(h) = (A_i·(h mod P) + B_i) mod P, P = 2^31 − 1 (prime).
# 63-bit-safe (A_i, h mod P < 2^31 → product < 2^62) so the identical
# BIGINT arithmetic runs in the SQL oracle. Constants are fixed so
# signatures are stable across runs/engines.
MINHASH_P = 2_147_483_647


def minhash_perm_constants(num_perm: int) -> list[tuple[int, int]]:
    out = []
    for i in range(num_perm):
        a = ((2 * i + 1) * 2654435761) % MINHASH_P
        b = (i * 40503 * 65537 + 17) % MINHASH_P
        assert a != 0
        out.append((a, b))
    return out


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
) -> DataFrame:
    """Wide MinHash signatures: (doc_id, mh0..mh{num_perm-1}).

    One md5 per shingle, then ``num_perm`` arithmetic permutations as
    parallel min-aggregates — a single shuffle with map-side partial
    min, no seed explosion. This is the 100 TB formulation: shuffle
    volume = num_perm longs per doc.
    """
    g = hashed_shingles(df, id_col, text_col, n)
    return g.groupBy("doc_id").agg(*minhash_min_aggs(num_perm))


def minhash_min_aggs(num_perm: int) -> "list[Column]":
    """THE permutation min-aggregates over a hashed-shingle column
    ``gh`` — single definition shared by the batch and incremental
    signature paths, so the permutation arithmetic cannot diverge
    between them."""
    hmod = F.col("gh") % MINHASH_P
    return [
        F.min((F.lit(a) * hmod + F.lit(b)) % MINHASH_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_perm_constants(num_perm))
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.25,
) -> DataFrame:
    """Near-dup pairs via MinHash banding.

    Wide signature → ``bands`` band keys (concat of the band's
    components); candidates = equi-join on (band_idx, band_key) via a
    posexplode of the band array; estimated Jaccard (fraction of equal
    components) verified ≥ threshold on ONE wide join of the candidate
    pairs. Returns (id_a, id_b, est_jaccard).
    """
    if bands <= 0 or bands > num_perm or num_perm % bands != 0:
        # bands>num_perm would give empty band keys → one global bucket
        # → the O(n²) cross-pairing this operator exists to avoid
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, bands={bands})"
        )
    # signatures feed banding + both verify-join sides: materialise once
    sig = materialize(minhash_signatures_wide(df, id_col, text_col, n, num_perm))
    return minhash_pairs_from_signatures(sig, num_perm, bands, threshold)


def minhash_pairs_from_signatures(
    sig: DataFrame, num_perm: int, bands: int, threshold: float
) -> DataFrame:
    """(id_a, id_b, est_jaccard) in-set near-dup pairs from an
    ALREADY-materialized wide signature table — the streaming shapes
    compute batch signatures once and feed them both here (in-batch
    pairs) and into ``minhash_flag_against`` (vs the accumulated
    corpus), instead of re-hashing the batch per consumer.

    No local divisibility guard: minhash_bands on the next line IS the
    shared choke point and raises the identical error before any work
    happens (the pairwise wrappers keep their own copies only because
    they fail fast BEFORE the expensive signature job)."""
    banded = minhash_bands(sig, num_perm, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_perm)])
    sb = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_perm)])
    eq_count = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_perm)
    )
    est = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", CF.round_det(eq_count / F.lit(float(num_perm)), 4))
        .select("id_a", "id_b", "est_jaccard")
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def minhash_lsh_incremental(
    df: DataFrame,
    incoming: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.25,
) -> DataFrame:
    """Incremental dedup: flag INCOMING docs that near-duplicate the
    EXISTING corpus — the shape of a daily-ingest pipeline (new crawl
    batch vs the already-curated pool), where pairing incoming×incoming
    or existing×existing would be wasted work.

    ``incoming`` is a boolean Column over ``df`` splitting the pool.
    Signatures are computed in ONE pass over the whole table (shared
    shuffle); the band join is incoming→existing only, so candidate
    volume scales with the batch, not the corpus. Returns one row per
    flagged incoming doc: (doc_id, match_id, est_jaccard) where
    match_id is the best existing match (highest estimate, smallest id
    tie-break).
    """
    if bands <= 0 or bands > num_perm or num_perm % bands != 0:
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, bands={bands})"
        )
    # a NULL predicate would drop the doc from BOTH sides of the split
    # (three-valued logic); treat NULL as existing-corpus so every doc
    # stays matchable
    flagged = df.withColumn(
        "__inc", F.coalesce(incoming.cast("boolean"), F.lit(False))
    )
    g = shingles(flagged, id_col, text_col, n, extra_cols=["__inc"]).select(
        "doc_id", "__inc", CF.hash60("gram").alias("gh")
    )
    sig = materialize(
        g.groupBy("doc_id", "__inc").agg(*minhash_min_aggs(num_perm))
    )
    banded = minhash_bands(sig, num_perm, bands, extra_cols=["__inc"])
    inc_sig = sig.filter(F.col("__inc")).drop("__inc")
    ex_sig = sig.filter(~F.col("__inc")).drop("__inc")
    inc_bands = banded.filter(F.col("__inc")).select("doc_id", "band", "bkey")
    ex_bands = banded.filter(~F.col("__inc")).select("doc_id", "band", "bkey")
    return minhash_flag_against(
        inc_sig, inc_bands, ex_sig, ex_bands, num_perm, threshold
    )


def minhash_flag_against(
    inc_sig: DataFrame,
    inc_bands: DataFrame,
    ex_sig: DataFrame,
    ex_bands: DataFrame,
    num_perm: int,
    threshold: float,
) -> DataFrame:
    """Flag incoming docs against an existing corpus given both sides'
    wide signatures and band tables: banded candidate equi-join →
    estimate verification → best existing match per incoming doc
    ((est desc, match_id asc) via struct-max, no window). Shared by the
    batch and streaming incremental-dedup shapes."""
    cand = (
        inc_bands.join(
            ex_bands.select(
                F.col("doc_id").alias("match_id"), "band", "bkey"
            ),
            ["band", "bkey"],
        )
        .select("doc_id", "match_id")
        .distinct()
    )
    sa = inc_sig.select(
        "doc_id", *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_perm)]
    )
    sb = ex_sig.select(
        F.col("doc_id").alias("match_id"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_perm)],
    )
    eq_count = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_perm)
    )
    est = (
        cand.join(sa, "doc_id")
        .join(sb, "match_id")
        .withColumn("est_jaccard", CF.round_det(eq_count / F.lit(float(num_perm)), 4))
        .filter(F.col("est_jaccard") >= threshold)
    )
    # struct-MIN on (-est, match_id): only the numeric score is negated,
    # so the (est desc, match_id asc) tie-break works for STRING ids
    # too — negating match_id itself crashed on non-numeric ids
    best = est.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("est_jaccard")).alias("ne"), F.col("match_id").alias("m")
            )
        ).alias("_b")
    )
    return best.select(
        "doc_id",
        F.col("_b.m").alias("match_id"),
        (-F.col("_b.ne")).alias("est_jaccard"),
    )


# ------------------------------------------------------------------ SimHash

SIMHASH_BITS = 60  # fits the 60-bit oracle-reproducible hash


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document over whitespace tokens.

    bit_j(doc) = 1 iff Σ_tokens (±1 by bit j of hash60(token)) > 0.
    Computed as 60 conditional-sum aggregate expressions over the
    exploded token table — one shuffle, map-side partial sums.
    Returns (doc_id, simhash: long) — id-complete: token-less docs
    (empty/whitespace/NULL text) keep a marker row and read simhash 0.
    Hashing the '' phantom token instead (the pre-r7 behavior) violated
    the words() contract and gave every empty doc the SAME non-zero
    fingerprint — a quadratic identical-hash bucket in the pair join.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(
            F.filter(CF.words(text_col), lambda t: t != F.lit(""))
        ).alias("tok"),
    ).withColumn("h", CF.hash60("tok"))
    bit_sums = [
        F.sum(
            # the NULL-h marker row contributes 0 to every bit sum, so
            # a token-less doc resolves to simhash 0 (no bit exceeds 0)
            F.when(F.col("h").isNull(), 0)
            .when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def hamming_band_pairs(
    sh: DataFrame,
    hash_col: str,
    bits: int,
    chunks: int,
    max_hamming: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """THE pigeonhole-banded Hamming-pair pipeline, shared by text
    SimHash (``simhash_pairs``) and image pHash
    (``multimodal.phash_pairs``): split ``bits`` into ``chunks`` equal
    chunks; any pair within Hamming ≤ chunks−1 shares ≥1 exact chunk,
    so candidates come from an equi-join on (chunk_idx, chunk_value) —
    never a cross join. Verification is JVM-side bit_count(xor).

    ``max_hamming > chunks − 1`` RAISES: beyond that the pigeonhole
    recall guarantee silently disappears (a pair can differ in every
    chunk yet sit under the threshold) — same misconfiguration
    contract as minhash bands not dividing num_perm."""
    if chunks <= 0 or bits % chunks != 0:
        raise ValueError(
            f"chunks must be positive and divide bits (bits={bits}, chunks={chunks})"
        )
    if max_hamming > chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the pigeonhole guarantee for "
            f"chunks={chunks} (recall is only complete for max_hamming <= "
            f"{chunks - 1}; raise chunks instead)"
        )
    width = bits // chunks
    # measured (r6, sf0.1 via image_phash_pairs): WITH pin 7.1s vs
    # 13.7s without — the upstream hash computation (mapInPandas for
    # pHash) would run once per join side
    sh = materialize(sh)
    chunked = sh.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("ci"),
                    F.shiftright(F.col(hash_col), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("cv"),
                )
                for i in range(chunks)
            ])
        ).alias("c"),
    ).select("doc_id", "__h", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.__h").alias("h_a"),
            F.col("b.__h").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3, chunks: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming — the shared
    ``hamming_band_pairs`` pipeline over 60-bit text SimHashes.

    Token-less docs are excluded from PAIR GENERATION (the same
    degenerate-doc guard every other dedup family applies): they all
    share simhash 0, so in a scraped corpus with n blank docs the band
    join would otherwise emit the O(n²) identical-hash blowup this
    module exists to avoid. exact_dedup already catches empty-text
    duplicates by fingerprint."""
    real = df.filter(
        F.size(F.filter(CF.words(text_col), lambda t: t != F.lit(""))) >= 1
    )
    return hamming_band_pairs(
        simhash(real, id_col, text_col), "simhash", SIMHASH_BITS, chunks,
        max_hamming,
    )


# ------------------------------------------------------- embedding near-dup


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = "label",
    threshold: float = 0.95,
    block_size: int = 2048,
) -> DataFrame:
    """Cosine near-duplicate pairs within a blocking group.

    Blocked brute force as a *block-pair grid*: vectors hash into
    ceil(n/block_size) blocks per group, every (block_i ≤ block_j)
    pair becomes one Arrow task, and the task scores its ≤block_size²
    candidate grid with a single numpy matrix product. Same semantics
    as the former per-pair zip_with fold (clean_vectors gate, NULL
    groups block together, cross-dimension pairs drop, zero-norm
    cosine = 0, round-then-threshold) at a fraction of the cost —
    with one empirical caveat: cosine runs as unit(a)·unit(b) in BLAS
    accumulation order vs the fold's sequential dot/(|a||b|), so
    pre-rounding doubles differ in the last ulps; equality with the
    oracle is hash-verified at every tested SF (collision risk ~1e-12
    per pair at the 1e-4 bin), not an IEEE identity. The cost story: the shuffle moves O(n·blocks) vector rows instead of
    materializing O(Σ n_g²) joined pairs, and the dot products run in
    BLAS instead of one 3-fold aggregate per pair. A group larger than
    any executor's memory still works — no task ever sees more than
    two blocks. For unblocked corpora use
    similarity.random_hyperplane_buckets as the blocking column.
    """
    import pandas as pd  # noqa: F401  (applyInPandas dependency)

    from chillastic_spark.operators.similarity import (
        block_pair_replicate,
        clean_vectors,
    )

    # the shared dirty-vector gate (similarity.clean_vectors): a NULL
    # element silently NULL-poisons the JVM cosine while the DuckDB
    # oracle hard-errors on it — both sides exclude such rows up front
    #
    # size(vec) joins the blocking key: the old zip_with fold returned
    # NULL (pair dropped) for mismatched dimensions, so grouping by
    # dimension reproduces that drop while keeping numpy matrices
    # rectangular.
    v = clean_vectors(df, vec_col).select(
        F.col(id_col).alias("vid"),
        # null-safe blocking: NULL-label vectors still block together —
        # groupBy treats NULL as one group, matching the former
        # eqNullSafe join condition
        (F.col(group_col) if group_col else F.lit(0)).alias("grp"),
        CF.as_double_array(vec_col).alias("vec"),
        F.size(vec_col).alias("_dim"),
    ).filter(
        # a NULL id could never pair under the join form (vid < vid'
        # is NULL) — drop such rows before they reach numpy, where
        # None/NaN id comparisons would misbehave instead
        F.col("vid").isNotNull()
    )
    rep = block_pair_replicate(v, ["grp", "_dim"], "vid", block_size)

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"

    return rep.groupBy("grp", "_dim", "ci", "cj").applyInPandas(
        _block_cos_scorer(float(threshold)), out_schema
    )


def _block_cos_scorer(thr: float):
    """THE block-grid cosine pair kernel shared by the blocked
    (:func:`embedding_dup_pairs`) and LSH-bucketed
    (:func:`embedding_dup_pairs_unblocked`) dedups: one numpy matmul
    per (group, _dim, ci, cj) Arrow task, round-then-threshold, the
    vid_a < vid_b orientation. Callers must groupBy FOUR key columns
    ending (_dim, ci, cj)."""

    def _score_block(key, pdf):
        # key = (group, _dim, ci, cj)
        import numpy as np
        import pandas as pd

        diag = key[2] == key[3]
        a = pdf[pdf["role"] == 0]
        b = a if diag else pdf[pdf["role"] == 1]
        dim = int(key[1])
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(
                {"id_a": a["vid"][:0], "id_b": a["vid"][:0], "cos": []}
            )

        def unit(rows):
            m = (
                np.vstack(rows.to_numpy())
                if dim > 0
                else np.zeros((len(rows), 0))
            ).astype(np.float64, copy=False)
            n = np.sqrt((m * m).sum(axis=1, keepdims=True))
            # zero-norm vector → zero row → dot 0.0, the CF.cosine
            # zero-safe convention
            np.divide(m, n, out=m, where=n != 0)
            return m

        ua = unit(a["vec"])
        c = ua @ (ua.T if diag else unit(b["vec"]).T)
        # round-then-threshold, the exact round_det arithmetic
        c = np.floor(c * 10000.0 + 0.5) / 10000.0
        ia, ib = np.nonzero(c >= thr)
        va = a["vid"].to_numpy()[ia]
        vb = b["vid"].to_numpy()[ib]
        # diagonal blocks see each unordered pair twice — keep the
        # vid_a < vid_b orientation the join form emitted (which also
        # drops equal-vid row pairs, as the old a.vid < b.vid did);
        # cross blocks see it once, in arbitrary orientation.
        keep = va < vb if diag else va != vb
        va, vb, cs = va[keep], vb[keep], c[ia, ib][keep]
        lo = np.where(va < vb, va, vb)
        hi = np.where(va < vb, vb, va)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cs})

    return _score_block


def embedding_dup_pairs_unblocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 6,
    probes: int = 2,
    tables: int = 3,
    block_size: int = 2048,
) -> DataFrame:
    """Cosine near-duplicate pairs for an UNBLOCKED corpus — no label
    or natural blocking column required (the composition the
    :func:`embedding_dup_pairs` docstring points unlabeled corpora
    at, registered end-to-end).

    Candidate generation is random-hyperplane LSH with ``tables``
    INDEPENDENT hyperplane sets (seeds rp0..rp{t}) and the shared
    multi-probe policy (:func:`similarity.probe_buckets_expr`): every
    vector lands in tables × probes buckets, a pair is a candidate
    when any bucket coincides, and each (table·bucket, _dim) group is
    scored exactly by the block-pair grid
    (:func:`similarity.block_pair_replicate` +
    :func:`_block_cos_scorer`). Emitted pairs are therefore EXACT
    (same clean_vectors gate, dimension blocking, zero-norm and
    round-then-threshold conventions as the blocked dedup — precision
    1 by construction); RECALL is the LSH bargain: a pair at cosine s
    survives one table with probability ~p^planes + p^(planes-1)(1-p)
    (p = 1 - arccos(s)/π), and ``tables`` independent sets compound
    to 1-(1-·)^tables. Defaults give ≳0.9 expected recall at 0.95+
    and a measured floor pinned by the scripts/twins.py recall twin.

    Scale shape: per-row fan-out is tables·probes bucket rows then nb
    block copies — O(n) total, never corpus²; bucket occupancy
    ~n/2^planes per table keeps every grid task bounded, and the
    multiply-found pairs collapse in ONE groupBy(max(cos)) shuffle —
    max, not dropDuplicates, because each bucket recomputes the cosine
    in a different matmul shape and may round a bin-edge pair
    differently in the last ulp (r8 ADVICE).
    """
    from chillastic_spark.operators.similarity import (
        block_pair_replicate,
        clean_vectors,
        probe_buckets_expr,
        random_hyperplane_buckets,
    )

    first_v = df.select(CF.as_double_array(vec_col)).first()
    dims = len(first_v[0]) if first_v and first_v[0] is not None else None
    probe_arrays = [
        probe_buckets_expr(
            random_hyperplane_buckets(
                vec_col, planes, seed=f"rp{t}", dims=dims
            ),
            probes,
            planes,
        )
        for t in range(tables)
    ]
    # one flat bucket id per (table, bucket): table t's buckets live in
    # [t·2^planes, (t+1)·2^planes) — a single int key keeps the shared
    # scorer's (group, _dim, ci, cj) key layout. NB: the shift lambda
    # must stay single-parameter — pyspark calls a two-parameter
    # higher-order lambda as (element, array_index), silently
    # overriding any default-bound second argument.
    def _shift(t: int):
        return lambda b: b + F.lit(t * (1 << planes))

    buckets = F.flatten(
        F.array(
            *[
                F.transform(F.array_distinct(arr), _shift(t))
                for t, arr in enumerate(probe_arrays)
            ]
        )
    )
    v = (
        clean_vectors(df, vec_col)
        .filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).alias("vid"),
            CF.as_double_array(vec_col).alias("vec"),
            F.size(vec_col).alias("_dim"),
            F.explode(buckets).alias("bkt"),
        )
    )
    rep = block_pair_replicate(v, ["bkt", "_dim"], "vid", block_size)
    id_type = df.schema[id_col].dataType.simpleString()
    scored = rep.groupBy("bkt", "_dim", "ci", "cj").applyInPandas(
        _block_cos_scorer(float(threshold)),
        f"id_a {id_type}, id_b {id_type}, cos double",
    )
    # a pair found in several tables/buckets recomputes the SAME
    # cosine, but in a different BLAS matmul shape per bucket — the
    # accumulation order can differ in the last ulp and round
    # differently at a bin edge, so dropDuplicates would keep a
    # partition-nondeterministic survivor. max(cos) is deterministic
    # over the (deterministic) set of bucket emissions; whether a
    # borderline pair is emitted at all keeps the empirical-ulp caveat
    # documented for the oracle comparison.
    return scored.groupBy("id_a", "id_b").agg(F.max("cos").alias("cos"))


def embedding_dup_incremental(
    df: DataFrame,
    incoming,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str | None = "label",
    threshold: float = 0.95,
    block_size: int = 2048,
) -> DataFrame:
    """Cosine near-dup flags for an INCOMING batch against the
    EXISTING pool — the embedding companion to
    :func:`minhash_lsh_incremental` (streaming/batch curation: each
    arriving batch is checked against the already-curated corpus;
    incoming×incoming pairs are the next batch run's job, exactly as
    the minhash variant excludes them).

    ``incoming`` is a boolean Column over ``df`` splitting the pool.
    Scale shape is a BIPARTITE block grid: existing rows hash into
    ceil(n_e/block) blocks and incoming rows into ceil(n_i/block)
    blocks per (group, width); every (existing_block × incoming_block)
    task scores one rectangular numpy matmul. Candidate volume is
    n_e·nb_i + n_i·nb_e replicated rows — linear per side, never
    pool², and a steady-state pipeline (huge pool, small batch) pays
    ~one pool scan per batch. Same conventions as
    :func:`embedding_dup_pairs`: clean-vector gate, NULL groups block
    together, cross-dimension pairs drop, zero-norm cosine = 0,
    round-then-threshold — all mirrored in the ANSI-SQL oracle.

    Output: (vec_id, match_id, cos) — one row per (incoming, existing)
    pair at or above the threshold.
    """
    import pandas as pd  # noqa: F401  (applyInPandas dependency)

    from chillastic_spark.operators.similarity import clean_vectors

    v = clean_vectors(df, vec_col).select(
        F.col(id_col).alias("vid"),
        (F.col(group_col) if group_col else F.lit(0)).alias("grp"),
        CF.as_double_array(vec_col).alias("vec"),
        F.size(vec_col).alias("_dim"),
        # NULL incoming-flag rows are EXISTING (the minhash_lsh_
        # incremental convention): an unflagged row is pool, not batch
        F.coalesce(incoming.cast("boolean"), F.lit(False)).alias("__inc"),
    ).filter(F.col("vid").isNotNull())
    keys = ["grp", "_dim"]

    def _counts(side: DataFrame, name: str) -> DataFrame:
        return side.groupBy(
            *[F.col(c).alias(f"_bc_{c}") for c in keys]
        ).agg(F.ceil(F.count(F.lit(1)) / F.lit(block_size)).alias(name))

    ex = v.filter(~F.col("__inc"))
    inc = v.filter(F.col("__inc"))
    nbe = _counts(ex, "_nbe")
    nbi = _counts(inc, "_nbi")

    def _join_counts(side: DataFrame, counts: DataFrame) -> DataFrame:
        cond = None
        for c in keys:
            e = side[c].eqNullSafe(counts[f"_bc_{c}"])
            cond = e if cond is None else (cond & e)
        # left join: a (group, width) present on one side only has no
        # partner blocks — sequence over a NULL count explodes to
        # nothing, dropping the row from the grid for free
        return side.join(F.broadcast(counts), cond, "left").drop(
            *[f"_bc_{c}" for c in keys]
        )

    # existing row -> its own block ci, fanned over every incoming
    # block cj (role 0); incoming row -> fanned over every existing
    # block ci, its own block cj (role 1)
    exf = _join_counts(_join_counts(ex, nbe), nbi)
    exf = exf.withColumn(
        "ci", F.pmod(F.xxhash64(F.col("vid").cast("string")), F.col("_nbe"))
    ).withColumn(
        "cj", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nbi") - 1))
    ).withColumn("role", F.lit(0))
    incf = _join_counts(_join_counts(inc, nbe), nbi)
    incf = incf.withColumn(
        "cj", F.pmod(F.xxhash64(F.col("vid").cast("string")), F.col("_nbi"))
    ).withColumn(
        "ci", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nbe") - 1))
    ).withColumn("role", F.lit(1))
    cols = ["vid", "grp", "vec", "_dim", "ci", "cj", "role"]
    rep = exf.select(*cols).unionByName(incf.select(*cols))

    id_type = df.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def _score(key, pdf):
        # key = (grp, _dim, ci, cj); role 0 = existing, role 1 = incoming
        import numpy as np
        import pandas as pd

        ex_rows = pdf[pdf["role"] == 0]
        in_rows = pdf[pdf["role"] == 1]
        dim = int(key[1])
        if len(ex_rows) == 0 or len(in_rows) == 0:
            return pd.DataFrame(
                {"vec_id": in_rows["vid"][:0], "match_id": in_rows["vid"][:0],
                 "cos": []}
            )

        def unit(rows):
            m = (
                np.vstack(rows.to_numpy())
                if dim > 0
                else np.zeros((len(rows), 0))
            ).astype(np.float64, copy=False)
            n = np.sqrt((m * m).sum(axis=1, keepdims=True))
            np.divide(m, n, out=m, where=n != 0)
            return m

        c = unit(in_rows["vec"]) @ unit(ex_rows["vec"]).T
        c = np.floor(c * 10000.0 + 0.5) / 10000.0
        ii, ie = np.nonzero(c >= thr)
        vi = in_rows["vid"].to_numpy()[ii]
        ve = ex_rows["vid"].to_numpy()[ie]
        # a row is on exactly one side, so same-id pairs only arise
        # from duplicate ids in the data — excluded like the join
        # form's vec_id != match_id would
        keep = vi != ve
        return pd.DataFrame(
            {"vec_id": vi[keep], "match_id": ve[keep], "cos": c[ii, ie][keep]}
        )

    return rep.groupBy("grp", "_dim", "ci", "cj").applyInPandas(
        _score, f"vec_id {id_type}, match_id {id_type}, cos double"
    )


def minhash_bands(
    sig: DataFrame, num_perm: int, bands: int, extra_cols: "list[str] | None" = None
) -> DataFrame:
    """(doc_id, *extra_cols, band, bkey) banding of a wide signature
    table — the LSH bucket currency shared by the pairwise,
    incremental, and streaming dedup shapes."""
    # THE divisibility guard lives here, at the shared choke point:
    # bands ∤ num_perm would silently drop trailing signature
    # components (rows = num_perm // bands truncates), degrading LSH
    # recall with no error — the streaming path reaches this function
    # without passing through the pairwise wrappers.
    if bands <= 0 or bands > num_perm or num_perm % bands != 0:
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, bands={bands})"
        )
    rows = num_perm // bands
    band_keys = F.array(
        *[
            F.concat_ws(
                ",", *[F.col(f"mh{b * rows + j}").cast("string") for j in range(rows)]
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id",
        *[F.col(c) for c in (extra_cols or [])],
        F.posexplode(band_keys).alias("band", "bkey"),
    )
