"""Text-analysis operators of the curation chain: language ID, quality
scoring, the Gopher and C4 document rules, the C4 line filter, the
blocked-words filter and the per-domain cap.  All pure Spark SQL
expressions (codegen'd); no UDFs, and no shuffle except the domain cap's
ranked window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._frames import fresh_names, top_n

# Tiny deterministic stopword profiles for the n-gram/stopword language vote.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pour"),
    "es": ("el", "la", "los", "y", "es", "que", "una", "por"),
}

EN_STOPWORDS = LANG_PROFILES["en"] + ("a", "an", "it", "on", "with", "as")

# Script-based detection for languages the stopword vote cannot see
# (unspaced scripts).  (lang, literal char-class, ratio as num/den so the
# comparison stays in INTEGER arithmetic — bit-identical across engines).
# Order matters: kana implies Japanese even on kanji-heavy text, so it
# precedes the Han rule; Hangul is unambiguous.
SCRIPT_RULES: list[tuple[str, str, int, int]] = [
    ("ko", "[가-힣]", 3, 10),
    ("ja", "[ぁ-ゖァ-ヺー]", 1, 20),
    ("zh", "[一-鿿]", 3, 10),
    # single-script languages with dedicated Unicode blocks: a high ratio
    # of block characters IS the language call (the ranges are disjoint,
    # so rule order among these does not matter)
    ("ru", "[а-яА-ЯёЁ]", 3, 10),
    ("he", "[֐-׿]", 3, 10),
    ("ar", "[؀-ۿ]", 3, 10),
    ("hi", "[ऀ-ॿ]", 3, 10),
    ("th", "[฀-๿]", 3, 10),
]


def _votes(lang: str, text_col: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return (
        f"size(filter(split(lower({text_col}), ' '), "
        f"w -> array_contains(array({words}), w)))"
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language ID: script-ratio rules for unspaced scripts (ko/ja/zh),
    then a stopword vote with deterministic tie-break (profile order).

    A real deployment swaps the profiles for charset n-gram tables; the
    operator shape (pure expression, no shuffle) is the point.  Script
    ratios compare as ``count*den > length*num`` — integer arithmetic,
    so the decision is bit-identical across engines."""
    script_cols = [
        F.regexp_count(F.col(text_col), F.lit(cls)).alias(f"s_{lang}")
        for lang, cls, _, _ in SCRIPT_RULES
    ]
    vote_cols = [F.expr(_votes(lang, text_col)).alias(f"v_{lang}")
                 for lang in LANG_PROFILES]
    scored = df.select("*", *script_cols, *vote_cols)
    # script rules first, then greatest-vote argmax (ties → profile order)
    langs = list(LANG_PROFILES)
    case = "CASE"
    for lang, _, num, den in SCRIPT_RULES:
        case += (
            f" WHEN length({text_col}) > 0 AND "
            f"s_{lang} * {den} > length({text_col}) * {num} THEN '{lang}'"
        )
    # zero votes everywhere = no evidence: 'und', not the argmax
    # tie-break (which silently called every stopword-free document
    # 'en', the first profile)
    zero = " AND ".join(f"v_{lang} = 0" for lang in langs)
    case += f" WHEN {zero} THEN 'und'"
    for lang in langs:
        others = " AND ".join(
            f"v_{lang} >= v_{o}" for o in langs if o != lang
        )
        case += f" WHEN {others} THEN '{lang}'"
    case += " ELSE 'und' END"
    return scored.withColumn("lang_pred", F.expr(case)).withColumn(
        "lang_votes", F.greatest(*[F.col(f"v_{lang}") for lang in langs])
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: lengths, ratios, and a composite score —
    the boilerplate/garbage filter stage of a webtext training pipeline."""
    # the word array is bound ONCE to a collision-free column: three
    # sibling projection columns reference it, and higher-order-function
    # expressions are interpreted (no codegen subexpression elimination),
    # so inlining the split would re-tokenize the document per column
    [tmp] = fresh_names(df, "_qw")
    bound = df.withColumn(tmp, F.expr(f"split({text_col}, ' ')"))
    words = f"`{tmp}`"
    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return bound.select(
        "*",
        F.length(text_col).alias("n_chars_m"),
        F.expr(f"size({words})").alias("n_words"),
        F.expr(f"size(array_distinct({words}))").alias("n_distinct_words"),
        F.expr(
            f"size(filter({words}, w -> array_contains(array({stop}), w)))"
        ).alias("n_stopwords"),
        F.expr(f"regexp_count({text_col}, '[0-9]')").alias("n_digits"),
        F.expr(f"regexp_count({text_col}, '[.,;:!?]')").alias("n_punct"),
    ).drop(tmp).select(
        "*",
        F.expr(
            "CAST(n_distinct_words AS DOUBLE) / n_words"
        ).alias("lexical_diversity"),
        F.expr("CAST(n_stopwords AS DOUBLE) / n_words").alias("stopword_ratio"),
        F.expr("CAST(n_chars_m AS DOUBLE) / n_words").alias("avg_word_len"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1]-ish score; higher = more natural-language-like."""
    feats = quality_features(df, text_col)
    return feats.withColumn(
        "quality",
        F.expr(
            "least(1.0, greatest(0.0, "
            "0.4 * least(n_words / 100.0, 1.0) + "
            "0.3 * lexical_diversity + "
            "0.3 * least(stopword_ratio * 5.0, 1.0)))"
        ),
    )


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality gates (Rae et al. 2021, table A1
    shape): word-count band, mean word length band, symbol-to-word ratio,
    and short/long-word fractions — each an auditable boolean column plus
    an overall keep flag.  Pure expressions; thresholds are the published
    defaults scaled to this corpus's synthetic text."""
    # bound once for the same reason as quality_features: four sibling
    # columns reference the array and HOF exprs don't CSE
    [tmp] = fresh_names(df, "_gw")
    bound = df.withColumn(tmp, F.expr(f"split({text_col}, ' ')"))
    words = f"`{tmp}`"
    return bound.select(
        "*",
        F.expr(f"size({words})").alias("g_words"),
        F.expr(
            f"CAST(aggregate({words}, 0, (a, w) -> a + length(w)) AS DOUBLE)"
            f" / size({words})"
        ).alias("g_mean_word_len"),
        F.expr(
            f"CAST(size(filter({words}, w -> w rlike '[^a-zA-Z0-9]')) AS DOUBLE)"
            f" / size({words})"
        ).alias("g_symbol_word_ratio"),
        F.expr(
            f"CAST(size(filter({words}, w -> length(w) <= 2)) AS DOUBLE)"
            f" / size({words})"
        ).alias("g_short_word_frac"),
    ).drop(tmp).withColumn(
        "g_keep",
        (F.col("g_words").between(5, 10_000_000))
        & (F.col("g_mean_word_len").between(2.0, 12.0))
        & (F.col("g_symbol_word_ratio") < 0.3)
        & (F.col("g_short_word_frac") < 0.6),
    )


# Gopher's 8-word stopword gate (Rae et al. 2021 §A1.1: a document must
# contain at least 2 of these common English function words).
GOPHER_STOP_8 = ("the", "be", "to", "of", "and", "that", "have", "with")


def c4_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2) plus Gopher's
    stopword gate, each as an auditable column:

    - ``c4_punct_line_frac``: fraction of lines ending in terminal
      punctuation (``.!?"``) — C4 keeps only lines that do; the fraction
      is the auditable form of that rule;
    - ``c4_n_sentences``: terminal-punctuation count (≥ 3 required);
    - ``c4_has_curly``: page contains ``{`` (code, not prose — dropped);
    - ``c4_has_lorem``: contains "lorem ipsum" (template junk — dropped);
    - ``c4_stopword_rule``: ≥ 2 DISTINCT words of Gopher's 8-word gate;
    - ``c4_keep``: the conjunction.

    Pure codegen expressions; the line array is bound to a real column
    (multi-referenced, so CollapseProject keeps the bind — the CLAUDE.md
    inlined-array-build rule).  Integer counts and string predicates only,
    so the DuckDB oracle twin is bit-exact."""
    [tmp] = fresh_names(df, "_lines")
    bound = df.withColumn(tmp, F.split(F.col(text_col), "\n"))
    stop8 = ", ".join(f"'{w}'" for w in GOPHER_STOP_8)
    out = bound.select(
        "*",
        F.expr(f"size(`{tmp}`)").alias("c4_n_lines"),
        # \z (end of TEXT), not $ — Java's $ also matches before a final
        # \r line terminator while RE2's does not (the CLAUDE.md anchor
        # trap); \z means the same thing in both engines
        F.expr(
            f"size(filter(`{tmp}`, l -> l rlike '[.!?\"]\\\\s*\\\\z'))"
        ).alias("c4_punct_lines"),
        F.expr(f"regexp_count({text_col}, '[.!?]')").alias("c4_n_sentences"),
        F.expr(f"contains({text_col}, '{{')").alias("c4_has_curly"),
        F.expr(f"contains(lower({text_col}), 'lorem ipsum')").alias(
            "c4_has_lorem"
        ),
        # array_intersect keeps DISTINCT stop words present — identical
        # count to the old per-stopword filter, but the lowered word
        # array is built ONCE as a plain function argument (never inside
        # a lambda body, where CollapseProject's inlining would
        # re-evaluate the split per stopword — the r3 ADVICE finding)
        F.expr(
            f"size(array_intersect(array({stop8}), "
            f"split(lower({text_col}), ' ')))"
        ).alias("c4_n_stop8"),
    ).drop(tmp)
    return out.select(
        "*",
        F.expr(
            "CAST(c4_punct_lines AS DOUBLE) / c4_n_lines"
        ).alias("c4_punct_line_frac"),
        (F.col("c4_n_stop8") >= 2).alias("c4_stopword_rule"),
    ).withColumn(
        "c4_keep",
        (F.col("c4_n_sentences") >= 3)
        & ~F.col("c4_has_curly")
        & ~F.col("c4_has_lorem")
        & F.col("c4_stopword_rule"),
    )


def cap_per_domain(
    df: DataFrame,
    n: int,
    url_col: str = "url",
    order_col: str = "doc_id",
    salts: int = 16,
) -> DataFrame:
    """Per-domain document cap (the FineWeb-style domain balancer): keep
    at most ``n`` documents per registrable host, chosen as the ``n``
    smallest ``order_col`` values — a deterministic, append-unstable-free
    choice (re-running on a grown corpus keeps the same winners until
    they are displaced by smaller keys, never by partitioning).

    Plan shape: the rank is the same salted two-stage top-k as the
    similarity module — stage 1 row_numbers within ``(domain, salt)``
    shards and keeps ≤ n each, stage 2 ranks the ≤ n·salts survivors per
    domain.  A mega-domain (the exact skew a domain cap exists to tame)
    therefore never funnels through one task; the final per-domain
    window sees at most n·salts rows.  ``salts=1`` recovers the single
    window."""
    from .urls import host_of

    [dom] = fresh_names(df, "_domain")
    d = df.withColumn(dom, host_of(F.col(url_col)))
    order = [F.col(order_col)]
    return top_n(d, dom, order, n, salts, order_col).drop(dom)


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
    drop_containing: str = "javascript",
) -> DataFrame:
    """The C4 LINE-level cleaning pass (Raffel et al. 2020 §2.2 applies
    these BEFORE the page-level rules in :func:`c4_rules`): keep only
    lines that end in terminal punctuation, have at least ``min_words``
    whitespace words, and do not contain ``drop_containing``
    (case-insensitive; C4 dropped any line with the word "javascript").

    Adds ``clean_text`` (surviving lines re-joined with ``\\n``; empty
    string when nothing survives — the caller decides whether to drop
    the document, e.g. via c4_rules on the cleaned column) and
    ``c4_lines_removed`` — the removal is never silent.

    Pure codegen: the line array is bound once; the per-line conditions
    inside the filter lambda operate on the LINE element only (an
    element-level split is one evaluation per line — the CLAUDE.md rule
    bans re-evaluating ROW-level arrays per element, which this never
    does)."""
    tmp, kept = fresh_names(df, "_lines", "_kept")
    needle = drop_containing.lower().replace("'", "''")
    bound = df.withColumn(
        tmp, F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    ).withColumn(
        kept,
        F.expr(
            # \z not $ — the Java-$-vs-RE2 anchor parity trap
            f"filter(`{tmp}`, l -> l rlike '[.!?\"]\\\\s*\\\\z' "
            f"AND size(split(l, ' ')) >= {min_words} "
            f"AND NOT contains(lower(l), '{needle}'))"
        ),
    )
    return bound.select(
        "*",
        F.expr(f"array_join(`{kept}`, '\\n')").alias("clean_text"),
        F.expr(f"size(`{tmp}`) - size(`{kept}`)")
        .cast("int")
        .alias("c4_lines_removed"),
    ).drop(tmp, kept)


def blocked_words_filter(
    df: DataFrame,
    words: list[str],
    text_col: str = "text",
    keep_flag: bool = False,
) -> DataFrame:
    """Drop documents containing ANY blocked word (the C4 badwords-list
    stage: pages with a word from the blocklist are removed wholesale).
    Matching is on lowercased alphanumeric TOKENS (punctuation-stripped),
    so "word," matches a blocklist entry "word" but "sword" does not.

    List entries pass through the SAME normalization as the text (the
    real C4 badwords list is full of hyphens, spaces, and punctuation —
    an entry like ``face-sitting`` would otherwise never match any
    token): entries that survive as one token match via token overlap;
    entries that normalize to MULTIPLE tokens match as a phrase on the
    space-collapsed normalized text; entries that vanish entirely under
    normalization RAISE (a silently dead blocklist entry is the
    never-silent policy's worst case).

    A literal word list (curated lists are thousands of entries) inlines
    as an array literal: pure projection-side filter, no join, no
    shuffle — same posture as ``urls.filter_blocked_domains``.  With
    ``keep_flag`` the boolean survives as ``has_blocked_word`` instead
    of filtering (for auditing what a later filter would drop)."""
    import re as _re

    if not words:
        return (
            df.withColumn("has_blocked_word", F.lit(False))
            if keep_flag
            else df
        )
    normed, dead = [], []
    for w in words:
        nw = _re.sub(r" +", " ", _re.sub(r"[^a-z0-9 ]", " ", w.lower()))
        nw = nw.strip()
        (normed if nw else dead).append(nw or w)
    if dead:
        raise ValueError(
            "blocklist entries vanish under token normalization "
            f"(would silently never match): {sorted(set(dead))!r}"
        )
    singles = sorted({w for w in normed if " " not in w})
    phrases = sorted({w for w in normed if " " in w})

    def _lit(w: str) -> str:
        return "'" + w.replace("'", "''") + "'"

    conds = []
    # NOTE a column binding does NOT protect the normalize chain here:
    # PushDownPredicates/CollapseProject substitute a once-referenced
    # alias straight into the predicate, so anything inside a per-entry
    # lambda would re-run the two regexp_replace passes PER ENTRY per
    # row (measured in the optimized plan).  Both branches are therefore
    # single-eval expressions: a split+overlap for single tokens and ONE
    # rlike alternation for phrases (entries are pure [a-z0-9 ] after
    # normalization, so the pattern needs no escaping).
    ncol = (
        f"regexp_replace(regexp_replace(lower(coalesce({text_col}, "
        f"'')), '[^a-z0-9 ]', ' '), ' +', ' ')"
    )
    if singles:
        conds.append(
            f"arrays_overlap(split({ncol}, ' '), "
            f"array({', '.join(_lit(w) for w in singles)}))"
        )
    if phrases:
        # whole-token phrase match on the collapsed text: one regex pass
        # per row (the alternation is a constant-folded literal), zero
        # per-entry string copies
        pat = "(^| )(" + "|".join(phrases) + ")( |$)"
        conds.append(f"({ncol}) rlike {_lit(pat)}")
    hit = F.expr(" OR ".join(conds))
    if keep_flag:
        return df.withColumn("has_blocked_word", hit)
    return df.filter(~hit)
