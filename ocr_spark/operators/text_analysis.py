"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting.  All pure Spark SQL expressions (codegen'd); no
UDFs, no shuffles except the aggregations a caller asks for.
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

# BPE-ish token regex: word pieces OR single non-space symbols.
TOKEN_PATTERN = "[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"


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


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count.

    The pattern rides as a Column literal (not a SQL string literal) so
    backslash classes like ``\\s`` survive un-mangled."""
    return df.select(
        "*",
        F.expr(f"size(split({text_col}, ' '))").alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(TOKEN_PATTERN)).alias(
            "bpe_tokens"
        ),
    )


def token_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus token-frequency table: (token, n) — vocabulary statistics.

    One explode + one groupBy; partial aggregation keeps the shuffle at
    one row per distinct token per partition (the right shape at 100 TB:
    vocabulary is tiny next to the corpus)."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Fraction of the document occupied by its most-repeated n-gram —
    the Gopher-style repetition signal (machine-generated/boilerplate text
    repeats heavily).  Pure higher-order functions: the non-distinct
    shingle list and its per-shingle counts never leave the row.

    O(G log G) per document: the max multiplicity of any gram equals the
    longest equal-run in the SORTED gram array, found in one fold.  (The
    previous distinct×filter formulation was O(G²) per row — a straggler
    factory on exactly the long repetitive documents this signal exists
    to catch: a 50k-word page would cost ~2.5×10⁹ comparisons in one
    task.)  The word and gram arrays are bound to real columns between
    projections: inlining them would re-split/rebuild per lambda element
    (the other quadratic)."""
    ws = df.select(
        id_col, F.split(F.col(text_col), " ").alias("_ws")
    )
    grams = (
        f"CASE WHEN size(_ws) >= {n} THEN "
        f"transform(sequence(0, size(_ws) - {n}),"
        f" i -> array_join(slice(_ws, i + 1, {n}), ' ')) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    g = ws.select(id_col, F.expr(grams).alias("_grams"))
    max_rep = (
        "aggregate(array_sort(_grams), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
        "(acc, g) -> named_struct("
        "  'prev', g, "
        "  'run', CASE WHEN g <=> acc.prev THEN acc.run + 1 ELSE 1 END, "
        "  'best', greatest(acc.best, "
        "    CASE WHEN g <=> acc.prev THEN acc.run + 1 ELSE 1 END)), "
        "acc -> acc.best)"
    )
    return g.select(
        id_col,
        F.expr("size(_grams)").alias("n_grams"),
        F.expr(
            f"CASE WHEN size(_grams) > 0 THEN "
            f"CAST({max_rep} AS DOUBLE) / size(_grams) ELSE 0.0 END"
        ).alias("max_gram_ratio"),
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


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style fingerprint: min/max rolling n-gram hash + shingle
    count per doc — a compact signature for corpus diffing.

    ``hash_mode='portable'`` swaps xxhash64 for the 48-bit md5-prefix hash
    the DuckDB driver oracle reproduces bit-identically."""
    from .dedup import with_shingles
    from .hashing import portable_hash_sql_spark

    h = (
        portable_hash_sql_spark("s")
        if hash_mode == "portable"
        else "xxhash64(s)"
    )
    # docs with no shingles (shorter than n words) have no fingerprint —
    # filtered rather than emitting Long.MIN/MAX sentinels
    sh = with_shingles(df, text_col, n).filter(F.expr("size(shingles) > 0"))
    return sh.select(
        id_col,
        F.expr(
            "aggregate(shingles, CAST(9223372036854775807 AS BIGINT), "
            f"(acc, s) -> least(acc, {h}))"
        ).alias("fp_min"),
        F.expr(
            "aggregate(shingles, CAST(-9223372036854775808 AS BIGINT), "
            f"(acc, s) -> greatest(acc, {h}))"
        ).alias("fp_max"),
        F.expr("size(shingles)").alias("fp_size"),
    )


def corpus_domain_stats(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-domain corpus rollup: the curation axis a web-scale pipeline
    filters on (domain blocklists, per-site quality caps, language mix).

    One map-side-combined groupBy on the domain key — at 10^12 docs the
    shuffle carries one partial row per (domain × partition), and domain
    cardinality (~10^8 hosts for the full web) is far below doc count, so
    this is the cheap aggregation shape.  Skewed mega-domains only affect
    the pre-combined partials (counts/sums), not row volume.

    All aggregates are INTEGER sums divided once at the end — a float
    ``avg`` across rows depends on partial-sum order (nondeterministic
    across partitionings and engines); integer sums are exact, so the
    output is bit-stable and oracle-hashable."""
    words = F.split(F.col(text_col), " ")
    return (
        df.groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(text_col)).alias("total_chars"),
            F.sum(F.size(words)).alias("total_words"),
            F.sum(
                F.size(F.filter(words, lambda w: F.length(w) <= 2))
            ).alias("_short"),
            F.count_distinct(F.col(lang_col)).alias("n_langs"),
        )
        .select(
            "domain",
            "n_docs",
            "total_chars",
            "total_words",
            "n_langs",
            F.round(F.col("total_words") / F.col("n_docs"), 6).alias(
                "mean_words"
            ),
            F.round(F.col("_short") / F.col("total_words"), 6).alias(
                "short_word_frac"
            ),
        )
    )


def duplicate_line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Gopher-style duplicate-line signals: the fraction of line
    OCCURRENCES that duplicate another line, and the fraction of
    characters living in duplicated lines (Rae et al. 2021 repetition
    table) — boilerplate/templated pages repeat whole lines.

    Same scale discipline as repetition_ratio: the line array is bound to
    a real column (no per-lambda re-split), and per-line multiplicities
    come from ONE sorted fold (O(L log L)); character counts are integer
    sums divided once, so output is bit-stable across partitionings and
    engines."""
    import re as _re

    lines = df.select(
        id_col, F.split(F.col(text_col), _re.escape(sep)).alias("_lines")
    )
    uniq_chars = (
        "aggregate(array_sort(_lines), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0, "
        "             'uniq', CAST(0 AS BIGINT)), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', CASE WHEN x <=> acc.prev THEN acc.run + 1 ELSE 1 END, "
        "  'uniq', acc.uniq + CASE WHEN acc.prev IS NULL THEN CAST(0 AS BIGINT) "
        "     WHEN x <=> acc.prev THEN CAST(0 AS BIGINT) "
        "     WHEN acc.run = 1 THEN CAST(length(acc.prev) AS BIGINT) "
        "     ELSE CAST(0 AS BIGINT) END), "
        "acc -> acc.uniq + CASE WHEN acc.run = 1 "
        "  THEN CAST(length(acc.prev) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    )
    g = lines.select(
        id_col,
        F.expr("size(_lines)").alias("n_lines"),
        F.expr("size(array_distinct(_lines))").alias("n_distinct"),
        F.expr(
            "aggregate(_lines, CAST(0 AS BIGINT), "
            "(a, x) -> a + CAST(length(x) AS BIGINT))"
        ).alias("total_chars"),
        F.expr(uniq_chars).alias("_uniq_chars"),
    )
    return g.select(
        id_col,
        "n_lines",
        "n_distinct",
        "total_chars",
        F.round(
            (F.col("n_lines") - F.col("n_distinct")) / F.col("n_lines"), 6
        ).alias("dup_line_frac"),
        F.expr(
            "CASE WHEN total_chars > 0 THEN "
            "round((total_chars - _uniq_chars) / total_chars, 6) "
            "ELSE 0.0 END"
        ).alias("dup_char_frac"),
    )


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Dedup-preprocessing normalization (the C4/RefinedWeb convention
    before exact/near-dup hashing): lowercase, ASCII punctuation → space,
    whitespace runs collapsed to one space, ends trimmed.  Adds
    ``norm_text``; pure codegen expressions — no UDFs, no shuffle.

    Engine-parity notes (the CLAUDE.md regex traps): the punctuation
    class is spelled as an EXPLICIT ASCII set (Java ``\\p{Punct}`` and
    RE2 ``[[:punct:]]`` happen to agree, but an explicit class can't
    drift), and the whitespace class is explicit because Java ``\\s``
    includes ``\\x0B`` while RE2's does not — the one character the two
    engines disagree on."""
    punct = r"[!-/:-@\[-`{-~]"  # ASCII !..~ minus alnum: the \p{Punct} set
    ws = r"[ \t\n\x0B\f\r]+"
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), F.lit(punct), F.lit(" ")),
        F.lit(ws),
        F.lit(" "),
    )
    return df.withColumn("norm_text", F.trim(norm))


def normalize_text_sql_duckdb(text_expr: str) -> str:
    """The DuckDB twin of :func:`normalize_text`'s expression."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({text_expr}), "
        f"'[!-/:-@\\[-`{{-~]', ' ', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
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


def corpus_gate_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus audit: how many documents each quality gate would
    pass — the ablation table a curation run publishes BEFORE choosing
    thresholds (FineWeb/Dolma papers report exactly this per rule).

    Composes the existing gate columns (:func:`gopher_rules`,
    :func:`c4_rules`, :func:`language_id`) and reduces them in ONE
    map-side-combined global aggregate — integer/boolean gates only
    (no float thresholds), so the row is engine-exact.  At 10^12 docs
    the shuffle is one partial row per partition."""
    gated = c4_rules(gopher_rules(language_id(df, text_col), text_col),
                     text_col)
    cnt = F.count(F.lit(1))

    def n(cond):  # noqa: ANN001 - Column predicate
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return gated.agg(
        cnt.cast("bigint").alias("n_docs"),
        n(F.col("g_keep")).alias("n_gopher_keep"),
        n(F.col("c4_keep")).alias("n_c4_keep"),
        n(F.col("c4_has_curly")).alias("n_has_curly"),
        n(F.col("c4_has_lorem")).alias("n_has_lorem"),
        n(F.col("c4_stopword_rule")).alias("n_stopword_pass"),
        n(F.col("lang_pred") == "en").alias("n_lang_en"),
        n(F.col("g_keep") & F.col("c4_keep")).alias("n_all_gates"),
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    broadcast_counts: bool = False,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the top-``k`` most
    corpus-distinctive tokens of every document — topic tags for
    retrieval metadata and the "what is this page about" audit column.

    ``score = tf · (ln((n_docs + 1) / (df + 1)) + 1)`` (the smoothed
    sklearn convention: the +1s keep every token scoreable and the idf
    strictly positive, so a token appearing in every document still
    ranks by raw tf instead of dropping to zero).  Ranking is per
    document by ``(score DESC, token ASC)`` — the token tie-break makes
    equal-score rows deterministic, and equal scores arise exactly from
    equal ``(tf, df)`` pairs, which both engines order identically.
    Empty tokens (consecutive whitespace) are dropped, so a NULL/empty
    document yields ZERO keyword rows (documented — count the input if
    you need those).

    Output: ``(id_col, token, tf, score, rank)`` with ``rank`` 1-based.

    Scale posture: the ``(doc, token)`` tf aggregate is the one
    corpus-sized shuffle (map-side combine collapses repeated tokens per
    partition first); document frequency re-aggregates the tf table —
    vocabulary-bounded, never corpus-bounded; the idf join is
    token-keyed with the same Zipf-head lever as ``lm_score``
    (``broadcast_counts=True`` ships the vocab map-side); the top-k
    window partitions by document, so its groups are bounded by a
    document's distinct-token count.  ln is not cross-engine
    bit-identical (CLAUDE.md transcendental rule) — oracle twins compare
    ``round(score, 9)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    tok = df.select(
        id_col, F.explode(F.split(text, " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("_dfc")
    )
    if broadcast_counts:
        dfreq = F.broadcast(dfreq)
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("_nd"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.col("_nd") + F.lit(1))
                        / (F.col("_dfc") + F.lit(1))
                    )
                    + F.lit(1.0)
                )
            ).alias("score"),
        )
    )
    order = [F.col("score").desc(), F.col("token").asc()]
    return top_n(scored, id_col, order, k, rank_col="rank")


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_col: str = "query",
    lowercase: bool = True,
    salts: int = 8,
    broadcast_counts: bool = True,
) -> DataFrame:
    """BM25 ranked retrieval: the top-``k`` documents per query under
    Okapi BM25 with the Lucene non-negative idf —
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, per-term score
    ``idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`` — the lexical
    retrieval leg a curation stack needs next to the ANN family (e.g.
    ranking corpus documents against benchmark queries before
    decontamination review, or building hard negatives for training).

    ``queries`` is a ``(query_id_col, query_col)`` frame; its terms are
    whitespace tokens under the same ``lowercase`` normalization as the
    corpus.  Duplicate terms within one query count once (standard bag
    pruning; query-side tf weighting adds noise at short query length).
    Documents with no matching term never appear; ``N`` counts ALL input
    documents and ``avgdl`` averages token counts over all ``N`` (empty
    documents count as length 0, the collection-statistics convention).

    Output: ``(query_id, doc_id, n_hit, score_r, rank)`` — ``n_hit`` the
    matched-term count, ``score_r = round(score, 9)`` (idf's ``ln`` is
    not cross-engine bit-identical — CLAUDE.md transcendental rule; the
    per-document sum is a token-sorted sequential fold, so WITHIN Spark
    the raw score is bit-stable under any partitioning), ``rank``
    1-based.  Ranking orders by ``(score_r DESC, doc_id ASC)`` — on the
    ROUNDED score, so rank is reproducible cross-engine even where raw
    scores differ at the ulp.

    Scale posture — query-bounded from the first exchange.  A naive
    build-the-inverted-index plan ((doc, token) tf aggregate, then df /
    dl / total re-aggregations of it) instantiates the tf subtree four
    times — Spark does not reuse-merge identical non-broadcast build
    subtrees (CLAUDE.md) — i.e. ~5 corpus scans and two corpus-wide
    full-VOCABULARY shuffles per query batch.  Instead, the token
    stream is broadcast-joined against the query terms BEFORE any
    aggregation, so every exchange in the plan carries only rows whose
    token appears in some query: per-(doc, term) tf, document frequency
    (both derived from the matched stream), and the per-(query, doc)
    scoring fold.  Per-doc length never aggregates at all — it is a
    per-row ``size(filter(words, ...))`` projection riding alongside —
    and the collection stats (N, total tokens) are one map-side-combined
    global agg.  The df table is ≤ |query terms| rows by construction
    and broadcast by default (``broadcast_counts=False`` shuffle-joins
    it instead, for A/B).  Three corpus scans total (stats, tf, df —
    plan-tested), zero corpus-wide shuffles; a stopword query term
    degrades the
    matched volume toward corpus scale, which is the inherent cost of
    scoring that term, not plan overhead.  The final rank is the salted
    two-stage top-k of ``cosine_topk_bruteforce`` — a hot query matching
    the whole corpus never funnels into one task."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got {k1}, {b}")
    text = F.coalesce(F.col(text_col), F.lit(""))
    qtext = F.coalesce(F.col(query_col), F.lit(""))
    if lowercase:
        text, qtext = F.lower(text), F.lower(qtext)
    [ws] = fresh_names(df, "_bm25_ws")
    # words bound to a real column (CLAUDE.md: never inline split into a
    # lambda body); _dl = non-empty token count, a per-row projection
    base = df.select(id_col, F.split(text, " ").alias(ws)).select(
        id_col,
        F.expr(f"CAST(size(filter(`{ws}`, x -> x != '')) AS BIGINT)").alias(
            "_dl"
        ),
        F.col(ws),
    )
    # N over ALL docs, total tokens = sum of per-doc lengths: avgdl =
    # _tt/_nd (exact-integer operands; the division is IEEE correctly
    # rounded, so avgdl is cross-engine bit-identical).  The division
    # only evaluates on candidate rows, whose existence implies _nd > 0.
    totals = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("bigint").alias("_nd"),
            F.coalesce(F.sum("_dl"), F.lit(0)).cast("bigint").alias("_tt"),
        )
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.split(qtext, " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    qtokens = F.broadcast(qterms.select("token").distinct())
    # matched token stream: broadcast join FIRST, so the tf aggregate's
    # exchange carries only query-term occurrences
    occ = (
        base.select(
            id_col, "_dl", F.explode(F.col(ws)).alias("token")
        )
        .filter(F.col("token") != "")
        .join(qtokens, "token")
    )
    tf = occ.groupBy(id_col, "token", "_dl").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    # document frequency per query term, from the matched stream (same
    # values the full-vocabulary df table would give for these tokens)
    dfreq = occ.select(id_col, "token").distinct().groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("_dfc")
    )
    if broadcast_counts:
        dfreq = F.broadcast(dfreq)
    idf = F.log(
        F.lit(1.0)
        + (F.col("_nd") - F.col("_dfc") + F.lit(0.5))
        / (F.col("_dfc") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("_dl") / (F.col("_tt") / F.col("_nd"))
    )
    cand = (
        tf.join(F.broadcast(qterms), "token")
        .join(dfreq, "token")
        .join(totals)
        .select(
            "query_id",
            id_col,
            "token",
            (idf * F.col("tf") * F.lit(k1 + 1.0) / denom).alias("_ts"),
        )
    )
    agg = cand.groupBy("query_id", id_col).agg(
        F.sort_array(F.collect_list(F.struct("token", "_ts"))).alias(
            "_terms"
        ),
        F.count(F.lit(1)).cast("int").alias("n_hit"),
    )
    scored = agg.select(
        "query_id",
        id_col,
        "n_hit",
        F.round(
            F.expr(
                "aggregate(_terms, CAST(0 AS DOUBLE), (a, s) -> a + s._ts)"
            ),
            9,
        ).alias("score_r"),
    )
    # salted two-stage exact top-k on the rounded score
    order = [F.desc("score_r"), F.col(id_col).asc()]
    return top_n(
        scored, "query_id", order, k, salts, id_col, rank_col="rank"
    ).select("query_id", id_col, "n_hit", "score_r", "rank")


def quantile_report(
    df: DataFrame,
    cols: list[str],
    probs: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
    relative_error: float = 0.0,
) -> DataFrame:
    """Quantiles of score columns: ``(metric, p, value)`` — the
    threshold-calibration table a curation run consults BEFORE fixing
    gate cutoffs (FineWeb picks its filter thresholds from exactly these
    corpus quantiles; :func:`corpus_gate_report` then counts what each
    candidate cutoff would keep).

    ``relative_error = 0`` computes EXACT linear-interpolated quantiles
    (``percentile`` — rank ``p·(n−1)``, the quantile_cont convention,
    so the DuckDB oracle matches to float noise; interpolation divides
    doubles, hence twins compare ``round(value, 9)``).  At corpus scale
    pass ``relative_error > 0`` to switch to ``approx_percentile``'s
    mergeable sketch — the exact path must hold each column's values in
    the aggregation buffer, the approx path is map-side-combinable and
    bounded.  Everything reduces in ONE global aggregate; the row
    explode is a single-row projection.  Empty input yields NULL
    values (the quantile of nothing), never zero rows."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if relative_error < 0:
        raise ValueError(
            f"relative_error must be >= 0, got {relative_error}"
        )
    p_arr = "array(" + ", ".join(f"{float(p)!r}D" for p in probs) + ")"
    if relative_error == 0:
        aggs = [
            F.expr(f"percentile(`{c}`, {p_arr})").alias(c) for c in cols
        ]
    else:
        acc = max(1, int(round(1.0 / relative_error)))
        aggs = [
            F.expr(f"approx_percentile(`{c}`, {p_arr}, {acc})").alias(c)
            for c in cols
        ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("metric"),
                F.lit(float(p)).alias("p"),
                F.col(c)[i].cast("double").alias("value"),
            )
            for c in cols
            for i, p in enumerate(probs)
        ]
    )
    return row.select(F.explode(structs).alias("_s")).select("_s.*")


def bucket_by_quantiles(
    df: DataFrame,
    col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
    labels: tuple[str, ...] | None = None,
    relative_error: float = 0.0,
    out: str = "bucket",
) -> DataFrame:
    """Assign every row a quantile bucket of ``col`` — the
    self-calibrating form of a quality gate (CCNet's head/middle/tail
    split of the perplexity ranking is exactly this with
    ``probs=(1/3, 2/3)``): thresholds come from the corpus itself, so
    the gate keeps a FRACTION rather than an absolute cutoff that
    drifts with every crawl.

    Bucket ``i`` holds rows with ``threshold[i-1] < col <=
    threshold[i]`` (the last label catches the rest); NULL values get a
    NULL bucket.  ``labels`` defaults to ``q0..qN``.  Thresholds are
    the exact linear-interpolated quantiles of :func:`quantile_report`
    (rank ``p·(n−1)``), rounded to 9 dp before comparison — the
    determinism contract that makes assignment reproducible across
    engines even where interpolation differs in the last float bits;
    on a ln-derived column, round the COLUMN to 9 dp first too (the
    transcendental rule).

    Eagerness: the threshold aggregate is collected driver-side —
    ``len(probs)`` doubles, the bounded write-once-artifact pattern of
    ``train_centroids`` — so the returned frame embeds literal
    thresholds and stays a pure projection (zero exchanges; at corpus
    scale pass ``relative_error > 0`` for the mergeable-sketch
    aggregate, same lever as :func:`quantile_report`).  An empty or
    all-NULL corpus has no quantiles: every bucket is NULL.  An ``out``
    name that is already a column raises rather than being renamed."""
    n_b = len(probs) + 1
    if labels is None:
        labels = tuple(f"q{i}" for i in range(n_b))
    if len(labels) != n_b:
        raise ValueError(
            f"need len(probs)+1 = {n_b} labels, got {len(labels)}"
        )
    if list(probs) != sorted(set(probs)) or not all(
        0 < p < 1 for p in probs
    ):
        raise ValueError(
            f"probs must be strictly increasing within (0, 1), got {probs}"
        )
    if relative_error < 0:
        raise ValueError(
            f"relative_error must be >= 0, got {relative_error}"
        )
    if out in df.columns:
        raise ValueError(
            f"output column {out!r} already exists; pass a different out="
        )
    p_arr = "array(" + ", ".join(f"{float(p)!r}D" for p in probs) + ")"
    if relative_error == 0:
        agg = F.expr(f"percentile(`{col}`, {p_arr})")
    else:
        acc = max(1, int(round(1.0 / relative_error)))
        agg = F.expr(f"approx_percentile(`{col}`, {p_arr}, {acc})")
    row = df.agg(agg.alias("_t")).first()
    ts = row["_t"] if row is not None else None
    if ts is None or any(t is None for t in ts):
        return df.withColumn(out, F.lit(None).cast("string"))
    thresholds = [round(float(t), 9) for t in ts]
    expr = F.when(F.col(col).isNull(), F.lit(None).cast("string"))
    for t, label in zip(thresholds, labels[:-1]):
        expr = expr.when(F.col(col) <= F.lit(t), F.lit(label))
    return df.withColumn(out, expr.otherwise(F.lit(labels[-1])))


def ngram_report(
    df: DataFrame,
    n: int = 3,
    top_k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 1,
) -> DataFrame:
    """Corpus-wide most-frequent word n-grams: ``(ngram, n_occurrences,
    n_docs)``, the ``top_k`` by total occurrences.  Boilerplate discovery
    — "sign up for our newsletter", cookie banners, SEO footers — the
    report a curation team reads BEFORE writing line-dedup and blocklist
    rules (C4's and RefinedWeb's boilerplate lists both started as
    exactly this table).

    Plan shape: the word array is bound to a real column (the split
    rule — an inlined split re-tokenizes the document once per n-gram),
    ALL positional n-grams explode (not the per-doc-distinct shingle set
    — frequency is the point), then TWO stacked aggregations: per
    ``(ngram, doc)`` counts first, per-ngram totals second, so document
    frequency is a plain ``count(*)`` instead of a ``count_distinct``
    expand over the full occurrence list.  The final top-k is
    sort+limit, which Spark executes as TakeOrderedAndProject — a
    bounded per-partition heap merged on the driver, never a global
    sort (plan-pinned).  Ordering ties break on the ngram string, so
    the cut is deterministic across runs, partitionings, and engines.
    ``min_docs`` prunes the (at web scale, enormous) singleton tail
    between the aggregate and the rank.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    [tmp] = fresh_names(df, "_ws")
    ws = df.select(F.col(id_col), F.col(text_col)).withColumn(
        tmp, F.split(F.col(text_col), " ")
    )
    # short/NULL docs → empty array (sequence(0, negative) counts DOWN;
    # size(NULL) is -1) — same guard shape as dedup.with_shingles
    expr = (
        f"CASE WHEN size(`{tmp}`) >= {n} THEN "
        f"transform(sequence(0, size(`{tmp}`) - {n}),"
        f" i -> array_join(slice(`{tmp}`, i + 1, {n}), ' ')) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    grams = ws.select(
        F.col(id_col), F.explode(F.expr(expr)).alias("ngram")
    )
    perdoc = grams.groupBy("ngram", id_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    tot = (
        perdoc.groupBy("ngram")
        .agg(
            F.sum("_c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return tot.orderBy(
        F.desc("n_occurrences"), F.col("ngram").asc()
    ).limit(top_k)
