"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame plans (no Python in the hot path):

- exact_dedup:        md5 hash-groupBy — one shuffle on the digest.
- shingles:           word n-grams via higher-order functions (no explode
                      until the op that needs rows).
- minhash_signatures: K-permutation MinHash; one explode + one groupBy.
- lsh_candidate_pairs: banded LSH — equi-join on (band, band-hash) buckets,
                      the scale path for near-dup at 10^12 docs (bucket join
                      replaces the O(n²) similarity cross-join).
- ngram_jaccard_pairs: exact verification (or small-corpus direct pairing).
- simhash:            64/16-bit SimHash entirely via aggregate() higher-order
                      functions — zero shuffles until the final self-join.

``hash_mode='portable'`` switches xxhash64 → the md5-prefix hash that DuckDB
can reproduce bit-identically (driver oracle parity); the default is the
faster JVM xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ._frames import fresh_names, resolve_strategy
from .bloom import digest_expr
from .hashing import (
    MERSENNE,
    MINHASH_A,
    MINHASH_B,
    portable_hash_col,
    xxhash_col,
)


def _hash_col(col: Column, mode: str) -> Column:
    return portable_hash_col(col) if mode == "portable" else xxhash_col(col)


def _hot_keys(posts: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """``(keys…, n_docs)`` for every key whose posting list holds more
    than ``cap`` rows: the exclusion list of a capped
    :func:`_posting_pairs` and, as-is, every ``*_hot_*`` audit view — one
    definition, so an audit names exactly the keys its cap drops."""
    return (
        posts.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > cap)
    )


def _posting_pairs(
    posts: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int | None = None,
    other: DataFrame | None = None,
) -> DataFrame:
    """The candidate-pair engine behind every bucket/posting pair
    operator: an equi-join on ``keys`` (band bucket, shingle, fingerprint,
    cell), never a cross join.  Without ``other`` it self-joins ``posts``
    with ``a.id < b.id``; with ``other`` it joins new (``posts``) × old
    (``other``).  Returns the raw join rows ``(keys…, doc_a, doc_b)`` plus
    every other posting column once per side as ``<col>_a`` / ``<col>_b``;
    the caller applies its own post-join step (distinct, verify, count).

    Pair joins carry ids: hand it postings only — payloads (vectors,
    text) rejoin after the pair set exists, or a hot key multiplies them
    by its candidate count (measured r4: 210 s → 16 s on an embedding
    bucket self-join at sf0.1 once the vectors left the join).

    ``cap`` is OPT-IN (it bounds recall, so the caller must pass it AND
    log the matching audit view): keys with more than ``cap`` postings
    are dropped by count + anti-join (the count is map-side combined and
    AQE broadcasts the small hot list).  In a cross join the count is
    taken on the OLD side only — the accumulated big side, and a cap
    there already bounds each key's product linearly in the new side; an
    equi-join never matches a key missing from one side, so only that
    side is filtered.  The audit is :func:`_hot_keys` over the same
    frame the cap counted."""
    right = posts if other is None else other
    if cap is not None:
        hot = _hot_keys(right, keys, cap).select(*keys)
        right = right.join(hot, keys, "left_anti")
    left = right if other is None else posts
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    if other is None:
        on.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    carried = [c for c in posts.columns if c != id_col and c not in keys]
    return left.alias("a").join(right.alias("b"), on).select(
        *[F.col(f"a.{k}").alias(k) for k in keys],
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carried for s in "ab"],
    )


def _check_frame(
    frame: DataFrame,
    name: str,
    cols: list[str],
    meta_col: str,
    build: str,
    **params,
) -> None:
    """Shared-frame guard: refuse a precomputed ``sig=`` / ``shingled=``
    / ``fps=`` / ``banded=`` / ``cells=`` frame that lacks ``cols``, or
    whose ``meta_col`` metadata records a build parameter other than the
    one this call passed (``params``: metadata key → expected value; a
    None expectation or an unstamped key is not checked).  Producers stamp
    the metadata so a mismatch fails loudly instead of silently bucketing
    under the wrong geometry."""
    missing = set(cols) - set(frame.columns)
    if missing:
        raise ValueError(
            f"{name} frame lacks columns {sorted(missing)} — build it "
            f"with {build}"
        )
    meta = frame.schema[meta_col].metadata or {}
    for key, want in params.items():
        got = meta.get(key)
        if want is not None and got is not None and got != want:
            raise ValueError(
                f"{name} frame was built with {key}={got!r}; this call "
                f"passed {want!r} — rebuild it with {build}"
            )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: digest → (representative id, count).

    Shuffles on the 128-bit digest, not the text — at 100 TB the shuffle
    payload is 16 bytes + id per row."""
    return (
        # NULL text coalesces to '' (bloom.digest_expr IS the convention
        # — one implementation, so exact_dedup groups can never drift
        # from the digest store / bloom probe keys; the cast makes
        # non-string columns digestable without changing string output):
        # md5(NULL) is NULL, which made every failed-extraction doc share
        # ONE NULL group-key while '' docs sat in another
        df.select(
            F.expr(
                digest_expr(f"cast({text_col} AS string)")
            ).alias("digest"),
            id_col,
        )
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("representative"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles as an array column (no explode yet).

    A doc with w words has w-n+1 shingles (sequence upper bound size-n is
    inclusive); docs shorter than n words get an empty array — guarded
    explicitly because Spark's ``sequence(0, negative)`` counts DOWN and
    ``slice`` rejects start 0.

    The word array is bound to a real column first: inlining the split
    into the lambda would re-split the WHOLE text once per shingle
    (O(W²) per document — a straggler factory on long documents).
    CollapseProject keeps the bind because the column is referenced more
    than once and split is not cheap.  The temp column name is made
    collision-free against the caller's schema (a fixed '_ws' would
    silently overwrite-and-drop an existing column of that name)."""
    [tmp] = fresh_names(df, "_ws")
    ws = df.withColumn(tmp, F.split(F.col(text_col), " "))
    expr = (
        f"CASE WHEN size(`{tmp}`) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(`{tmp}`) - {n}),"
        f" i -> array_join(slice(`{tmp}`, i + 1, {n}), ' '))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return ws.withColumn(out, F.expr(expr)).drop(tmp)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 8,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """K-permutation MinHash signature per document.

    shingle → H → h_j = (a_j·H + b_j) mod p → min per permutation.
    One explode + one groupBy(id); partial aggregation (map-side min)
    keeps the shuffle at num_perm longs per doc."""
    sh = with_shingles(df, text_col, n).select(
        id_col, F.explode("shingles").alias("shingle")
    )
    h = sh.withColumn("h", _hash_col(F.col("shingle"), hash_mode))
    if hash_mode == "xxhash64":
        # xxhash64 is signed; fold into nonneg so the LCG stays in int64
        h = h.withColumn("h", F.pmod(F.col("h"), F.lit(MERSENNE)))
    aggs = [
        F.min(
            F.pmod(F.lit(MINHASH_A[j]) * F.col("h") + F.lit(MINHASH_B[j]),
                   F.lit(MERSENNE))
        ).alias(f"mh{j}")
        for j in range(num_perm)
    ]
    return h.groupBy(id_col).agg(*aggs)


def _banded_keys(
    signatures: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    if not 0 < bands <= num_perm or num_perm % bands != 0:
        # bands > num_perm would give every doc the same empty band key
        # (a full-corpus quadratic bucket); a non-divisor silently drops
        # the trailing permutations, changing recall with no error
        raise ValueError(
            f"bands={bands} must evenly divide num_perm={num_perm}"
        )
    rows_per_band = num_perm // bands
    band_cols = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.concat_ws("_", *cols).alias("key")).alias(f"b{b}")
        )
    return signatures.select(
        id_col, F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_hot_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Audit view of the buckets the guard in :func:`lsh_candidate_pairs`
    will exclude: (band, key, n_docs) with n_docs > max_bucket.  Run/log
    this alongside a dedup job — the cap must never be silent."""
    return _hot_keys(
        _banded_keys(signatures, id_col, num_perm, bands),
        ["band", "key"],
        max_bucket,
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    The band bucket join is an equi-join Catalyst can hash-partition; at
    10^12 docs this is the only near-dup strategy that avoids O(n²).

    Hot-bucket guard: real corpora have degenerate band keys (empty and
    near-empty texts all share a signature), and ONE such bucket makes the
    self-join quadratic.  Buckets larger than ``max_bucket`` are excluded
    (the :func:`_posting_pairs` cap).  Members of a degenerate
    bucket are mega-cluster near-identical content whose duplicates are
    the province of :func:`exact_dedup` (16-byte digest shuffle), not
    pairwise LSH.

    The cap is OPT-IN (``max_bucket=None`` default): it changes the
    measure, and a production run must never have its recall bounded
    silently.  At corpus scale pass an explicit cap AND run/log
    :func:`lsh_hot_buckets` alongside so every excluded bucket is named
    (examples/training_pipeline.py shows the pairing)."""
    exploded = _banded_keys(signatures, id_col, num_perm, bands)
    return (
        _posting_pairs(exploded, ["band", "key"], id_col, max_bucket)
        .select("doc_a", "doc_b")
        .distinct()
    )


def _SIG_META(bits: int, hash_mode: str) -> dict:
    """Column metadata :func:`simhash` stamps on its signature column so
    a consumer handed a precomputed ``sig=`` frame can refuse a
    parameter mismatch instead of silently slicing wrong-width bands."""
    return {"simhash_bits": bits, "hash_mode": hash_mode}


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    Shuffle on shingle (inverted index) → pair counts → join doc sizes.
    Used to verify LSH candidates; direct use only on bounded corpora.

    ``max_posting`` (off by default — it changes the measure) drops
    shingles whose posting list exceeds the cap before the self-join: the
    standard inverted-index stop-list against stop-shingle skew.  Capped
    shingles still count toward doc sizes, so Jaccard becomes a
    conservative UNDER-estimate — pairs can only be missed, never
    inflated.  At verify scale a stop-shingle ("click here to", a
    boilerplate footer n-gram) otherwise goes quadratic; pass the cap AND
    run/log :func:`jaccard_hot_shingles` so the drop is never silent —
    sharing ONE persisted ``(id, shingle)`` frame between the two calls
    via ``shingled`` (build it with :func:`shingle_postings`; the capped
    plan references the shingle explode four times otherwise)."""
    sh = _shingle_posts(df, shingled, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    common = (
        _posting_pairs(sh, ["shingle"], id_col, max_posting)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def corpus_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 15,
    delimiter: str = "\n",
) -> DataFrame:
    """CORPUS-global duplicate-line removal (the C4 §2.2 dedup step: "we
    discard all but one of any three-sentence span occurring more than
    once", applied here at line granularity — the boilerplate footers /
    cookie banners / nav leftovers that survive per-document extraction).

    Every line occurring anywhere else in the corpus keeps only its FIRST
    occurrence — lowest ``(doc_id, line_index)``, a total order, so the
    result is deterministic under any partitioning.  Lines shorter than
    ``min_line_chars`` never participate (list bullets and short headers
    repeat legitimately).

    Plan shape at 10^12 docs: posexplode lines → map-side-combined
    ``min(struct(doc_id, li))`` per 16-byte line digest → equi-join back
    on the digest → one groupBy(doc) rebuild with a sorted fold.  The
    shuffles carry digests + ids + the line text once each; nothing is
    quadratic and no driver-side state exists.  The exploded subtree is
    referenced twice (winners + probe) and deliberately not persisted —
    it is a corpus-sized projection (line text included), so caching it
    would cost more storage/spill than the one extra codegen
    split+md5 pass it saves.

    Returns (id_col, clean_text, n_lines, n_lines_kept) — clean_text is
    the document with losing duplicate lines removed, preserving original
    line order.

    ``delimiter`` selects the granularity: ``"\\n"`` (default) is the C4
    line step; ``"\\n\\n"`` is the RefinedWeb/MassiveText duplicate-
    PARAGRAPH removal — same winner rule, same plan, blocks simply get
    bigger (raise ``min_line_chars`` accordingly).  The delimiter must be
    a regex-free literal (it feeds ``split`` as a pattern and
    ``array_join`` as a literal)."""
    _check_line_params(delimiter)
    digested = _exploded_lines(
        df, text_col, id_col, delimiter, min_line_chars, None
    )
    winners = (
        digested.filter(F.col("digest").isNotNull())
        .groupBy("digest")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("li").alias("p"))
            ).alias("w")
        )
    )
    # NULL digests (short lines) never match the join key → kept as-is
    joined = digested.join(winners, "digest", "left")
    flagged = joined.select(
        id_col,
        "li",
        "line",
        (
            F.col("w").isNull()
            | ((F.col("w.d") == F.col(id_col)) & (F.col("w.p") == F.col("li")))
        ).alias("keep"),
    )
    return _rebuild_clean_text(flagged, id_col, delimiter)


def _check_line_params(delimiter: str, min_docs: int = 1) -> None:
    if any(c in delimiter for c in "\\^$.|?*+()[]{}"):
        raise ValueError(
            f"delimiter must be a regex-free literal, got {delimiter!r}"
        )
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")


def _rebuild_clean_text(
    flagged: DataFrame, id_col: str, delimiter: str
) -> DataFrame:
    """(id, li, line, keep) occurrences → (id, clean_text, n_lines,
    n_lines_kept): one groupBy(doc) with a sorted fold, original line
    order preserved — the shared rebuild of corpus_line_dedup and
    corpus_boilerplate_filter (one copy, so the NULL-text / ordering
    semantics cannot diverge)."""
    agg = flagged.groupBy(id_col).agg(
        F.expr(
            "sort_array(collect_list(CASE WHEN keep THEN "
            "struct(li, line) END))"
        ).alias("_kl"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_lines_kept"),
    )
    return agg.select(
        id_col,
        F.array_join(
            F.transform(F.col("_kl"), lambda s: s["line"]), delimiter
        ).alias("clean_text"),
        F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_lines_kept").cast("int").alias("n_lines_kept"),
    )


def _exploded_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    delimiter: str,
    min_line_chars: int,
    scope_col: str | None,
) -> DataFrame:
    """(id[, scope], li, line, digest) — one row per line occurrence;
    digest NULL for lines shorter than ``min_line_chars`` (they never
    participate in any corpus-frequency rule).  NULL text coalesces to
    '' so zero-text documents survive the explode (the corpus_line_dedup
    lesson: a posexplode of a NULL array emits no rows and the doc
    silently vanishes)."""
    cols = [F.col(id_col)]
    if scope_col is not None:
        cols.append(F.col(scope_col))
    lines = df.select(
        *cols,
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), delimiter)
        ).alias("li", "line"),
    )
    return lines.withColumn(
        "digest",
        F.when(F.length("line") >= min_line_chars, F.md5(F.col("line"))),
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_line_chars: int = 5,
    delimiter: str = "\n",
    scope_col: str | None = None,
) -> DataFrame:
    """Corpus boilerplate-line report: every line occurring in at least
    ``min_docs`` DISTINCT documents, with its document frequency and
    total occurrence count — ``([scope,] line, n_docs, n_occurrences)``.
    The audit twin of :func:`corpus_boilerplate_filter` (same
    parameters → the report lists exactly the lines the filter removes);
    run it first to calibrate ``min_docs``, or alongside the filter so
    what was removed is never silent.

    ``scope_col`` (e.g. a domain column) counts frequency WITHIN each
    scope — the RefinedWeb/CCNet formulation where "subscribe to our
    newsletter" is boilerplate because it repeats across one host's
    pages, not across the web.

    Plan shape: explode → per-(digest, doc) counts (map-side combined)
    → per-digest totals, so document frequency is a plain ``count(*)``
    instead of a ``count_distinct`` expand over the occurrence list.
    The line text rides through as a ``min`` fold (all occurrences of a
    digest share it)."""
    _check_line_params(delimiter, min_docs)
    keys = ([scope_col] if scope_col is not None else []) + ["digest"]
    digested = _exploded_lines(
        df, text_col, id_col, delimiter, min_line_chars, scope_col
    ).filter(F.col("digest").isNotNull())
    perdoc = digested.groupBy(*keys, id_col).agg(
        F.count(F.lit(1)).alias("_c"), F.min("line").alias("_line")
    )
    out_cols = ([scope_col] if scope_col is not None else []) + [
        "line",
        "n_docs",
        "n_occurrences",
    ]
    return (
        perdoc.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").alias("n_occurrences"),
            F.min("_line").alias("line"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(*out_cols)
    )


def corpus_boilerplate_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    min_line_chars: int = 5,
    delimiter: str = "\n",
    scope_col: str | None = None,
) -> DataFrame:
    """Corpus boilerplate-line REMOVAL: delete ALL occurrences of any
    line present in at least ``min_docs`` distinct documents (within
    ``scope_col`` when given).  The complement of
    :func:`corpus_line_dedup`, which keeps a first-occurrence winner:
    dedup answers "this content should exist once"; boilerplate removal
    answers "this line is template chrome — cookie banners, nav
    leftovers, share buttons — and should not exist at all" (C4 §2.2
    drops lines from its boilerplate list; RefinedWeb removes
    host-repeated lines outright).

    ``min_line_chars`` (default 5, lower than corpus_line_dedup's 15:
    boilerplate lines are often short — "Menu", "Share this:") bounds
    false positives on trivial lines; the real guard is ``min_docs`` —
    a line must repeat across documents to be template chrome.  Both
    parameters change the output; there is no silent default cap, and
    :func:`boilerplate_lines` with the same parameters IS the audit of
    what was removed.

    Returns ``(id_col, clean_text, n_lines, n_lines_kept)`` — the
    corpus_line_dedup output shape, so curation chains can swap or
    stack the two.

    Plan shape at 10^12 docs: explode → distinct (digest, doc) via a
    map-side-combined count → per-digest doc frequency → equi-join of
    occurrences against the (small, by definition: |lines|/min_docs at
    most, in practice the template tail) hot-digest set — AQE broadcasts
    it when it fits — → one groupBy(doc) rebuild with a sorted fold.
    Shuffles carry digests + ids once each; nothing is quadratic.

    The exploded-lines subtree is referenced twice (frequency build +
    probe side) and deliberately NOT persisted: unlike the bloom bitmap
    (a small aggregate — the CLAUDE.md persist rule's subject), this
    subtree is a corpus-sized projection WITH the line text — caching it
    costs corpus-scale storage/spill, while recomputing is one extra
    codegen split+md5 pass over a scan that runs anyway.  Same trade as
    corpus_line_dedup."""
    _check_line_params(delimiter, min_docs)
    keys = ([scope_col] if scope_col is not None else []) + ["digest"]
    digested = _exploded_lines(
        df, text_col, id_col, delimiter, min_line_chars, scope_col
    )
    hot = (
        digested.filter(F.col("digest").isNotNull())
        .select(*keys, id_col)
        .distinct()
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select(*keys)
        .withColumn("_bp", F.lit(True))
    )
    # NULL digests (short lines) never match the join key → kept as-is
    flagged = digested.join(hot, keys, "left").select(
        id_col,
        "li",
        "line",
        F.col("_bp").isNull().alias("keep"),
    )
    return _rebuild_clean_text(flagged, id_col, delimiter)


def _bind_tokens(df: DataFrame, text_col: str) -> tuple[DataFrame, str]:
    """Bind the whitespace token array to a collision-free column (the
    CLAUDE.md rule: never inline an array build into a lambda body)."""
    [tmp] = fresh_names(df, "_tk")
    return (
        df.withColumn(
            tmp, F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ),
        tmp,
    )


def _span_losers(
    toks: DataFrame, tk: str, id_col: str, width: int
) -> DataFrame:
    """(id, pos) of every W-token window occurrence that is NOT the
    corpus-first occurrence of its content — the spans substring dedup
    removes.  Window content is keyed by md5 of the joined tokens (128
    bits: corpus-scale collision probability is negligible, and the digest
    is reproducible in DuckDB for the oracle twin)."""
    windows = (
        f"CASE WHEN size(`{tk}`) >= {width} THEN "
        f"transform(sequence(0, size(`{tk}`) - {width}), "
        f"i -> md5(array_join(slice(`{tk}`, i + 1, {width}), ' '))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    occ = toks.select(
        id_col, F.posexplode(F.expr(windows)).alias("pos", "dg")
    )
    winners = (
        occ.groupBy("dg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).alias("w"),
        )
        .filter(F.col("n") >= 2)
        .select("dg", "w")
    )
    return (
        occ.join(winners, "dg")
        .filter(
            ~(
                (F.col("w.d") == F.col(id_col))
                & (F.col("w.p") == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 50,
) -> DataFrame:
    """Corpus-global duplicate token SPANS: every maximal token interval
    covered by ``width``-token windows whose exact content occurs more
    than once in the corpus, excluding each window's corpus-first
    occurrence (winner = lexicographic min ``(doc_id, pos)``, a total
    order, so the result is deterministic under any partitioning).

    This is the substring-granularity dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"):
    document- and line-level dedup miss long verbatim quotes, mirrored
    article bodies and licence boilerplate embedded in otherwise-unique
    pages.  The published implementation builds a corpus suffix array on
    one big machine; the Spark re-expression is windowed digests — a
    bucket-shaped plan with no driver-side state:

    - digest build: ``transform`` over the bound token array, O(T·W)
      string work per doc (the cost of substring granularity — W× the
      text bytes, embarrassingly parallel, whole-stage codegen);
    - one groupBy on the 16-byte digest (map-side combined min/count);
    - one equi-join back on the digest (losing occurrences only);
    - per-doc interval merge: two ``Window.partitionBy(doc)`` functions —
      partitioned by document, never a SinglePartition exchange.

    Returns ``(id_col, span_start, span_end)`` — half-open token
    intervals, overlapping windows merged (classic gaps-and-islands).

    Semantics notes (documented, not hidden): a window repeated WITHIN one
    document loses to its own first occurrence, so self-overlapping
    periodic text (``"a a a ..."``) keeps only its first window — the
    standard degenerate case of greedy substring dedup; and a winner
    document keeps a window's tokens only while no OTHER duplicated
    window covering those tokens lost — cross-interactions are inherent
    to greedy span removal.  Both cases are deterministic.
    """
    toks, tk = _bind_tokens(df, text_col)
    losers = _span_losers(toks, tk, id_col, width)
    wo = Window.partitionBy(id_col).orderBy("pos")
    prev_end = (
        F.max(F.col("pos") + width)
        .over(wo.rowsBetween(Window.unboundedPreceding, -1))
    )
    brk = F.when(
        F.col("pos") > F.coalesce(prev_end, F.lit(-1)), 1
    ).otherwise(0)
    isl = losers.withColumn("_b", brk).withColumn(
        "island",
        F.sum("_b").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + width).alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def corpus_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 50,
) -> DataFrame:
    """Remove corpus-global duplicate spans (:func:`duplicate_spans`) from
    every document: tokens covered by a losing span are dropped, the rest
    are rejoined in original order.

    Returns ``(id_col, clean_text, n_tokens, n_tokens_kept,
    n_dup_spans)``.  Documents with no losing span (including every doc
    shorter than ``width`` tokens) pass through with their token-joined
    text and ``n_dup_spans = 0``; NULL text behaves as ``''``.

    Plan shape: :func:`duplicate_spans` + one per-doc groupBy collecting
    the (few) merged spans, one join back to the token-bound corpus, and
    a codegen ``filter((t, i) -> no span covers i)`` rebuild — O(T·S) per
    doc where S is the merged-span count."""
    toks, tk = _bind_tokens(df, text_col)
    spans = duplicate_spans(df, text_col, id_col, width)
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
        F.count(F.lit(1)).alias("_n_spans"),
    )
    out = toks.join(per_doc, id_col, "left")
    removed = F.coalesce(
        F.expr(
            "aggregate(_spans, 0, "
            "(a, sp) -> a + sp.span_end - sp.span_start)"
        ),
        F.lit(0),
    )
    clean = F.when(
        F.col("_spans").isNull(), F.array_join(F.col(tk), " ")
    ).otherwise(
        F.expr(
            f"array_join(filter(`{tk}`, (t, i) -> NOT exists(_spans, "
            f"sp -> i >= sp.span_start AND i < sp.span_end)), ' ')"
        )
    )
    return out.select(
        id_col,
        clean.alias("clean_text"),
        F.size(tk).cast("int").alias("n_tokens"),
        (F.size(tk) - removed).cast("int").alias("n_tokens_kept"),
        F.coalesce(F.col("_n_spans"), F.lit(0))
        .cast("int")
        .alias("n_dup_spans"),
    )


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The exploded ``(id_col, shingle)`` posting frame both
    :func:`ngram_jaccard_pairs` and :func:`jaccard_hot_shingles` start
    from.  For the capped+audited pairing, build it once, ``persist()``,
    pass to both via their ``shingled`` parameter, and unpersist after
    materializing (caller-owned lifecycle — bloom-bitmap contract)."""
    return (
        with_shingles(df, text_col, n)
        .select(id_col, F.explode("shingles").alias("shingle"))
        .select(
            id_col,
            # the shingle width rides as column metadata so a consumer
            # called with a DIFFERENT n can refuse the frame instead of
            # silently computing the wrong-width Jaccard (never-silent
            # policy).  Second projection: an alias ON the generator
            # itself silently drops its metadata.
            F.col("shingle").alias("shingle", metadata={"shingle_n": n}),
        )
    )


def jaccard_hot_shingles(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_posting: int = 10_000,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Audit view of the stop-shingles a ``max_posting`` cap would drop
    from :func:`ngram_jaccard_pairs`: (shingle, n_docs) with n_docs >
    max_posting.  Run/log this alongside a capped verify job — a cap must
    never be silent (same contract as :func:`lsh_hot_buckets`); share the
    capped run's persisted :func:`shingle_postings` frame via
    ``shingled``."""
    return _hot_keys(
        _shingle_posts(df, shingled, text_col, id_col, n),
        ["shingle"],
        max_posting,
    )


def _shingle_posts(
    df: DataFrame | None,
    shingled: DataFrame | None,
    text_col: str,
    id_col: str,
    n: int,
) -> DataFrame:
    """``(id_col, shingle)`` postings: built from ``df``, or the caller's
    shared :func:`shingle_postings` frame after the param guard."""
    if shingled is None:
        if df is None:
            raise ValueError("pass df or a precomputed shingled frame")
        return shingle_postings(df, text_col, id_col, n)
    _check_frame(
        shingled, "shingled", [id_col, "shingle"], "shingle",
        f"shingle_postings(df, text_col, {id_col!r}, n)", shingle_n=n,
    )
    return shingled.select(id_col, "shingle")


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hash_mode: str = "xxhash64",
    strategy: str = "auto",
) -> DataFrame:
    """Per-row SimHash (the classic bit-majority vote).  Signatures are
    identical across strategies and hash modes are per-token stable, so
    the choice is purely physical:

    - ``'hof'``: zero-shuffle higher-order-function fold — one pass over
      the token-hash array maintains all ``bits`` counters.  Best for
      short documents at small ``bits`` (no exchange at all).
    - ``'explode'``: explode tokens → xxhash64 in codegen → ``bits``
      map-side-combined CASE-sums per doc → pack the signature.  The
      per-token work runs in WholeStageCodegen instead of interpreted
      lambda dispatch — measured ~5× faster at ``bits=64`` on 50k-word
      documents (0.8 s vs 4.1 s, 256 docs × 16 cores); the price is one
      groupBy exchange of ``bits`` longs per doc (map-side combine makes
      it doc-count-, not token-count-, proportional).
    - ``'auto'`` (default): ``explode`` when ``bits > 16`` (the
      corpus-scale setting, where the lambda-dispatch cost dominates),
      else ``hof``.

    Each token is hashed exactly ONCE in both strategies.  The previous
    hof shape (``transform(sequence(0, bits-1), j -> aggregate(split(
    text), ...))``) re-split the text and re-hashed every token once PER
    BIT — the CLAUDE.md inlined-array-build trap.  The fix references the
    arrays only as fold INPUTS (never inside a lambda body), so even
    CollapseProject inlining them into one projection leaves them
    evaluated once per row.

    NULL text coalesces to ``''`` BEFORE the split in both strategies
    (the r3 ADVICE fix: the explode path used to drop NULL-text rows
    entirely while hof kept them with a NULL signature, so 'auto' changed
    output cardinality with ``bits``).  A NULL-text document therefore
    gets the empty-string signature in every strategy and every row
    survives."""
    strategy = resolve_strategy(strategy, bits <= 16, ("hof", "explode"))
    if hash_mode == "portable":
        th = "CAST(conv(substr(md5(t), 1, 12), 16, 10) AS BIGINT)"
    else:
        th = "xxhash64(t)"
    text = f"coalesce({text_col}, '')"
    if strategy == "explode":
        tok = df.select(
            id_col,
            F.explode(F.split(F.expr(text), " ")).alias("t"),
        )
        h = tok.select(id_col, F.expr(th).alias("h"))
        aggs = [
            F.sum(F.expr(f"(shiftright(h, {j}) & 1) * 2 - 1")).alias(f"s{j}")
            for j in range(bits)
        ]
        sums = h.groupBy(id_col).agg(*aggs)
        sig = " + ".join(
            f"(CASE WHEN s{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)"
            for j in range(bits)
        )
        return sums.select(
            id_col, F.expr(sig).alias("simhash", metadata=_SIG_META(bits, hash_mode))
        )
    hashes = f"transform(split({text}, ' '), t -> {th})"
    bit_sum = (
        f"aggregate({hashes}, array_repeat(0L, {bits}), (acc, hv) -> "
        f"zip_with(acc, sequence(0, {bits - 1}), (c, j) -> "
        f"c + (CASE WHEN (shiftright(hv, j) & 1) = 1 THEN 1L ELSE -1L END)))"
    )
    sig = (
        f"aggregate(zip_with({bit_sum}, sequence(0, {bits - 1}), "
        f"(s, j) -> CASE WHEN s > 0 THEN shiftleft(1L, j) ELSE 0L END), "
        f"0L, (acc, v) -> acc + v)"
    )
    return df.select(
        id_col, F.expr(sig).alias("simhash", metadata=_SIG_META(bits, hash_mode))
    )


def _sig_frame(
    df: DataFrame,
    sig: DataFrame | None,
    text_col: str,
    id_col: str,
    bits: int,
    hash_mode: str,
) -> DataFrame:
    """The :func:`simhash` frame: built from ``df``, or the caller's
    shared ``sig`` frame after the param guard (a wrong ``bits`` would
    silently slice wrong-width bands)."""
    if sig is None:
        return simhash(df, text_col, id_col, bits, hash_mode)
    _check_frame(
        sig, "sig", ["simhash"], "simhash", "simhash(df, ...)",
        simhash_bits=bits, hash_mode=hash_mode,
    )
    return sig


def _sig_buckets(
    sig: DataFrame, id_col: str, sig_col: str, bits: int, max_hamming: int
) -> DataFrame:
    """Pigeonhole band buckets over a bigint signature column:
    ``max_hamming + 1`` bands, so any pair within the distance budget
    shares a whole band.  Emits ``(id, _sig, band, key)``.

    Bits distribute into exactly ``max_hamming + 1`` NONEMPTY bands with
    balanced widths (⌈bits/bands⌉ then ⌊bits/bands⌋) — the old uniform
    ceil-width layout could run out of bits and emit FEWER bands (e.g.
    bits=16, max_hamming=4 → four 4-bit bands and a dropped fifth),
    silently voiding the exact-recall pigeonhole guarantee for pairs
    that spread their differences one-per-band.  ``shiftright`` is
    arithmetic on a signed bigint, but every band key is ``& mask``-ed,
    so sign-fill bits never reach a key (bit 63 signatures are fine)."""
    bands = max_hamming + 1
    if bands > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {bands} nonempty bands but "
            f"the signature has only {bits} bits"
        )
    base, extra = divmod(bits, bands)
    band_cols = []
    start = 0
    for b in range(bands):
        w = base + (1 if b < extra else 0)
        mask = (1 << w) - 1
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(
                    f"shiftright(`{sig_col}`, {start}) & {mask}"
                ).alias("key"),
            )
        )
        start += w
    return sig.select(
        id_col,
        F.col(sig_col).alias("_sig"),
        F.explode(F.array(*band_cols)).alias("bk"),
    ).select(id_col, "_sig", "bk.band", "bk.key")


def simhash_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    hash_mode: str = "xxhash64",
    max_bucket: int = 10_000,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Audit view of the band buckets a ``max_bucket`` cap would exclude
    from :func:`simhash_near_dup_pairs` — same never-cap-silently contract
    as :func:`lsh_hot_buckets`.

    Pass the capped run's persisted :func:`simhash` frame via ``sig`` so
    the audit reuses the per-token hashing instead of recomputing it
    (caller owns the persist lifecycle — bloom-bitmap contract)."""
    sig = _sig_frame(df, sig, text_col, id_col, bits, hash_mode)
    return _hot_keys(
        _sig_buckets(sig, id_col, "simhash", bits, max_hamming),
        ["band", "key"],
        max_bucket,
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 2,
    hash_mode: str = "xxhash64",
    max_bucket: int | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Bucketing uses ``max_hamming + 1`` signature bands: by pigeonhole, any
    pair within the distance budget agrees on at least one whole band, so
    recall is EXACT (a two-half scheme only guarantees hamming ≤ 1 — pairs
    with one flip in each half would be missed).  Each band-sharing pair
    is then verified with an xor + ``bit_count``; the band equi-join
    carries (id, signature) rows only.

    Same hot-bucket guard as :func:`lsh_candidate_pairs`, and the same
    OPT-IN default (``max_bucket=None``): an identical-content
    mega-cluster shares every band key and makes one bucket quadratic, but
    bounding recall must be an explicit, audited choice — pass a cap and
    run/log :func:`simhash_hot_buckets` with it, sharing ONE persisted
    :func:`simhash` frame between the two calls via ``sig`` (the capped
    plan references the signature subtree three times and the audit a
    fourth; Spark does not reuse-merge them — CLAUDE.md).  At corpus
    scale use ``bits=64`` so the band keyspace doesn't saturate."""
    sig = _sig_frame(df, sig, text_col, id_col, bits, hash_mode)
    buck = _sig_buckets(sig, id_col, "simhash", bits, max_hamming)
    return (
        _posting_pairs(buck, ["band", "key"], id_col, max_bucket)
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.expr("_sig_a ^ _sig_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: near-dup PAIRS → (doc_id, cluster_id)
    where ``cluster_id`` is the smallest doc id in the connected
    component.  The missing last stage of the near-dup pipeline — LSH /
    simhash / Jaccard emit pairs, but dedup decisions are per CLUSTER
    (keep one representative per component, not one per pair: with pairs
    alone, A~B and B~C can each keep a different winner and the corpus
    retains two near-copies of the same content).

    Algorithm: iterative min-label propagation.  Every node starts with
    its own id as label; each round every node takes the minimum of its
    label and its neighbors' labels.  One round = one equi-join
    (edges ⋈ labels, hash-partitioned on the id) + one map-side-combined
    min aggregate — no cross joins, no windows.  Labels flow one hop per
    round, so rounds = component diameter; near-dup graphs are
    bucket-generated (every LSH band bucket contributes a clique), so
    real diameters are tiny — chains only arise from overlapping buckets.
    Lineage is truncated every round with ``localCheckpoint`` (on a
    cluster prefer ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint`` so a lost executor doesn't recompute the whole
    history).

    Convergence is CHECKED, not assumed: if labels are still moving after
    ``max_iterations`` rounds the operator raises rather than returning a
    silently-partial clustering (the never-silent policy).  Output is
    deterministic — min over int64 ids — and partitioning-invariant.

    Scale posture: per-round cost is O(|edges|) shuffle on high-cardinality
    ids (no skew beyond what a degenerate bucket already put in the pair
    list — cap those at pair generation with ``max_bucket``).  At 10^12
    docs the edge list, not the corpus, is the working set; components of
    deduplicated web corpora are overwhelmingly size ≤ tens, so rounds
    stay in single digits.
    """
    edges = (
        pairs.select(
            F.col(a_col).alias("src"), F.col(b_col).alias("dst")
        )
        .unionByName(
            pairs.select(
                F.col(b_col).alias("src"), F.col(a_col).alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iterations):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                labels["id"],
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(
            F.col("label") != F.col("old_label")
        ).count()
        labels = stepped.drop("old_label")
        if changed == 0:
            return labels.select(
                F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        f"rounds — the pair graph has a component with diameter > "
        f"{max_iterations}; raise max_iterations (or cap degenerate "
        f"buckets at pair generation)"
    )


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    score_col: str | None = None,
    prefer: str = "max",
    components: DataFrame | None = None,
) -> DataFrame:
    """Cluster-aware near-dup removal: keep ONE representative of every
    connected component of the pair graph, keep all unpaired docs.  The
    end-to-end operator a curation pipeline calls after
    :func:`lsh_candidate_pairs` / :func:`simhash_near_dup_pairs` —
    transitive closure means A~B~C keeps exactly one of the three even
    though (A,C) was never emitted as a pair.

    Default representative: the component's min id (stable, content-
    independent).  Pass ``score_col`` to keep the BEST-scoring member
    instead — the FineWeb-style choice (keep the longest / highest-
    quality capture of a duplicated page, not whichever hashed lowest):
    ``prefer='max'`` keeps the highest score, ``'min'`` the lowest; ties
    break to the min id, so the choice is deterministic across
    partitionings and engines.  NULL (and NaN) scores always LOSE to any
    real score — a doc with no quality signal must not displace one that
    has it; an all-NULL component falls back to min id.  With
    ``score_col`` the representative is chosen among members PRESENT in
    ``df`` (the score lives there); the default path needs no scores and
    ignores ``df`` membership.

    Plan: components (iterative min-label propagation, edge-list-sized
    working set), one id-keyed score join (ids + one double — never the
    payload), a map-side-combinable ``min_by`` per component, and one
    anti-join of ``df`` against the loser ids.  Pass ``components`` (a
    precomputed :func:`connected_components` frame) to share one
    propagation run with a caller that also reads cluster counts —
    the propagation is eager (per-round localCheckpoint), so running it
    twice is twice the jobs, not a reused plan."""
    if components is None:
        if pairs is None:
            raise ValueError("pass pairs or a precomputed components frame")
        comp = connected_components(pairs, a_col, b_col)
    else:
        missing = {"doc_id", "cluster_id"} - set(components.columns)
        if missing:
            raise ValueError(
                f"components frame lacks columns {sorted(missing)} — "
                f"build it with connected_components(pairs)"
            )
        comp = components
    if score_col is None:
        losers = comp.filter(
            F.col("doc_id") != F.col("cluster_id")
        ).select(F.col("doc_id").alias(id_col))
        return df.join(losers, on=id_col, how="left_anti")
    if prefer not in ("max", "min"):
        raise ValueError(f"prefer must be 'max' or 'min', got {prefer!r}")
    if score_col not in df.columns:
        raise ValueError(
            f"score_col {score_col!r} is not a column of df "
            f"(have {sorted(df.columns)[:8]}…)"
        )
    sgn = "-" if prefer == "max" else ""
    member = comp.join(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(score_col).cast("double").alias("_s"),
        ),
        "doc_id",
    )
    # Winner key = (isnull, signed score, id): the leading null flag makes
    # a real score — INCLUDING -Infinity — strictly beat any NULL (a bare
    # coalesce(+inf) sentinel would TIE a real infinite score and let the
    # NULL-scored doc win on ids); NaN sorts after every finite/infinite
    # double, so the preference order is reals < NaN < NULL, ties to min
    # id.  ONE window pass computes the per-component winner — a
    # groupBy-winners + rejoin would reference the unpersisted `member`
    # subtree twice, executing the comp⋈score join twice (CLAUDE.md:
    # Spark does not reuse-merge identical non-broadcast subtrees).
    win = F.min(
        F.expr(
            f"named_struct("
            f"'isnull', CASE WHEN _s IS NULL THEN 1 ELSE 0 END, "
            f"'ns', coalesce({sgn}_s, 0D), "
            f"'i', doc_id)"
        )
    ).over(Window.partitionBy("cluster_id"))
    losers = (
        member.withColumn("_w", win)
        .filter(F.col("doc_id") != F.col("_w.i"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, on=id_col, how="left_anti")


def lsh_cross_pairs(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH candidate pairs ACROSS two signature sets — (new_id,
    old_id) for every new/old pair sharing any band bucket.  The
    cross-snapshot twin of :func:`lsh_candidate_pairs`: same banded
    equi-join shape (never new × old), different sides.

    The opt-in ``max_bucket`` guard excludes band keys whose OLD-side
    bucket exceeds the cap (the old corpus is the accumulated big side;
    a degenerate key there makes the join product quadratic); the
    equi-join then never matches it from the new side either.  Same
    never-silent contract as every cap: pass it explicitly and run/log
    :func:`lsh_hot_buckets` over ``old_sigs`` alongside."""
    return (
        _posting_pairs(
            _banded_keys(new_sigs, id_col, num_perm, bands),
            ["band", "key"],
            id_col,
            max_bucket,
            other=_banded_keys(old_sigs, id_col, num_perm, bands),
        )
        .select(F.col("doc_a").alias("new_id"), F.col("doc_b").alias("old_id"))
        .distinct()
    )


def incremental_near_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Rows of ``new_df`` that do NOT near-duplicate any document of
    ``old_df`` — the near-dup layer of monthly-recrawl dedup
    (:func:`ocr_spark.operators.bloom.incremental_dedup` removes exact
    re-captures; this removes the rewrites/re-templates at MinHash-LSH
    granularity).  An exact copy with ≥ ``n`` words always drops:
    identical text ⇒ identical signature ⇒ shared band keys.  Documents
    SHORTER than ``n`` words have no shingles, hence no signature, and
    are NEVER matched by this layer (they pass through untouched) —
    run the exact incremental pass alongside, as curate_job does: it
    catches short exact re-captures with no length floor.

    Plan: signatures on both sides (explode + map-side-min groupBy),
    banded cross join on (band, key), distinct matched new ids,
    left-anti back onto the new snapshot.  In a recurring job, PERSIST
    the old side's signatures as the monthly artifact (8 bigints per
    doc) instead of recomputing from text — pass them through
    ``old_df`` with precomputed sigs via :func:`minhash_signatures`
    upstream."""
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, n, num_perm, hash_mode
    )
    old_sigs = minhash_signatures(
        old_df, text_col, id_col, n, num_perm, hash_mode
    )
    matched = (
        lsh_cross_pairs(
            new_sigs, old_sigs, id_col, num_perm, bands, max_bucket
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS local-fingerprinting scheme): hash every word ``k``-gram in
    POSITION order, slide a window of ``w`` consecutive gram hashes, and
    in each window select the RIGHTMOST minimal hash; the distinct
    ``(position, hash)`` selections are the document's fingerprint set.

    Guarantees the scheme is used for: any shared run of at least
    ``w + k - 1`` words between two documents contributes at least one
    IDENTICAL selected fingerprint to both, while only ~``2/(w+1)`` of
    gram hashes are kept — a tunable-density substring-match index
    (one global min/max hash pair per doc could only say "probably same
    corpus", not "share a passage").

    Output: one row per selected fingerprint, ``(id_col, pos, fp)`` with
    ``pos`` the 1-based gram index.  Documents shorter than ``k`` words
    have no grams and emit no rows; documents with 1..w-1 grams emit the
    rightmost-min over all their grams (one whole-doc window) so short
    docs still fingerprint.

    Plan shape: three chained per-row projections (split → gram hashes →
    window fold) and one explode — ZERO exchanges; the output is the
    posting-list input of :func:`winnow_pairs`.  The word and hash
    arrays are bound to real columns first (CLAUDE.md: never inline an
    array build into a lambda body — CollapseProject keeps a bind
    referenced more than once).  The window fold is a HOF expression —
    interpreted, not codegen (CLAUDE.md) — with O(grams × w) work per
    row; measured, though, the fold is NOT the cost driver: per-gram
    hashing and the selected-row output dominate, so LARGER ``w`` runs
    faster (density ~2/(w+1) shrinks the explode), 29k docs/s at w=4 →
    37k at w=16 on 200k 80-word docs × 32 threads (BENCH.md "Winnowing
    fingerprint cost shape").  Pick ``w`` for the detection guarantee
    and index density, not fold cost.

    ``hash_mode='portable'`` swaps xxhash64 for the 48-bit md5-prefix
    hash the DuckDB driver oracle reproduces bit-identically (the
    rightmost-min tie-break is hash-value-independent, so both modes
    select the same POSITIONS whenever their hashes order the same
    way)."""
    if k < 1 or w < 1:
        raise ValueError(f"k={k} and w={w} must be >= 1")
    from .hashing import portable_hash_sql_spark

    ws, hs = fresh_names(df, "_ws", "_hs")
    gram = f"array_join(slice(`{ws}`, i + 1, {k}), ' ')"
    h_of = (
        portable_hash_sql_spark(gram)
        if hash_mode == "portable"
        else f"xxhash64({gram})"
    )
    bound = df.withColumn(
        ws, F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    ).withColumn(
        hs,
        F.expr(
            f"CASE WHEN size(`{ws}`) >= {k} THEN "
            f"transform(sequence(0, size(`{ws}`) - {k}), i -> {h_of}) "
            f"ELSE CAST(array() AS array<bigint>) END"
        ),
    )
    # rightmost minimal hash per window: fold j ascending, replace on
    # `<=` — equal minima keep the LATER position (the winnowing paper's
    # robust tie rule, mirrored relationally by the oracle's max(pos)
    # over h = min).  Struct branches cast identically so the fold's
    # accumulator type is stable.
    sel = (
        f"CASE WHEN size(`{hs}`) >= 1 THEN array_distinct("
        f"transform(sequence(1, greatest(1, size(`{hs}`) - {w} + 1)), "
        f"i -> aggregate(sequence(i, least(i + {w} - 1, size(`{hs}`))), "
        f"named_struct('p', CAST(NULL AS INT), 'h', CAST(NULL AS BIGINT)), "
        f"(acc, j) -> IF(acc.p IS NULL OR element_at(`{hs}`, j) <= acc.h, "
        f"named_struct('p', CAST(j AS INT), 'h', element_at(`{hs}`, j)), "
        f"acc)))) "
        f"ELSE CAST(array() AS array<struct<p:int,h:bigint>>) END"
    )
    picked = bound.select(
        id_col, F.explode(F.expr(sel)).alias("_fpsel")
    )
    # (k, w, hash_mode) ride as column metadata so a consumer handed a
    # precomputed fps= frame refuses a parameter mismatch instead of
    # silently ignoring it (shared-frame guard convention; metadata is
    # set in this SECOND projection — on the generator alias itself it
    # would be dropped, CLAUDE.md)
    return picked.select(
        id_col,
        F.col("_fpsel.p").alias("pos"),
        F.col("_fpsel.h").alias(
            "fp",
            metadata={
                "winnow_k": k,
                "winnow_w": w,
                "hash_mode": hash_mode,
            },
        ),
    )


def _winnow_posts(
    df: DataFrame | None,
    fps: DataFrame | None,
    text_col: str,
    id_col: str,
    k: int,
    w: int,
    hash_mode: str,
) -> DataFrame:
    """Distinct ``(id_col, fp)`` postings from ``df``, or from the
    caller's shared :func:`winnow_fingerprints` frame after the param
    guard.  Two windows selecting the same gram yield one posting; two
    POSITIONS with an identical hash (a repeated passage within one doc)
    also collapse — shared counts tally distinct shared CONTENT, not
    occurrences."""
    if fps is None:
        if df is None:
            raise ValueError("pass df or a precomputed fps frame")
        fps = winnow_fingerprints(df, text_col, id_col, k, w, hash_mode)
    else:
        _check_frame(
            fps, "fps", [id_col, "fp"], "fp",
            f"winnow_fingerprints(df, ..., {id_col!r})",
            winnow_k=k, winnow_w=w, hash_mode=hash_mode,
        )
    return fps.select(id_col, "fp").distinct()


def winnow_pairs(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_posting: int | None = None,
    hash_mode: str = "xxhash64",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Candidate passage-sharing pairs from winnowed fingerprints: docs
    sharing at least ``min_shared`` selected fingerprint HASHES, with the
    shared count — the MOSS-style plagiarism/substring-overlap candidate
    set (each shared fingerprint witnesses a shared word run of length
    ≥ ``k``; a shared run of ≥ ``w + k - 1`` words is never missed).

    Same inverted-index shape as :func:`ngram_jaccard_pairs`: posting
    list per fp hash, self-join, groupBy the id pair — never a cross
    join.  ``max_posting`` (opt-in, never silent: log
    :func:`winnow_hot_fps` alongside — the standing cap policy) drops
    boilerplate fingerprints shared by more documents than that before
    the join.  Pass a precomputed/persisted :func:`winnow_fingerprints`
    frame via ``fps`` to share it with the audit view; the pair join
    carries ids only (fingerprint payloads never enter the shuffle —
    they ARE the join key).

    Output: ``(doc_a, doc_b, shared)`` with ``doc_a < doc_b``."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    posts = _winnow_posts(df, fps, text_col, id_col, k, w, hash_mode)
    return (
        _posting_pairs(posts, ["fp"], id_col, max_posting)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def winnow_hot_fps(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    max_posting: int = 10_000,
    hash_mode: str = "xxhash64",
    fps: DataFrame | None = None,
) -> DataFrame:
    """Audit view of the boilerplate fingerprints a ``max_posting`` cap
    would drop from :func:`winnow_pairs`: ``(fp, n_docs)`` with
    ``n_docs > max_posting``.  Run/log alongside any capped pair job
    (cap-audit contract of :func:`jaccard_hot_shingles`); share the
    capped run's persisted fingerprint frame via ``fps``."""
    return _hot_keys(
        _winnow_posts(df, fps, text_col, id_col, k, w, hash_mode),
        ["fp"],
        max_posting,
    )


def winnow_cross_pairs(
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_posting: int | None = None,
    hash_mode: str = "xxhash64",
    new_fps: DataFrame | None = None,
    old_fps: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot passage overlap: (new doc, old doc) pairs sharing
    at least ``min_shared`` winnowed fingerprint hashes — the
    SUBSTRING-granularity layer of monthly-recrawl dedup.
    :func:`~ocr_spark.operators.bloom.incremental_dedup` catches exact
    re-captures and :func:`incremental_near_dedup` whole-document
    rewrites (MinHash); this catches the page that QUOTES a prior
    capture — a shared run of ≥ ``w + k - 1`` words is never missed —
    so a curation job can audit or down-weight recycled passages
    instead of only whole-document duplicates.

    Same inverted-index shape as :func:`winnow_pairs`, but the posting
    join is new×old (never new×new), so the candidate volume is bounded
    by cross-snapshot sharing.  In a recurring job, PERSIST the old
    side's fingerprints as the monthly artifact (12 bytes per selected
    gram) and pass them via ``old_fps`` — the incremental-signature
    convention of :func:`incremental_near_dedup`.  ``max_posting``
    (opt-in, audited: log :func:`winnow_hot_fps` over the OLD side —
    boilerplate lives there) drops fingerprints whose OLD-side posting
    list exceeds the cap, the :func:`lsh_cross_pairs` rule — so that
    audit names every dropped fingerprint.

    Output: ``(new_id, old_id, shared)``."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    return (
        _posting_pairs(
            _winnow_posts(new_df, new_fps, text_col, id_col, k, w, hash_mode),
            ["fp"],
            id_col,
            max_posting,
            other=_winnow_posts(
                old_df, old_fps, text_col, id_col, k, w, hash_mode
            ),
        )
        .groupBy(
            F.col("doc_a").alias("new_id"), F.col("doc_b").alias("old_id")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
