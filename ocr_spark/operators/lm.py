"""Statistical language-model quality scoring (the CCNet gate).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks crawled documents by the perplexity
of a KenLM 5-gram model trained on a clean reference corpus, then keeps
the low-perplexity head.  The heavy KenLM binary is not a Spark-friendly
dependency and is not in this container; the deterministic stand-in is a
Laplace-smoothed UNIGRAM model trained with plain DataFrame aggregation —
the same train-on-reference / score-the-crawl shape, exchangeable for a
richer model by swapping the counts table.

Both halves are pure DataFrame plans:

- :func:`unigram_counts` — one explode + one map-side-combined count;
  the shuffle carries distinct tokens, not occurrences.
- :func:`lm_score` — one explode + one equi-join on the token + one
  per-document rebuild.  Per-document log-probabilities are summed with
  a SORTED SEQUENTIAL fold (the sim_ivf_trained determinism pattern):
  a plain ``sum()`` over join rows would be partitioning-dependent in
  float64, so the (position, logprob) pairs are collected, sorted by
  position, and folded left-to-right — bit-identical under any
  partitioning and reproducible in DuckDB for the oracle twin.

Scale posture at 10^12 docs: the token join is a hash equi-join whose
key is Zipf-skewed (every document contains "the"); AQE's skew-join
splitting handles the hot keys, or pass ``broadcast_counts=True`` when
the vocabulary fits in executor memory (a unigram vocab is tiny next to
the corpus).  Nothing is quadratic, nothing funnels through one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._frames import fresh_names


def _tokens(df: DataFrame, text_col: str, id_col: str, lowercase: bool):
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    return df.select(
        id_col, F.posexplode(F.split(text, " ")).alias("pos", "_tok")
    )


def unigram_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Train the unigram model: ``(token, c)`` occurrence counts over the
    reference corpus (whitespace tokens, lowercased by default — the same
    tokenization :func:`lm_score` applies to the scored corpus)."""
    return (
        _tokens(df, text_col, id_col, lowercase)
        .groupBy(F.col("_tok").alias("token"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_score(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    broadcast_counts: bool = False,
) -> DataFrame:
    """Score every document under the unigram model in ``counts``.

    Laplace (add-one) smoothing: a token with reference count ``c`` has
    ``logprob = ln((c + 1) / (N + V + 1))`` where ``N`` is the total
    reference token count and ``V`` the vocabulary size; an out-of-vocab
    token gets ``ln(1 / (N + V + 1))``.  Smoothing keeps every document
    scoreable — the CCNet gate must rank unseen text, not reject it.

    Returns ``(id_col, n_tokens, n_oov, mean_logprob, ppl)`` —
    ``mean_logprob`` is the per-token average (higher = more like the
    reference corpus; the CCNet "head" is the top of this ranking) and
    ``ppl = exp(-mean_logprob)`` is the conventional perplexity rendering
    of the same number.  NULL text scores as ``''``.

    Determinism: the division operands are exact integers < 2^53 and the
    per-document sum is a sorted sequential fold, so ``mean_logprob`` is
    reproducible bit-for-bit under any partitioning WITHIN Spark (the
    JVM's ``ln`` intrinsic is JIT-state-independent — probed cold vs
    hot).  Across engines it is reproducible to ~1e-16 but not to the
    last bit: the JVM's ``ln`` disagrees with glibc/CPython/DuckDB by
    1 ulp on ~5% of operands (measured r4; the earlier "bit-identical"
    claim sampled a range where they agree), so oracle twins compare a
    ``round(mean_logprob, 9)`` column — seven orders of margin over the
    absorbed per-token noise.  ``exp()`` likewise differs by 1 ulp
    between the JVM and glibc, so ``ppl`` is a convenience rendering
    only — rank and filter on ``mean_logprob``.
    """
    tok = _tokens(df, text_col, id_col, lowercase)
    vocab = counts.select(F.col("token").alias("_tok"), "c")
    if broadcast_counts:
        vocab = F.broadcast(vocab)
    totals = counts.agg(
        # empty counts frame: sum over zero rows is NULL, which would
        # NULL every document's score; coalesce to 0 so the smoothed
        # model degrades to the uniform ln(1/1) = 0 instead
        # (classifier.py guards its identical aggregate the same way)
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("_N"),
        F.count(F.lit(1)).cast("bigint").alias("_V"),
    )
    joined = (
        tok.join(vocab, "_tok", "left")
        .join(F.broadcast(totals))
        .select(
            id_col,
            "pos",
            (
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))
                    / (F.col("_N") + F.col("_V") + F.lit(1))
                )
            ).alias("lp"),
            F.col("c").isNull().alias("oov"),
        )
    )
    agg = joined.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("pos", "lp"))).alias("_lps"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0)).alias("n_oov"),
    )
    mean = F.expr(
        "aggregate(_lps, CAST(0 AS DOUBLE), (a, s) -> a + s.lp)"
    ) / F.col("n_tokens")
    return agg.select(
        id_col,
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_oov").cast("int").alias("n_oov"),
        mean.alias("mean_logprob"),
        F.exp(-mean).alias("ppl"),
    )


def bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Train the bigram table: ``(prev, token, c)`` counts of adjacent
    token pairs over the reference corpus (same tokenization as
    :func:`unigram_counts`; single-token documents contribute no rows).
    One projection + one map-side-combined count — the shuffle carries
    distinct PAIRS, not occurrences."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    [toks] = fresh_names(df, "_lm_toks")
    bound = df.select(F.split(text, " ").alias(toks))
    pairs = (
        f"zip_with(slice(`{toks}`, 1, size(`{toks}`) - 1), "
        f"slice(`{toks}`, 2, size(`{toks}`) - 1), "
        f"(a, b) -> named_struct('prev', a, 'token', b))"
    )
    return (
        bound.select(F.explode(F.expr(pairs)).alias("p"))
        .groupBy(F.col("p.prev").alias("prev"), F.col("p.token").alias("token"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_score_bigram(
    df: DataFrame,
    counts: DataFrame,
    bi_counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    lam: float = 0.7,
    broadcast_counts: bool = False,
) -> DataFrame:
    """Score under an INTERPOLATED bigram model — the "swap the counts
    table for a richer model" upgrade :func:`lm_score`'s docstring
    promises, demonstrated rather than claimed.

    Per token at position > 0: ``p = lam · p_bi(w | prev) +
    (1 − lam) · p_uni(w)``; the first token scores ``p_uni`` alone.
    Both component models are Laplace-smoothed over their own event
    space: ``p_uni = (c_w + 1) / (N + V + 1)`` exactly as
    :func:`lm_score`, and ``p_bi = (c_{prev,w} + 1) / (ctx_prev + V +
    1)`` where ``ctx_prev = Σ_w c_{prev,w}`` is the bigram table's own
    left marginal (computed from ``bi_counts`` — never approximated by
    the unigram count, whose last-token-of-document deficit would make
    the two tables disagree).  Every document scores: an unseen prev
    has ``ctx = 0`` and the smoothed floor applies.

    Returns ``(id_col, n_tokens, n_oov, mean_logprob, ppl)`` — the
    :func:`lm_score` shape, so gates swap models without rewiring
    (``lam = 0`` reproduces lm_score's mean_logprob EXACTLY — pinned in
    tests).  Determinism contract is lm_score's: exact-integer division
    operands, `lam`-mix in correctly-rounded IEEE ops, ONE ``ln`` per
    token, per-doc sorted sequential fold; cross-engine compare at
    ``round(·, 9)``.

    Plan shape: one explode carrying (pos, token, prev) + three
    token-keyed equi-joins (unigram, bigram, context marginal) + the
    per-doc regroup.  All three join keys are Zipf-skewed — AQE
    skew-join or ``broadcast_counts=True`` (vocab- and pair-table-sized
    broadcasts), same posture as :func:`lm_score`."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    # (pos, token, prev) without a window or self-join: the previous
    # token is element_at(toks, pos) (1-based lookup of the 0-based
    # predecessor) taken in the projection right after the generate —
    # same codegen stage, so the array never rides a shuffle
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    [toks] = fresh_names(df, "_lm_toks")
    bound = df.select(F.col(id_col), F.split(text, " ").alias(toks))
    gen = bound.select(
        F.col(id_col),
        F.col(toks),
        F.posexplode(F.col(toks)).alias("pos", "_tok"),
    )
    tok = gen.select(
        id_col,
        "pos",
        "_tok",
        F.when(
            F.col("pos") > 0, F.element_at(F.col(toks), F.col("pos"))
        ).alias("_prev"),
    )
    vocab = counts.select(F.col("token").alias("_tok"), F.col("c").alias("_cu"))
    bi = bi_counts.select(
        F.col("prev").alias("_prev"),
        F.col("token").alias("_tok"),
        F.col("c").alias("_cb"),
    )
    ctx = bi_counts.groupBy(F.col("prev").alias("_prev")).agg(
        F.sum("c").cast("bigint").alias("_ctx")
    )
    if broadcast_counts:
        vocab, bi, ctx = F.broadcast(vocab), F.broadcast(bi), F.broadcast(ctx)
    totals = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("_N"),
        F.count(F.lit(1)).cast("bigint").alias("_V"),
    )
    p_uni = (F.coalesce(F.col("_cu"), F.lit(0)) + F.lit(1)) / (
        F.col("_N") + F.col("_V") + F.lit(1)
    )
    p_bi = (F.coalesce(F.col("_cb"), F.lit(0)) + F.lit(1)) / (
        F.coalesce(F.col("_ctx"), F.lit(0)) + F.col("_V") + F.lit(1)
    )
    mixed = F.when(
        F.col("pos") > 0, F.lit(float(lam)) * p_bi + F.lit(1.0 - lam) * p_uni
    ).otherwise(p_uni)
    joined = (
        tok.join(vocab, "_tok", "left")
        .join(bi, ["_prev", "_tok"], "left")
        .join(ctx, "_prev", "left")
        .join(F.broadcast(totals))
        .select(
            id_col,
            "pos",
            F.log(mixed).alias("lp"),
            F.col("_cu").isNull().alias("oov"),
        )
    )
    agg = joined.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("pos", "lp"))).alias("_lps"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0)).alias("n_oov"),
    )
    mean = F.expr(
        "aggregate(_lps, CAST(0 AS DOUBLE), (a, s) -> a + s.lp)"
    ) / F.col("n_tokens")
    return agg.select(
        id_col,
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_oov").cast("int").alias("n_oov"),
        mean.alias("mean_logprob"),
        F.exp(-mean).alias("ppl"),
    )
