"""DSIR-shaped data selection: importance resampling toward a target.

DSIR (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling") selects pretraining documents whose
bag-of-hashed-ngrams distribution looks like a small high-quality
TARGET corpus rather than the raw crawl: fit two hashed n-gram models
(target and raw), weight every raw document by the log-likelihood
ratio, then sample without replacement via Gumbel top-k.  All three
stages are pure DataFrame plans here:

- :func:`hashed_ngram_counts` — the model fit: unigram + bigram
  features hashed into ``buckets`` cells, one explode + one
  map-side-combined count whose shuffle is bounded by ``buckets``
  (never by the corpus).
- :func:`dsir_weights` — per-document ``logw = Σ_f [ln p_t(b(f)) −
  ln p_r(b(f))]`` with add-one smoothing over the bucket space.  The
  ratio table has ≤ ``buckets`` rows and is BROADCAST, so scoring is
  one explode + one broadcast join + one per-document sorted fold —
  no corpus-sized shuffle beyond the per-doc regroup (the lm_score
  plan shape, ocr_spark/operators/lm.py).
- :func:`dsir_sample` — Gumbel top-k without replacement: key =
  ``logw + g`` where ``g = -ln(-ln(u))`` and ``u`` is a DETERMINISTIC
  uniform derived from the salted portable hash of the id (Spark and
  DuckDB agree on it bit-for-bit in [0,1), so the oracle can re-rank).
  The global top-k is the salted two-stage rank (bpe.cap_word_table /
  cap_per_domain pattern) — the corpus never funnels through one task.

Determinism & oracle posture: the division operands feeding each
``ln`` are exact integers < 2^53 and the per-document sum is a sorted
sequential fold, so ``logw`` is bit-reproducible under any
partitioning WITHIN Spark.  Across engines the JVM ``ln`` differs from
glibc/DuckDB by 1 ulp on ~5% of operands (CLAUDE.md transcendental
rule), so the contract twins compare ``round(logw, 9)`` — absorbed
noise sits at ~1e-16, seven orders below.

Scale posture at 10^12 docs: the model fit's shuffle is
``buckets``-bounded; scoring's only corpus-sized exchange is the
groupBy(doc_id) regroup of a document's own features (O(tokens) per
row, same as lm_score / classifier_score); sampling is two bounded
window stages.  Nothing is quadratic, nothing funnels through one
task, nothing ships text through a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._frames import fresh_names, top_n
from .hashing import portable_hash_col, portable_hash_sql_spark

#: hash-domain size of the portable 48-bit hash (md5-prefix, see
#: operators/hashing.py) — the denominator that turns it into a
#: uniform in (0, 1): u = (h + 1) / (2^48 + 1), never 0 or 1 so the
#: double ln never sees an infinite operand.
_PORTABLE_DOMAIN = 1 << 48


def _features(
    df: DataFrame, text_col: str, id_col: str, lowercase: bool
) -> DataFrame:
    """``(id, pos, feat)`` — unigram then bigram features in document
    order (unigrams at 0..n-1, bigrams at n..2n-2), the fold order the
    oracle mirrors.  The token array is bound to a real column in its
    own projection before any lambda references it (CLAUDE.md: never
    inline split() into a lambda body — slices/zip_with below take the
    bound column as an ARGUMENT, evaluated once per row)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    [toks] = fresh_names(df, "_dsir_toks")
    bound = df.select(F.col(id_col), F.split(text, " ").alias(toks))
    feats = (
        f"concat(`{toks}`, zip_with("
        f"slice(`{toks}`, 1, size(`{toks}`) - 1), "
        f"slice(`{toks}`, 2, size(`{toks}`) - 1), "
        f"(a, b) -> concat(a, ' ', b)))"
    )
    return bound.select(
        id_col, F.posexplode(F.expr(feats)).alias("pos", "feat")
    )


def _bucket(col: F.Column, buckets: int, hash_mode: str) -> F.Column:
    h = (
        portable_hash_col(col)
        if hash_mode == "portable"
        else F.xxhash64(col)
    )
    return F.pmod(h, F.lit(buckets)).cast("bigint")


def hashed_ngram_counts(
    df: DataFrame,
    buckets: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Fit the bag-of-hashed-ngrams model: ``(bucket, c)`` occurrence
    counts of unigram + bigram features hashed into ``buckets`` cells.

    ``hash_mode='portable'`` (md5-prefix 48-bit) is the oracle-twin
    path; ``'xxhash64'`` is the faster JVM default at scale — same
    dual every hashed operator in this repo exposes.  The groupBy's
    map-side combine collapses each partition to ≤ ``buckets`` rows
    before the exchange, so the shuffle never scales with the corpus.
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    counted = (
        _features(df, text_col, id_col, lowercase)
        .select(_bucket(F.col("feat"), buckets, hash_mode).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # stamp the feature-space params on the bucket column so
    # dsir_weights can refuse a mismatched model (the sig=/banded=
    # shared-frame guard pattern).  Metadata must ride a plain
    # projection alias — a generator/agg alias drops it silently.
    meta = {"dsir_buckets": buckets, "dsir_hash_mode": hash_mode}
    return counted.select(
        F.col("bucket").alias("bucket", metadata=meta), "c"
    )


def _check_space(
    frame: DataFrame, label: str, buckets: int, hash_mode: str
) -> None:
    """Refuse a counts frame stamped with a different feature space
    (the sig=/banded= shared-frame guard pattern); unstamped frames
    pass on trust."""
    fields = {f.name: f for f in frame.schema.fields}
    got = fields["bucket"].metadata if "bucket" in fields else {}
    if got.get("dsir_buckets") is not None and (
        got["dsir_buckets"] != buckets
        or got.get("dsir_hash_mode") != hash_mode
    ):
        raise ValueError(
            f"{label} was fit with buckets={got['dsir_buckets']}/"
            f"hash_mode={got.get('dsir_hash_mode')} but the caller "
            f"passed buckets={buckets}/hash_mode={hash_mode} "
            f"— mismatched feature spaces misweight every document"
        )


def _log_ratio_table(
    target_counts: DataFrame, raw_counts: DataFrame, buckets: int
) -> tuple[DataFrame, DataFrame]:
    """``(bucket, lr)`` for every bucket present in EITHER model, plus
    the broadcast totals needed to score never-seen buckets:
    ``lr = ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B))`` (add-one smoothing
    over the ``B``-cell hash space keeps every document scoreable, the
    lm.py Laplace posture).  ≤ ``buckets`` rows by construction."""
    t = target_counts.select("bucket", F.col("c").alias("_ct"))
    r = raw_counts.select("bucket", F.col("c").alias("_cr"))
    # empty-model sum() is NULL → coalesce to 0 so the smoothed model
    # degrades to uniform instead of NULLing every score (lm.py guard)
    tot = t.agg(
        F.coalesce(F.sum("_ct"), F.lit(0)).cast("bigint").alias("_Nt")
    ).join(
        r.agg(
            F.coalesce(F.sum("_cr"), F.lit(0)).cast("bigint").alias("_Nr")
        )
    )
    merged = t.join(r, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("_ct"), F.lit(0)).alias("_ct"),
        F.coalesce(F.col("_cr"), F.lit(0)).alias("_cr"),
    )
    b = F.lit(buckets)
    return merged.join(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("_ct") + F.lit(1)) / (F.col("_Nt") + b))
            - F.log((F.col("_cr") + F.lit(1)) / (F.col("_Nr") + b))
        ).alias("lr"),
    ), tot


def dsir_weights(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Per-document importance log-weight against the two fitted models.

    Returns ``(id_col, n_feats, logw)``: ``logw`` is the sum of the
    per-feature log-likelihood ratios in feature order (unigrams then
    bigrams, document order — a SORTED SEQUENTIAL fold, so the value is
    partitioning-independent).  Positive = more target-like.  Every
    document scores: a feature hashing to a bucket neither model saw
    contributes the smoothed floor ``ln((Nr+B)/(Nt+B))`` via the
    left-join coalesce.  ``target_counts``/``raw_counts`` must come
    from :func:`hashed_ngram_counts` with the SAME ``buckets`` and
    ``hash_mode`` — mixing spaces misweights everything, so frames
    stamped by :func:`hashed_ngram_counts` are CHECKED here (raises on
    mismatch; unstamped user-built frames pass on trust).

    Cost note: the plan references each counts frame twice (ratio table
    + totals) and Spark does not reuse-merge identical non-broadcast
    subtrees (CLAUDE.md) — pass PERSISTED counts frames when the fit
    upstream is corpus-scale, or fit once and reuse via
    :func:`dsir_log_ratios` + :func:`with_dsir_weight` (which pins the
    bounded frames itself for the scope of its two collects)."""
    _check_space(target_counts, "target_counts", buckets, hash_mode)
    _check_space(raw_counts, "raw_counts", buckets, hash_mode)
    feats = _features(df, text_col, id_col, lowercase).select(
        id_col,
        "pos",
        _bucket(F.col("feat"), buckets, hash_mode).alias("bucket"),
    )
    ratio, tot = _log_ratio_table(target_counts, raw_counts, buckets)
    b = F.lit(buckets)
    oov = F.log((F.col("_Nr") + b) / (F.col("_Nt") + b))
    joined = (
        feats.join(F.broadcast(ratio), "bucket", "left")
        .join(F.broadcast(tot))
        .select(
            id_col,
            "pos",
            F.coalesce(F.col("lr"), oov).alias("lr"),
        )
    )
    agg = joined.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("pos", "lr"))).alias("_lrs"),
        F.count(F.lit(1)).alias("n_feats"),
    )
    fold = F.expr(
        "aggregate(_lrs, CAST(0 AS DOUBLE), (a, s) -> a + s.lr)"
    )
    return agg.select(
        id_col,
        F.col("n_feats").cast("int").alias("n_feats"),
        fold.alias("logw"),
    )


def dsir_sample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "v1",
    salts: int = 16,
) -> DataFrame:
    """Gumbel top-k: sample ``k`` ids without replacement with
    probability ∝ exp(logw).

    The Gumbel-max trick makes sampling a rank: ``key = logw + g`` with
    ``g = −ln(−ln(u))`` and the top-k keys ARE a weighted sample
    without replacement (Vieira 2014).  ``u`` is deterministic —
    ``(portable_hash(salt:id) + 1) / (2^48 + 1)``, bit-identical in
    DuckDB, never 0 or 1 — so the draw is reproducible and re-dealable
    via ``salt`` (the splits.py posture; true randomness at scale is
    one salt rotation away).  Returns ``(id_col, logw, gumbel_key)``
    ordered by nothing (order-insensitive contract rows); ties on the
    key break by id ascending.  Exact global top-k via the salted
    two-stage rank — the Zipf head never funnels through one task.

    Scale note: stage 1's ``row_number <= k`` compiles to a PARTIAL
    ``WindowGroupLimit`` (plan-pinned, tests/test_plans.py) — every map
    task locally sorts its own partition and forwards at most ``k`` rows
    per salt, so the ``salts``-way exchange carries ≤ salts·k rows per
    task and each reduce task merges ≤ k·n_map_tasks rows; the corpus
    itself never crosses the exchange regardless of ``salts``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (
        portable_hash_col(
            F.concat(F.lit(f"dsir:{salt}:"), F.col(id_col).cast("string"))
        )
        + F.lit(1)
    ) / F.lit(float(_PORTABLE_DOMAIN + 1))
    keyed = weights.select(
        id_col,
        "logw",
        (F.col("logw") - F.log(-F.log(u))).alias("gumbel_key"),
    )
    order = [F.col("gumbel_key").desc(), F.col(id_col).asc()]
    return top_n(keyed, [], order, k, salts, F.col(id_col).cast("string"))


def dsir_log_ratios(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = 8192,
    hash_mode: str = "xxhash64",
) -> list[float]:
    """The DENSE per-bucket log-ratio vector (length ``buckets``), with
    the smoothed OOV floor in every cell neither model saw.

    Collecting it to the driver is safe BY CONSTRUCTION — the table is
    ≤ ``buckets`` rows no matter how large the corpus; that bound is
    the whole reason an inline scoring path exists.  Every value
    (including the floor) is computed by the SAME Spark plan the join
    path uses, so :func:`with_dsir_weight` over this vector is
    BIT-IDENTICAL to :func:`dsir_weights` (pinned in tests).  The
    vector is only meaningful with the SAME ``hash_mode`` at scoring
    time — a plain list carries no stamp, so pass them together."""
    _check_space(target_counts, "target_counts", buckets, hash_mode)
    _check_space(raw_counts, "raw_counts", buckets, hash_mode)
    # the ratio plan references each counts frame twice (under the
    # full_outer merge AND under the totals agg) and this function runs
    # TWO actions over it — Spark does not reuse-merge identical
    # non-broadcast subtrees (CLAUDE.md), so without a persist the
    # corpus-scale model fit upstream of each counts frame would execute
    # ~3×.  The frames are ≤ buckets rows by construction, so pinning
    # them for the scope of the two collects is bounded and owned here.
    tc = target_counts.persist()
    rc = raw_counts.persist()
    try:
        ratio, tot = _log_ratio_table(tc, rc, buckets)
        b = F.lit(buckets)
        floor = float(
            tot.select(
                F.log((F.col("_Nr") + b) / (F.col("_Nt") + b)).alias("oov")
            ).collect()[0]["oov"]
        )
        out = [floor] * buckets
        for r in ratio.collect():
            bkt = int(r["bucket"])
            if not 0 <= bkt < buckets:
                # Python negative indexing would otherwise SILENTLY
                # corrupt the last cell on an unstamped user-built frame
                # carrying e.g. a raw (un-pmod'd) hash
                raise ValueError(
                    f"bucket {bkt} outside [0, {buckets}) — counts "
                    f"frame was not fit with buckets={buckets}"
                )
            out[bkt] = float(r["lr"])
        return out
    finally:
        tc.unpersist()
        rc.unpersist()


def with_dsir_weight(
    df: DataFrame,
    ratios: list[float],
    text_col: str = "text",
    lowercase: bool = True,
    hash_mode: str = "xxhash64",
    out_col: str = "logw",
    n_col: str = "n_feats",
) -> DataFrame:
    """Append ``(n_feats, logw)`` to ``df`` as ONE shuffle-free codegen
    projection — the zero-exchange DSIR scoring path.

    The bounded ratio vector rides the plan as a double-array literal
    (~20 bytes/bucket of plan text — fine to ~64k buckets; past that
    use the join-based :func:`dsir_weights`) and each document folds
    ``element_at`` lookups in feature order, so the result is
    bit-identical to the join path when ``ratios`` comes from
    :func:`dsir_log_ratios` with the same ``hash_mode``.  The plan has
    NO exchange and no state, so it can gate rows in any per-row
    projection."""
    buckets = len(ratios)
    if buckets < 1:
        raise ValueError("ratios must be non-empty")
    text = F.coalesce(F.col(text_col), F.lit(""))
    if lowercase:
        text = F.lower(text)
    toks, feats = fresh_names(df, "_dsir_toks", "_dsir_feats")
    feats_expr = (
        f"concat(`{toks}`, zip_with("
        f"slice(`{toks}`, 1, size(`{toks}`) - 1), "
        f"slice(`{toks}`, 2, size(`{toks}`) - 1), "
        f"(a, b) -> concat(a, ' ', b)))"
    )
    h = (
        portable_hash_sql_spark("f")
        if hash_mode == "portable"
        else "xxhash64(f)"
    )
    lit = "array(" + ", ".join(f"{float(v)!r}D" for v in ratios) + ")"
    fold = (
        f"aggregate(`{feats}`, CAST(0 AS DOUBLE), (a, f) -> "
        f"a + element_at({lit}, "
        f"CAST(pmod({h}, {buckets}) AS INT) + 1))"
    )
    return (
        df.withColumn(toks, F.split(text, " "))
        .withColumn(feats, F.expr(feats_expr))
        .withColumn(n_col, F.size(F.col(feats)).cast("int"))
        .withColumn(out_col, F.expr(fold))
        .drop(toks, feats)
    )


def dsir_weights_inline(
    df: DataFrame,
    ratios: list[float],
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """:func:`dsir_weights`' output shape computed by the zero-exchange
    projection of :func:`with_dsir_weight` — ``(id_col, n_feats,
    logw)``, bit-identical to the join path, no shuffle anywhere
    (plan-pinned in tests)."""
    return with_dsir_weight(
        df.select(id_col, text_col), ratios, text_col, lowercase,
        hash_mode,
    ).select(id_col, "n_feats", "logw")
