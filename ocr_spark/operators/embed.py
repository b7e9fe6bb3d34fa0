"""Hashed bag-of-words document embeddings (the feature-hashing trick).

The text→vector bridge: the similarity surface (ivf_topk, semdedup_pairs,
prototype_prune) consumes an ``array`` embedding column, but a raw crawl
ships no model embeddings and the project ships no encoder.  Feature
hashing (Weinberger et al. 2009, "Feature Hashing for Large Scale
Multitask Learning") gives a deterministic, model-free stand-in: token →
hash bucket in [0, dim), bucket counts form the vector, optionally
L2-normalized — curate_job's SemDeDup/D4 stage (Abbas et al. 2023 use
model embeddings; the plumbing is identical) with zero inference.  A
real deployment swaps :func:`hashed_embedding` for an encoder UDF and
every downstream operator is unchanged.

Tokenization is the repo's shared whitespace convention
(``split(lower(coalesce(text,'')), ' ')`` — identical to operators/lm.py
and the quality gates), so empty/NULL text yields the single empty token
and NO document is ever silently dropped (the simhash explode NULL-row
lesson, r3 ADVICE).

Two physical strategies, bit-identical output (the simhash precedent):

- ``'hof'``: zero-shuffle higher-order-function fold — a pure projection.
  Each token is hashed exactly ONCE into a bound ``_buckets`` column;
  the count vector is an ``aggregate`` over it (arrays referenced only
  as fold INPUTS are safe against CollapseProject lambda inlining — the
  CLAUDE.md corollary).  Cost is O(n_tokens × dim) interpreted lane ops
  per document, so this is the small-``dim`` path.
- ``'explode'``: explode the bucket array → map-side-combined
  ``groupBy(id, bucket)`` count in WholeStageCodegen → rebuild the dense
  vector from a per-doc map.  Two exchanges, both token-count-independent
  after the map-side combine (≤ dim partial-count rows per doc per input
  partition, then ≤ dim entries per doc) — the large-``dim`` /
  long-document path.
- ``'auto'`` (default): ``explode`` when ``dim > 16``, else ``hof`` —
  the same flip point simhash measured for interpreted-lambda vs codegen
  cost.

Determinism / oracle parity: counts are exact small integers in float64,
the norm is a sequential index-order fold (same order in both strategies
and in DuckDB's ``list_reduce``; Spark's extra ``0.0`` init is exact
because ``0.0 + x == x``), and ``sqrt``/division are correctly rounded —
so the normalized vectors are bit-identical across partitionings,
strategies, and engines.  ``hash_mode`` follows the repo convention:
``xxhash64`` at scale, ``portable`` (48-bit md5 prefix) for the
DuckDB-oracle contract entries.

Scale posture at 10^12 docs: 'hof' is shuffle-free; 'explode' shuffles
one ≤ dim-entry count map per document.  Downstream near-dup pairs only
within centroid cells (similarity.semdedup_pairs) — never a full cross
product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ._frames import resolve_strategy
from .hashing import portable_hash_sql_spark

EMB_SALT = "emb:"  # hash-domain prefix: independent of splits/sample/minhash


def _bucket_expr(dim: int, hash_mode: str) -> str:
    """SQL lambda body hashing one token ``t`` into [0, dim)."""
    salted = f"concat('{EMB_SALT}', t)"
    if hash_mode == "portable":
        return f"pmod({portable_hash_sql_spark(salted)}, {dim})"
    return f"pmod(xxhash64({salted}), {dim})"


def hashed_embedding(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    hash_mode: str = "xxhash64",
    normalize: bool = True,
    strategy: str = "auto",
) -> DataFrame:
    """``(id_col, n_tokens, norm, embedding: array<double>)`` per document.

    ``norm`` is the pre-normalization L2 norm (callers gate degenerate
    vectors on it; with this tokenizer a document always has ≥ 1 token,
    so ``norm = 0`` cannot occur, but the guard stays — a zero vector is
    returned unscaled rather than divided into NaNs).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    strategy = resolve_strategy(strategy, dim <= 16, ("hof", "explode"))

    text = f"coalesce({text_col}, '')"
    if lowercase:
        text = f"lower({text})"
    toks = df.select(
        id_col, F.expr(f"split({text}, ' ')").alias("_toks")
    ).select(
        id_col,
        F.expr("size(_toks)").alias("n_tokens"),
        # each token hashed exactly once; _toks/_buckets are referenced
        # only as transform/aggregate INPUTS (inline-safe)
        F.expr(
            f"transform(_toks, t -> {_bucket_expr(dim, hash_mode)})"
        ).alias("_buckets"),
    )

    if strategy == "hof":
        cnt = toks.select(
            id_col,
            "n_tokens",
            F.expr(
                f"aggregate(_buckets, array_repeat(0D, {dim}), "
                f"(acc, h) -> transform(acc, (v, i) -> "
                f"v + IF(i = h, 1D, 0D)))"
            ).alias("_cnt"),
        )
    else:
        # explode is row-safe here: the shared tokenizer never yields an
        # empty array (NULL/empty text → ['']), so no doc can vanish
        per_bucket = (
            toks.select(
                id_col, "n_tokens", F.explode("_buckets").alias("_b")
            )
            .groupBy(id_col, "n_tokens", "_b")
            .agg(F.count(F.lit(1)).cast("double").alias("_c"))
        )
        cnt = (
            per_bucket.groupBy(id_col, "n_tokens")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("_b", "_c"))
                ).alias("_m")
            )
            .select(
                id_col,
                "n_tokens",
                F.expr(
                    f"transform(sequence(0, {dim - 1}), "
                    f"b -> coalesce(element_at(_m, CAST(b AS BIGINT)), 0D))"
                ).alias("_cnt"),
            )
        )

    normed = cnt.select(
        id_col,
        "n_tokens",
        "_cnt",
        F.expr(
            "sqrt(aggregate(_cnt, 0D, (a, v) -> a + v * v))"
        ).alias("norm"),
    )
    if normalize:
        vec = F.expr(
            "CASE WHEN norm = 0D THEN _cnt "
            "ELSE transform(_cnt, v -> v / norm) END"
        )
    else:
        vec = F.col("_cnt")
    return normed.select(id_col, "n_tokens", "norm", vec.alias("embedding"))
