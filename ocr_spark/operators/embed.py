"""Hashed bag-of-words document embeddings (the feature-hashing trick).

The text→vector bridge: most of the similarity surface (cosine_pairs,
lsh_topk, ivf_topk, connected_components) consumes an ``array`` embedding
column, but a raw crawl ships no model embeddings and this container can
run no encoder.  Feature hashing (Weinberger et al. 2009, "Feature
Hashing for Large Scale Multitask Learning") gives a deterministic,
model-free stand-in: token → hash bucket in [0, dim), bucket counts form
the vector, optionally L2-normalized — the SemDeDup-shaped semantic
near-dup pipeline (Abbas et al. 2023 use model embeddings; the plumbing
is identical) with zero inference.  A real deployment swaps
:func:`hashed_embedding` for an encoder UDF and every downstream
operator is unchanged.

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
one ≤ dim-entry count map per document.  Downstream near-dup stays
bucket-join-shaped (similarity.cosine_pairs) — nothing quadratic.
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


def semantic_near_dup(
    df: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    planes: int = 16,
    signs: list[list[int]] | None = None,
    hash_mode: str = "xxhash64",
    strategy: str = "auto",
    max_bucket: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Text in, near-dup pairs out: :func:`hashed_embedding` piped into
    the bucketed cosine-pair join (similarity.cosine_pairs) — the
    SemDeDup pipeline shape with the encoder swapped for feature hashing.
    Same opt-in ``max_bucket`` guard contract as every pair operator:
    None by default, and a passed cap must be audited via
    ``similarity.cosine_hot_buckets``.

    For the capped+audited pairing, share the expensive subtree instead
    of recomputing it per view: compute ``hashed_embedding`` once, run
    ``similarity.hyperplane_buckets`` over it, ``persist()`` that, and
    pass it here AND to ``cosine_hot_buckets`` via ``banded`` (the
    caller owns persist/unpersist — bloom-bitmap lifecycle contract).
    """
    from .similarity import cosine_pairs

    emb = hashed_embedding(
        df,
        dim=dim,
        text_col=text_col,
        id_col=id_col,
        hash_mode=hash_mode,
        strategy=strategy,
    ).select(id_col, "embedding")  # drop norm: cosine_pairs derives its own
    return cosine_pairs(
        emb,
        vec_col="embedding",
        id_col=id_col,
        threshold=threshold,
        planes=planes,
        signs=signs,
        max_bucket=max_bucket,
        banded=banded,
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson-Lindenstrauss dimensionality reduction)

RP_SALT = "rp:"  # hash-domain prefix: independent of emb/splits/minhash


def random_projection_matrix(
    in_dim: int, out_dim: int, seed: str = "v1"
) -> list[list[float]]:
    """Deterministic ±1 sign matrix (out_dim × in_dim) for
    :func:`random_project` — Achlioptas (2003) database-friendly random
    projections: entries in {+1, -1} with equal probability satisfy the
    Johnson-Lindenstrauss lemma just like Gaussian entries, and keep
    every product exact in float64 (``±x`` carries no rounding).

    Entry (j, i) draws its sign from the parity of the repo's portable
    48-bit md5 hash of ``"rp:{seed}:{j}:{i}"`` — reproducible on the
    driver, in Spark, and in the DuckDB oracle with no RNG state.  The
    matrix is generated ONCE driver-side (hashlib, not a Spark job) and
    ridden into the plan as a literal, so executors never hash."""
    import hashlib

    def sign(j: int, i: int) -> float:
        h = hashlib.md5(
            f"{RP_SALT}{seed}:{j}:{i}".encode()
        ).hexdigest()
        return 1.0 if int(h[:12], 16) % 2 == 0 else -1.0

    return [[sign(j, i) for i in range(in_dim)] for j in range(out_dim)]


def random_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    vec_col: str = "embedding",
    seed: str = "v1",
    matrix: list[list[float]] | None = None,
    out_col: str = "rp",
    strategy: str = "auto",
) -> DataFrame:
    """Append ``out_col`` = the ``out_dim``-dimensional random projection
    of ``vec_col`` — ONE shuffle-free codegen projection (the
    with_dsir_weight inline-literal pattern).

    Why at 100 TB: every approximate-similarity stage downstream (LSH
    banding, IVF cell assignment, candidate rerank) pays O(dim) per
    vector per comparison, and the pair joins' shuffle bytes scale with
    dim.  Projecting 768 → 64 once (this op) cuts all of that ~12× while
    the JL lemma bounds the distance distortion; the final rerank can
    still join the FULL vectors by id (the id-only pair rule).  The sign
    matrix rides the plan as a double-array literal (~6 bytes/entry of
    plan text — fine to ~10^5 entries; past that broadcast a matrix
    table and use a join formulation).

    Exactness: products are ``±x`` (no rounding), the per-output fold is
    a sequential index-order ``aggregate`` (0-init; ``0.0 + x`` is
    exact), and the final ``1/sqrt(out_dim)`` scale is one correctly-
    rounded multiply — so values are bit-identical across partitionings
    and engines (the DuckDB twin mirrors the fold with ``list_reduce``
    over a 0.0-prepended list).  The scale preserves expected L2 norms
    (JL's isometry); cosine consumers are scale-invariant either way.

    A row whose vector is shorter than ``in_dim`` (or NULL) projects to
    NULL components — ``try_element_at`` past the end is NULL (plain
    ``element_at`` RAISES under Spark's ANSI default, which would kill
    the whole job on one malformed row) and NULL propagates through the
    fold — never a silently-wrong value.  Matrix indexing stays strict
    ``element_at``: its indices are generated in-range, so a raise there
    is a real bug, not data.

    Strategies (the similarity-module split — the literal transform is a
    HOF expression, CodegenFallback, so it runs INTERPRETED with cost
    ∝ out_dim·in_dim per row: measured 3.2k rows/s on 32 cores at the
    768→64 production shape): ``'literal'`` keeps the bit-exact
    sequential fold every oracle hash pins; ``'pandas'`` is one
    Arrow-batched float64 matmul per batch — same exact ±x products,
    BLAS pairwise summation, so components can differ from the fold in
    the last ulp (JL consumers are distance-approximate by construction;
    use ``'literal'`` when oracle bit-identity matters).  The pandas
    path round-trips the WHOLE row through Arrow (it is a
    ``withColumn``): project payload columns away first at scale.
    ``'auto'`` picks literal iff ``out_dim·in_dim <= 4096``.
    """
    if in_dim < 1 or out_dim < 1:
        # sequence(1, 0) generates DESCENDING [1, 0] — a zero dim would
        # fail mid-job with an opaque index error instead of here
        raise ValueError(
            f"in_dim and out_dim must be >= 1, got {in_dim}x{out_dim}"
        )
    if matrix is None:
        matrix = random_projection_matrix(in_dim, out_dim, seed)
    if len(matrix) != out_dim or any(len(r) != in_dim for r in matrix):
        raise ValueError(
            f"matrix shape {len(matrix)}x{len(matrix[0]) if matrix else 0}"
            f" != out_dim x in_dim ({out_dim}x{in_dim})"
        )
    if out_col in df.columns:
        raise ValueError(f"output column {out_col!r} already exists")
    strategy = resolve_strategy(
        strategy, out_dim * in_dim <= 4096, ("literal", "pandas")
    )
    if strategy == "pandas":
        import math

        import numpy as np
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            StructField,
            StructType,
        )

        M = np.array(
            [[float(v) for v in row] for row in matrix], dtype=np.float64
        )
        inv = 1.0 / math.sqrt(float(out_dim))
        schema = StructType(
            list(df.schema.fields)
            + [StructField(out_col, ArrayType(DoubleType(), True), True)]
        )

        def _proj(batches):
            for pdf in batches:
                out: list = [None] * len(pdf)
                vals = pdf[vec_col].to_list()
                ok = [
                    i for i, v in enumerate(vals)
                    if v is not None and len(v) >= in_dim
                ]
                if ok:
                    V = np.asarray(
                        [
                            np.asarray(vals[i][:in_dim], dtype=np.float64)
                            for i in ok
                        ]
                    )
                    # Arrow coerces a NULL ELEMENT to NaN; the literal
                    # fold turns a NULL element into all-NULL components.
                    # Coalesce NaN rows to the same NULL-components shape
                    # (a true-NaN input maps to NaN components on the
                    # literal path vs NULL here — both non-values, and
                    # the two are indistinguishable after Arrow; never a
                    # silently-wrong number either way).
                    finite = ~np.isnan(V).any(axis=1)
                    R = (V @ M.T) * inv
                    for r_i, i in enumerate(ok):
                        if finite[r_i]:
                            out[i] = R[r_i].tolist()
                for i in range(len(pdf)):
                    if out[i] is None:
                        # a short/NULL/NaN vector projects to NULL
                        # COMPONENTS (an array of NULLs), like the
                        # literal fold's try_element_at propagation
                        out[i] = [None] * out_dim
                yield pdf.assign(**{out_col: out})

        return df.mapInPandas(_proj, schema)
    m_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(v)!r}D" for v in row) + ")"
            for row in matrix
        )
        + ")"
    )
    inv = f"(CAST(1 AS DOUBLE) / sqrt(CAST({out_dim} AS DOUBLE)))"
    expr = (
        f"transform(sequence(1, {out_dim}), j -> "
        f"aggregate(sequence(1, {in_dim}), CAST(0 AS DOUBLE), (acc, i) -> "
        f"acc + element_at(element_at({m_lit}, j), i) * "
        f"CAST(try_element_at(`{vec_col}`, i) AS DOUBLE)) * {inv})"
    )
    return df.withColumn(out_col, F.expr(expr))
