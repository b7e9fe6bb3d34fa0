"""Similarity search over embedding columns (array<float>).

- norm / dot products as higher-order-function expressions (JVM-side,
  whole-stage-codegen; no Python in the hot path).
- cosine_topk_bruteforce: broadcast the (small) query set, score all, take
  top-k per query with a window — the exact baseline.
- signatures + lsh_topk: random-hyperplane LSH where the "random" plane
  weights are a deterministic function of (plane, dim-index) hashes, so the
  plan is reproducible with no RNG state; candidates come from Hamming
  buckets, reranked exactly.  This is the 100 TB path: bucket equi-join
  instead of a full cross product.
- cosine_pairs: all-pairs ≥ threshold via the same signature buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F

from ._frames import fresh_names, resolve_strategy, top_n
from .dedup import _check_frame, _hot_keys, _posting_pairs


def plane_signs(planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane weights: sign = parity of the first md5
    byte of ``"j:i"``.  No RNG state; the exact same matrix is inlined as
    literals into the DuckDB oracle SQL, so the LSH bucket assignment is
    bit-identical across engines (driver parity)."""
    return [
        [
            1 if hashlib.md5(f"{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(dim)
        ]
        for j in range(planes)
    ]


def _dot(a: str, b: str) -> str:
    # CONTRACT: a and b must be same-length vectors.  zip_with pads the
    # shorter array with NULL, so a dimension mismatch folds to a NULL
    # dot/cosine — threshold filters then drop every pair and top-k ranks
    # garbage, silently.  Checking size() per row would double the hot
    # path's array traffic; keep corpus and queries in one embedding
    # space (every producer in this repo emits a fixed dim).
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" 0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> str:
    return f"sqrt({_dot(a, a)})"


def _cos_guarded(na: str, nb: str, a: str, b: str) -> str:
    """Zero-safe cosine over PRE-BOUND norm columns: 0 when either norm is
    zero.  A zero-norm vector is not exotic — the hashed embedding of an
    empty document is exactly zero — and under Spark's ANSI default the
    naive ``dot / (na * nb)`` turns one such row into a job-killing
    DIVIDE_BY_ZERO.  Values on nonzero rows are bit-identical to the
    unguarded division (the ELSE branch is the same expression), so the
    DuckDB oracles — whose testdata has no zero vectors — are unaffected.

    ``na``/``nb`` must be bound COLUMNS (not inline ``_norm(...)``
    folds): HOF expressions are interpreted with no codegen CSE, so an
    inline norm referenced by both the guard and the division would run
    its O(dim) fold twice per row — and a norm inlined into a per-PAIR
    projection runs once per pair instead of once per vector."""
    return (
        f"CASE WHEN {na} = 0D OR {nb} = 0D THEN 0D "
        f"ELSE ({_dot(a, b)}) / ({na} * {nb}) END"
    )


def _rerank_pairs(
    pairs: DataFrame,
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Exact cosine rerank of an id-only candidate frame ``(…, doc_a,
    doc_b)``: ``pairs``' columns plus ``cos``, for pairs with cos ≥
    ``threshold``.  The vectors rejoin once per side AFTER the pair set
    exists; each norm is folded once per id in the pre-join projection
    (not once per pair — a hot doc in many pairs used to re-fold both
    norms per pair), zero-guarded like every cosine path."""
    side = vecs.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.expr(_norm(vec_col)).alias("_n"),
    )

    def one(s: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(f"doc_{s}"),
            F.col("_v").alias(f"_v{s}"),
            F.col("_n").alias(f"_n{s}"),
        )

    return (
        pairs.join(one("a"), "doc_a")
        .join(one("b"), "doc_b")
        .withColumn("cos", F.expr(_cos_guarded("_na", "_nb", "_va", "_vb")))
        .filter(F.col("cos") >= threshold)
        .select(*pairs.columns, "cos")
    )


def _topk_neighbors(
    scored: DataFrame, k: int, id_col: str, salts: int
) -> DataFrame:
    """Exact top-k of a scored ``(query_id, id, cos)`` frame, ordered
    ``(cos DESC, id ASC)`` — :func:`top_n`'s salted two-stage rank, so a
    query never funnels its whole scored corpus into one task.  Output
    ``(query_id, neighbor_id, rank, cos)``."""
    order = [F.desc("cos"), F.col(id_col).asc()]
    return top_n(
        scored, "query_id", order, k, salts, id_col, rank_col="rank"
    ).select("query_id", F.col(id_col).alias("neighbor_id"), "rank", "cos")


def _rerank_topk(
    hits: DataFrame,
    df: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-cosine top-k over an ANN candidate join ``hits`` carrying
    ``(q_id, c_id)``.  The distinct runs on ids ONLY — the id-only pair
    rule (CLAUDE.md; measured 13× on cosine_pairs at r4): a hot bucket
    or probed cell duplicates each candidate once per collision, and at
    dim 768 every duplicate would drag ~6 KB of vector through the
    distinct exchange.  Vectors and norms rejoin AFTER it, once per
    side — corpus side one hash join on c_id, query side broadcast —
    then the single-window rank."""
    pairs = (
        hits.filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id")
        .distinct()
    )
    c_vecs = df.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(_norm(vec_col)).alias("_cn"),
    )
    q_vecs = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.expr(_norm(vec_col)).alias("_qn"),
        )
    )
    cand = (
        pairs.join(c_vecs, "c_id")
        .join(q_vecs, "q_id")
        .select(
            F.col("q_id").alias("query_id"),
            "c_id",
            F.expr(_cos_guarded("_cn", "_qn", "c_vec", "q_vec")).alias("cos"),
        )
    )
    return _topk_neighbors(cand, k, "c_id", salts=1)


def cosine_topk_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salts: int = 32,
) -> DataFrame:
    """Exact top-k: broadcast queries × corpus, cosine, salted two-stage
    window rank.

    The corpus side never shuffles before scoring; cost is one pass of
    dim-length fused arithmetic per (query, row).  The rank is TWO
    windows (the r3 de-funnel — VERDICT r3 "What's wrong" #2): stage 1
    partitions by ``(query_id, salt)`` with ``salt = xxhash64(id) %
    salts``, so each of the ``n_queries × salts`` tasks reduces its
    corpus shard to a local top-k; stage 2's final window then ranks at
    most ``k × salts`` survivors per query instead of the whole scored
    corpus.  Results are exactly the unsalted top-k: the global top-k is
    contained in the union of per-salt top-ks, and both stages break
    ties identically on ``(cos DESC, id ASC)``, so ranks are unchanged.
    ``salts=1`` recovers the single-window plan (verification use)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.expr(_norm(vec_col)).alias("_qn"),
        )
    )
    # norms bound per SIDE, below the join: one O(dim) fold per corpus
    # row and per query, instead of re-folding both norms inside every
    # (query, row) scored pair — at q queries that was 2q redundant folds
    # per corpus row (the dot itself is the only genuinely per-pair work)
    scored = (
        df.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(_norm(vec_col)).alias("_cn"),
        )
        .join(q, F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos", F.expr(_cos_guarded("_cn", "_qn", vec_col, "qvec"))
        )
    )
    return _topk_neighbors(scored, k, id_col, salts)


def hyperplane_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    planes: int = 16,
    out: str = "sig",
    signs: list[list[int]] | None = None,
) -> DataFrame:
    """Deterministic random-hyperplane signature: plane j's weight on dim i
    is ±1 from xxhash64(j * 100003 + i) parity; sign of the projection sets
    bit j.  Pure codegen arithmetic (planes × dim fused ops per row).

    With ``signs`` (from :func:`plane_signs`), the weights are inlined as
    array literals instead — the portable mode the DuckDB driver oracle can
    reproduce exactly."""
    if not 1 <= planes <= 62:
        # bit j rides shiftleft(1L, j): 63 hits the sign bit (DuckDB
        # RAISES on 1::BIGINT << 63 — CLAUDE.md), and >= 64 wraps
        # mod 64 in the JVM, so plane 64 would silently collide with
        # plane 0 and the fold's `+` would CARRY the duplicate bit —
        # a scrambled signature with no error
        raise ValueError(f"planes must be in [1, 62], got {planes}")
    if signs is not None:
        projs = []
        for j in range(planes):
            w = ", ".join(f"{s}D" for s in signs[j])
            projs.append(
                f"aggregate(zip_with({vec_col}, array({w}), "
                f"(x, w) -> CAST(x AS DOUBLE) * w), 0D, (acc, v) -> acc + v)"
            )
        proj = "array(" + ", ".join(projs) + ")"
    else:
        proj = (
            f"transform(sequence(0, {planes - 1}), j -> "
            f"aggregate(zip_with({vec_col}, sequence(0, size({vec_col}) - 1), "
            f"(x, i) -> CAST(x AS DOUBLE) * "
            f"(CASE WHEN pmod(xxhash64(j * 100003 + i), 2) = 0 THEN 1.0 ELSE -1.0 END)), "
            f"0D, (acc, v) -> acc + v))"
        )
    sig = (
        f"aggregate(zip_with({proj}, sequence(0, {planes - 1}), "
        f"(p, j) -> CASE WHEN p > 0 THEN shiftleft(1L, j) ELSE 0L END), "
        f"0L, (acc, v) -> acc + v)"
    )
    return df.withColumn(out, F.expr(sig))


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    signs: list[list[int]] | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share a half-signature band with the
    query (multi-probe over 2 bands), exact cosine rerank inside buckets.

    Recall is tunable via planes/bands; the join is a bucket equi-join that
    scales linearly with corpus size instead of |Q|×|corpus|."""
    def banded(x: DataFrame, idc: str, vecc: str, pref: str) -> DataFrame:
        # ONE banding implementation repo-wide: hyperplane_buckets is the
        # shared (id, band, key) subtree cosine_pairs and the audits use —
        # a local re-implementation would have to be kept in sync by hand
        return hyperplane_buckets(
            x, vec_col=vecc, id_col=idc, planes=planes, signs=signs
        ).withColumnRenamed(idc, f"{pref}_id")

    corpus = banded(df, id_col, vec_col, "c")
    qs = F.broadcast(banded(queries, id_col, vec_col, "q"))
    return _rerank_topk(
        corpus.join(qs, on=["band", "key"]), df, queries, k, vec_col, id_col
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|x|)``,
    ``q_i = floor(x_i / scale * 127 + 0.5)`` ∈ [-127, 127].

    The 100 TB memory/shuffle lever for the ANN operators: 10^12 × 768-dim
    float vectors are ~6 TB as doubles and ~0.75 TB quantized — the
    broadcast/bucket-join sides get 8× lighter and the dot products run in
    integer codegen.  Quantization is a pure projection; ``floor(x+0.5)``
    (not ``round``) because the two engines disagree on round's tie rule
    (HALF_UP vs HALF_EVEN) while floor is exact on doubles — the DuckDB
    oracle reproduces every int bit-for-bit.  Zero vectors quantize to
    zeros (scale 0 guard).

    Returns (id_col, ``q`` array<int>, ``scale`` double); cosine between
    quantized vectors needs NO dequantization — the per-vector scales
    cancel in the ratio."""
    [tmp] = fresh_names(df, "_qs")
    bound = df.select(F.col(id_col), F.col(vec_col)).withColumn(
        tmp,
        F.expr(
            f"array_max(transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))"
        ),
    )
    q = (
        f"CASE WHEN `{tmp}` > 0D THEN transform({vec_col}, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) / `{tmp}` * 127.0D + 0.5D) AS INT)) "
        f"ELSE transform({vec_col}, x -> 0) END"
    )
    return bound.select(
        F.col(id_col),
        F.expr(q).alias("q"),
        F.col(tmp).alias("scale"),
    )


def _dot_int(a: str, b: str) -> str:
    """Integer dot product (exact; products fit a long for any real dim)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * y), "
        f"0L, (acc, v) -> acc + v)"
    )


def cosine_topk_quantized(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salts: int = 32,
) -> DataFrame:
    """Exact top-k over int8-QUANTIZED vectors: same broadcast + salted
    two-stage rank plan
    as :func:`cosine_topk_bruteforce`, but the scored arrays are int8 and
    the arithmetic is integer dots (one double division at the end — the
    per-vector scales cancel in the cosine ratio, so no dequantization
    happens anywhere).  Scores approximate the float cosine to the
    quantization error (~1e-2 at 127 levels on unit-norm embeddings;
    recall pinned in tests)."""
    # per-side bound int norms (same rationale as the float paths: one
    # fold per vector, not two per scored pair) + the zero guard — a
    # zero vector quantizes to all-zero ints (scale-0 guard above) and
    # its sqrt(0) norm would raise DIVIDE_BY_ZERO under ANSI
    corpus_q = quantize_embeddings(df, vec_col, id_col).withColumn(
        "_cn", F.expr(f"sqrt(CAST({_dot_int('q', 'q')} AS DOUBLE))")
    )
    q = F.broadcast(
        quantize_embeddings(queries, vec_col, id_col).select(
            F.col(id_col).alias("query_id"),
            F.col("q").alias("qq"),
            F.expr(f"sqrt(CAST({_dot_int('q', 'q')} AS DOUBLE))").alias(
                "_qn"
            ),
        )
    )
    scored = (
        corpus_q.join(q, F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cos",
            F.expr(
                f"CASE WHEN _cn = 0D OR _qn = 0D THEN 0D "
                f"ELSE CAST({_dot_int('q', 'qq')} AS DOUBLE) / "
                f"(_cn * _qn) END"
            ),
        )
    )
    return _topk_neighbors(scored, k, id_col, salts)


def _vec_literal(values: list[float]) -> str:
    """Inline a centroid vector as a double array literal (repr round-trips
    doubles exactly, so the inlined value is bit-identical to the column)."""
    return "array(" + ", ".join(f"{float(v)!r}D" for v in values) + ")"


def nearest_cell_expr(
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    norm_expr: str | None = None,
) -> str:
    """Per-row nearest-centroid argmax as ONE projection expression.

    ``array_max`` over ``struct(ccos, -cid)`` picks highest cosine with
    lowest-cid tie-break (struct ordering), so the corpus-side cell
    assignment needs NO crossJoin row blowup and NO shuffle/Window — the
    100 TB shape for assigning 10^12 vectors to cells.  Norms stay in SQL
    (same fold as everywhere else) so scores are bit-identical to the
    windowed query-side assignment.

    Pass ``norm_expr`` (a column holding ``_norm(vec_col)``) to pay the
    O(dim) row-norm fold ONCE per row instead of once per centroid — the
    centroid-literal norms are constant-folded by Catalyst, but the row
    norm is not.  The value is bit-identical either way (same sqrt of the
    same sequential fold)."""
    return f"-({_best_cell_struct(vec_col, cents, norm_expr)}.ncid)"


def _best_cell_struct(
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    norm_expr: str | None = None,
) -> str:
    """The argmax struct :func:`nearest_cell_expr` unwraps: ``array_max``
    over ``named_struct('ccos', …, 'ncid', …)`` — ``.ncid`` is the
    (negated) winning cell, ``.ccos`` the winning cosine.  Factored out so
    :func:`prototype_scores` can read BOTH fields from one binding instead
    of paying the n_centroids-way scoring twice."""
    rn = norm_expr if norm_expr is not None else _norm(vec_col)
    structs = []
    for cid, cvec in cents:
        lit = _vec_literal(cvec)
        # zero-guarded like _cos_guarded: a zero-norm row (empty doc's
        # hashed embedding) or a zero centroid (possible seed/mean) is a
        # DIVIDE_BY_ZERO job killer under ANSI.  The centroid norm is a
        # constant-folded literal; rn is referenced twice, so pass
        # norm_expr (a bound column) as the docstring says — the inline
        # default would re-fold per reference.  Zero rows score 0 for
        # every centroid and land deterministically in the lowest cid.
        cn = _norm(lit)
        ccos = (
            f"CASE WHEN {rn} = 0D OR {cn} = 0D THEN 0D "
            f"ELSE ({_dot(vec_col, lit)}) / ({rn} * {cn}) END"
        )
        structs.append(
            f"named_struct('ccos', {ccos}, 'ncid', {-int(cid)}L)"
        )
    return f"array_max(array({', '.join(structs)}))"


def _probe_cells_expr(
    vec_col: str,
    norm_col: str,
    cents: list[tuple[int, list[float]]],
    probe: int,
) -> str:
    """A query's ``probe`` nearest cells as one projection expression:
    sort the ``(−cos, cid)`` struct array and slice — no crossJoin row
    blowup, no Window, no exchange, and the same ordering as a
    row_number over (cos DESC, cid ASC).  ``norm_col`` is the query's
    bound norm column (same fold and zero guard as the corpus side, so
    the probed cell set is bit-identical to the oracle's)."""
    structs = []
    for cid, cvec in cents:
        lit = _vec_literal(cvec)
        cn = _norm(lit)
        ccos = (
            f"CASE WHEN `{norm_col}` = 0D OR {cn} = 0D THEN 0D "
            f"ELSE ({_dot(vec_col, lit)}) / (`{norm_col}` * {cn}) END"
        )
        structs.append(
            f"named_struct('nccos', -({ccos}), 'cid', {int(cid)}L)"
        )
    return (
        f"transform(slice(array_sort(array({', '.join(structs)})), "
        f"1, {probe}), s -> s.cid)"
    )


def assign_cells(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """Corpus → (id, vec, cell) via the shuffle-free argmax projection.

    One implementation with :func:`prototype_scores` (this is that frame
    minus the winning-cosine column), so the bound-norm/bound-struct
    projection chain, the collision-safe temp naming, and the ``cell``
    metadata contract — build parameters ride as column metadata so a
    consumer handed a precomputed cells frame (semdedup_pairs ``cells=``)
    can refuse a mismatched geometry instead of silently pairing in the
    wrong cells (same guard convention as hyperplane_buckets' key
    column) — evolve in exactly one place.  ``strategy`` is
    :func:`prototype_scores`' knob: ``'literal'`` (bit-exact folds, the
    oracle strategy) vs ``'pandas'`` (NumPy matmul, the large-k
    strategy); ``'auto'`` switches at :data:`_LITERAL_CENTS_MAX`."""
    return prototype_scores(
        df, cents, vec_col, id_col, strategy
    ).drop("proto_cos")


def train_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    iters: int = 2,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd (k-means) iterations as DataFrame ops.

    Seeded from the ``n_centroids`` lowest-id vectors (the same static
    pick :func:`ivf_topk` uses untrained), re-labeled with dense cell ids
    0..n-1.  Each iteration assigns every vector to its nearest centroid
    with the shuffle-free argmax projection (:func:`assign_cells`), then
    recomputes each cell's mean.  The mean is a SORTED sequential fold —
    ``array_sort(collect_list(struct(id, vec)))`` then one ``aggregate``
    — so the result is BIT-deterministic regardless of partitioning; a
    plain ``avg()`` over doubles is partial-sum-order dependent and would
    break oracle reproducibility.  Empty cells keep their previous
    centroid (standard Lloyd degeneracy handling).

    Scale note: the deterministic fold gathers each cell's vectors into
    one row, so train on a bounded SAMPLE (the standard practice — fit
    centroids on ~10^5 vectors, assign all 10^12 with the projection);
    ``pyspark.ml.clustering.KMeans`` is the alternative when bit-exact
    reproducibility is not required.  Untrained lowest-id centroids are
    arbitrary points: on clustered real embeddings their cells are
    unbalanced and recall collapses — a few Lloyd rounds move them to
    density centers (tests/test_training_ops.py pins the recall win)."""
    seed = (
        df.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    cents = [
        (i, [float(v) for v in r[1]]) for i, r in enumerate(seed)
    ]
    mean_fold = (
        "transform(aggregate(_sv, CAST(array() AS array<double>), "
        "(acc, s) -> CASE WHEN size(acc) = 0 "
        "THEN transform(s._v, x -> CAST(x AS DOUBLE)) "
        "ELSE zip_with(acc, s._v, (a, b) -> a + CAST(b AS DOUBLE)) END), "
        "x -> x / _n)"
    )
    for _ in range(iters):
        assigned = assign_cells(df, cents, vec_col, id_col)
        means = (
            assigned.groupBy("cell")
            .agg(
                F.expr(
                    f"array_sort(collect_list(struct({id_col} AS _id, "
                    f"{vec_col} AS _v)))"
                ).alias("_sv"),
                F.count(F.lit(1)).alias("_n"),
            )
            .select("cell", F.expr(mean_fold).alias("cvec"))
        )
        got = {int(r["cell"]): [float(v) for v in r["cvec"]]
               for r in means.collect()}
        cents = [(cid, got.get(cid, vec)) for cid, vec in cents]
    return cents


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    n_probe: int = 2,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells, probe only
    the query's ``n_probe`` nearest cells, exact cosine rerank inside them.

    Centroids are seed-picked deterministically — the ``n_centroids``
    LOWEST ids via orderBy+limit, valid for any id domain (xxhash64 doc
    ids included), not just dense 0-based ids — so the plan is RNG-free
    and oracle-reproducible; a production deployment would train them with
    k-means (pyspark.ml) and inline/broadcast the centroid table exactly
    the same way.  The corpus side assigns cells in a single projection
    (:func:`nearest_cell_expr` — no crossJoin, no Window, no shuffle);
    queries keep the windowed top-``n_probe`` assignment (tiny side).
    The probe join is a cell equi-join — at 10^12 vectors the corpus side
    shuffles once on ``cell`` (or is bucketed by it at write time) and
    each query touches ``n_probe / n_centroids`` of the data instead of
    all of it."""
    # ONE corpus scan materializes the centroid set (documented eager
    # step — production kmeans also trains/collects centroids up front);
    # the broadcast side is rebuilt from the collected rows instead of
    # re-scanning the corpus a second time.  ``train_iters > 0`` runs
    # that many deterministic Lloyd rounds (:func:`train_centroids`) so
    # centroids sit at density centers instead of arbitrary low-id
    # points — same plan shape either way, just better cell balance.
    if train_iters > 0:
        cents_local = train_centroids(
            df, vec_col, id_col, n_centroids, train_iters
        )
    else:
        cents_local = [
            (int(r[0]), [float(v) for v in r[1]])
            for r in df.orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .select(id_col, vec_col)
            .collect()
        ]

    [qn] = fresh_names(queries, "_qnorm")
    corpus_cells = assign_cells(
        df.select(id_col, vec_col), cents_local, vec_col, id_col
    ).select(F.col(id_col).alias("c_id"), "cell")
    query_cells = F.broadcast(
        queries.select(id_col, vec_col)
        .withColumn(qn, F.expr(_norm(vec_col)))
        .select(
            F.col(id_col).alias("q_id"),
            F.explode(
                F.expr(_probe_cells_expr(vec_col, qn, cents_local, n_probe))
            ).alias("cell"),
        )
    )
    hits = corpus_cells.join(query_cells, "cell")
    return _rerank_topk(hits, df, queries, k, vec_col, id_col)


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    signs: list[list[int]] | None = None,
) -> DataFrame:
    """Half-signature band buckets over an embedding column (2 bands):
    ``(id_col, band, key)`` — ids only, never the vectors (the id-only
    pair rule: this frame feeds self-joins and counts).

    This is the shared EXPENSIVE subtree of the capped pairing: a capped
    :func:`cosine_pairs` run and its mandatory :func:`cosine_hot_buckets`
    audit both start from it, and within cosine_pairs the plan references
    it three times (hot counts + both self-join sides) — Spark does NOT
    reuse-merge identical non-broadcast subtrees (CLAUDE.md, measured
    r4), so each reference would recompute the planes×dim signature
    arithmetic.  Compute it ONCE here, ``persist()`` it, pass it to both
    via their ``banded=`` parameter, and unpersist after materializing —
    the caller owns the lifecycle (same contract as the bloom bitmap)."""
    half = planes // 2
    mask = (1 << half) - 1
    s = hyperplane_signature(
        df.select(id_col, vec_col), vec_col, planes, signs=signs
    )
    return s.select(
        id_col,
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.expr(f"sig & {mask}").alias("key")),
                F.struct(F.lit(1).alias("band"),
                         F.expr(f"shiftright(sig, {half})").alias("key")),
            )
        ).alias("bk"),
    ).select(
        id_col,
        "bk.band",
        # the build parameters ride as column metadata so a consumer
        # called with different planes/vec_col can refuse the frame
        # instead of silently bucketing under the wrong geometry
        F.col("bk.key").alias(
            "key", metadata={"planes": planes, "vec_col": vec_col}
        ),
    )


def _banded_frame(
    df: DataFrame | None,
    banded: DataFrame | None,
    vec_col: str,
    id_col: str,
    planes: int,
    signs: list[list[int]] | None,
) -> DataFrame:
    """The :func:`hyperplane_buckets` frame: built from ``df``, or the
    caller's shared ``banded`` frame after the param guard."""
    if banded is None:
        if df is None:
            raise ValueError("pass df or a precomputed banded frame")
        return hyperplane_buckets(df, vec_col, id_col, planes, signs)
    _check_frame(
        banded, "banded", [id_col, "band", "key"], "key",
        f"hyperplane_buckets(df, vec_col, {id_col!r}, ...)",
        planes=planes, vec_col=vec_col,
    )
    return banded


def cosine_hot_buckets(
    df: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    signs: list[list[int]] | None = None,
    max_bucket: int = 10_000,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Audit view of the signature buckets a ``max_bucket`` cap would
    exclude from :func:`cosine_pairs` — same never-cap-silently contract
    as dedup.lsh_hot_buckets.

    Pass the capped run's persisted :func:`hyperplane_buckets` frame via
    ``banded`` so the audit reuses its signature computation instead of
    repeating the whole embedding→signature pipeline (the r4 bench paid
    10 s for exactly that recompute)."""
    banded = _banded_frame(df, banded, vec_col, id_col, planes, signs)
    return _hot_keys(banded, ["band", "key"], max_bucket)


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 16,
    signs: list[list[int]] | None = None,
    max_bucket: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via half-signature buckets + exact rerank.
    High thresholds → high bucket recall (near-identical vectors agree on
    most hyperplane signs).

    Hot-bucket guard (same rationale as dedup.lsh_candidate_pairs): a
    degenerate signature shared by a huge vector cluster (zero/constant
    embeddings) makes one bucket quadratic — buckets over ``max_bucket``
    are excluded via count + anti-join.  The cap is OPT-IN
    (``max_bucket=None`` default — recall must never be bounded silently);
    pass a cap and run/log :func:`cosine_hot_buckets` with it before a
    production run — and when you do, compute :func:`hyperplane_buckets`
    once, persist it, and hand it to BOTH calls via ``banded``: the
    capped plan references the banded subtree three times (hot counts +
    the two self-join sides) and the audit a fourth, each a full
    signature recompute without the shared persisted frame."""
    banded = _banded_frame(df, banded, vec_col, id_col, planes, signs)
    # The bucket self-join and the distinct carry ONLY ids: a candidate
    # pair is 16 bytes, not 2 × dim doubles.  (Measured r4: joining the
    # vectors through the bucket join made a degenerate-bucket corpus —
    # 5k near-identical synthetic docs, dim=64 — shuffle ~25 GB of
    # duplicated vectors and run 210 s; id-only pairs + a rerank join
    # brought the same query to ~segment of that.  The vectors rejoin
    # once per side below — a hash join the optimizer broadcasts when
    # the embedding table is small.)
    keyed = banded.select("band", "key", id_col)
    pairs = (
        _posting_pairs(keyed, ["band", "key"], id_col, max_bucket)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _rerank_pairs(pairs, df, id_col, vec_col, threshold)


def ann_recall_report(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    signs: list[list[int]] | None = None,
    n_centroids: int = 8,
    n_probe: int = 2,
    train_iters: int = 0,
    salts: int = 32,
    methods: tuple[str, ...] = ("lsh", "ivf", "quantized"),
    pq_m: int = 8,
    pq_ksub: int = 16,
    pq_iters: int = 0,
) -> DataFrame:
    """Recall ledger for the approximate ANN paths: one row per method
    with its recall@k against :func:`cosine_topk_bruteforce` ground
    truth — the number a user needs before trusting an approximate path
    at corpus scale.

    Per method: ``n_truth`` ground-truth rows, ``n_hit`` of them found
    by the approximate top-k, micro-average ``recall`` = n_hit / n_truth
    (integer sums → order-independent, so the double division is
    bit-deterministic across partitionings and engines), and
    ``min_recall`` — the worst single query (min of exact small-integer
    ratios; equally deterministic).  A macro mean over doubles would be
    partial-sum-order dependent, which is why it is NOT reported.

    The ground truth is computed ONCE (persisted) and compared against
    every method; the final report is materialized eagerly (one bounded
    collect of ``len(methods)`` aggregate rows — the job-summary
    exception to the no-collect policy) so the truth cache can be
    released before returning."""
    known = {"lsh", "ivf", "quantized", "pq"}
    bad = set(methods) - known
    if bad:
        raise ValueError(f"unknown methods {sorted(bad)}; pick from {sorted(known)}")
    truth = (
        cosine_topk_bruteforce(df, queries, k, vec_col, id_col, salts)
        .select("query_id", "neighbor_id")
        .persist()
    )
    try:
        per_q_truth = truth.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n_truth")
        )
        rows = []
        for m in methods:
            if m == "lsh":
                approx = lsh_topk(df, queries, k, vec_col, id_col, planes, signs)
            elif m == "ivf":
                approx = ivf_topk(
                    df, queries, k, vec_col, id_col,
                    n_centroids, n_probe, train_iters,
                )
            elif m == "pq":
                books = train_pq_codebooks(
                    df, pq_m, pq_ksub, vec_col, id_col, pq_iters
                )
                approx = pq_topk(
                    pq_encode(df, books, vec_col, id_col),
                    queries, books, k, vec_col, id_col, salts,
                )
            else:
                approx = cosine_topk_quantized(
                    df, queries, k, vec_col, id_col, salts
                )
            hits = (
                truth.join(
                    approx.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                    "left_semi",
                )
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("n_hit"))
            )
            agg = (
                per_q_truth.join(hits, "query_id", "left")
                .select(
                    "n_truth",
                    F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
                )
                .agg(
                    F.count(F.lit(1)).alias("n_queries"),
                    F.sum("n_truth").alias("n_truth"),
                    F.sum("n_hit").alias("n_hit"),
                    F.min(
                        F.col("n_hit").cast("double") / F.col("n_truth")
                    ).alias("min_recall"),
                )
                .collect()[0]
            )
            # zero queries (empty truth) leaves the sums/min NULL —
            # report zeros, not a TypeError
            n_truth = int(agg["n_truth"] or 0)
            n_hit = int(agg["n_hit"] or 0)
            rows.append(
                (
                    m,
                    k,
                    int(agg["n_queries"]),
                    n_truth,
                    n_hit,
                    float(n_hit) / float(n_truth) if n_truth else 0.0,
                    float(agg["min_recall"])
                    if agg["min_recall"] is not None
                    else 0.0,
                )
            )
    finally:
        truth.unpersist()
    return df.sparkSession.createDataFrame(
        rows,
        "method string, k int, n_queries bigint, n_truth bigint, "
        "n_hit bigint, recall double, min_recall double",
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — the FAISS IVF-PQ memory regime): vectors
# compress to m subspace codes (one byte each at ksub <= 256), and query
# scoring is Asymmetric Distance Computation — a per-query lookup table
# of subspace dot products, so a candidate costs m table lookups instead
# of a dim-length dot.  At 10^12 x 768-dim, float64 vectors are ~6 TB,
# int8 ~0.75 TB, and m=96 PQ codes ~96 GB — the tier where the corpus
# side of ANN fits in cluster memory.  Encode is a pure projection
# (argmin L2 per subspace over inlined centroid literals — the
# nearest_cell_expr posture: no shuffle, no crossJoin); scoring carries
# (codes, rnorm) only, never the vectors.


def _sq_norm(a: str) -> str:
    """Squared-L2 fold (no sqrt) — constant-folded when ``a`` is a
    literal, and the exact expression the DuckDB oracle mirrors."""
    return f"aggregate({a}, 0D, (acc, x) -> acc + x * x)"


def _seq_sq_norm(v: list[float]) -> float:
    """The SQL fold, in Python: 0.0 seed, sequential index-order adds of
    exact per-element squares — bit-identical to ``_sq_norm`` on the same
    values (every add is the same IEEE op in the same order)."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return acc


def _coerce_vec_batch(pdf, vec_col: str, id_col: str, dim: int):
    """Arrow batch → (n, dim) float64 matrix, REFUSING malformed rows
    (NULL vector, wrong dimension, NaN / NULL elements — Arrow coerces a
    NULL element to NaN) with the offending id in the message.

    This is the deliberate divergence of every pandas strategy from its
    literal twin on GARBAGE rows: an expression cannot raise, so the
    literal paths silently land a NULL/NaN vector in the lowest cid with
    a NULL/NaN score; the pandas paths refuse loudly (never-silent).
    On clean data the two agree to the documented ulp."""
    import numpy as np

    vals = pdf[vec_col].to_list()
    for i, v in enumerate(vals):
        if v is None or len(v) != dim:
            raise ValueError(
                f"{vec_col} for {id_col}={pdf[id_col].iloc[i]!r} is "
                f"{'NULL' if v is None else f'dim {len(v)}'}; "
                f"expected dim {dim}"
            )
    V = np.asarray([np.asarray(v, dtype=np.float64) for v in vals])
    bad = np.isnan(V).any(axis=1)
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"{vec_col} for {id_col}={pdf[id_col].iloc[i]!r} contains "
            f"NaN or NULL elements"
        )
    return V


def _seq_row_sq_norms(V):
    """Per-row squared norms with the FOLD's summation order: one
    vectorized add per element index (j ascending), so each row's value
    is bit-identical to the sequential SQL fold — CLAUDE.md's
    never-np.sum rule (pairwise rounding differs)."""
    import numpy as np

    acc = np.zeros(len(V), dtype=np.float64)
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return acc


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 0,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks: ``m`` lists of ``ksub`` (cid, centroid)
    pairs over dim/m-length subvectors.

    ``iters=0`` seeds each subspace with the ``ksub`` lowest-id vectors'
    subvectors (the static pick ivf_topk uses untrained — and the mode
    the sim_pq_topk oracle re-derives in SQL); ``iters>0`` runs the
    deterministic Lloyd of :func:`train_centroids` per subspace (same
    bounded-sample guidance).  Raises when the dimension does not tile
    ``m`` — silently padding a subspace would corrupt every code."""
    if m < 1 or ksub < 1:
        raise ValueError(f"m={m} and ksub={ksub} must be >= 1")
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    dim = int(first["d"])
    if dim % m:
        raise ValueError(f"dim {dim} does not tile m={m} subspaces")
    dsub = dim // m
    books: list[list[tuple[int, list[float]]]] = []
    for j in range(m):
        sub = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias(vec_col),
        )
        if iters > 0:
            books.append(
                train_centroids(sub, vec_col, id_col, ksub, iters)
            )
        else:
            seed = (
                sub.orderBy(F.col(id_col).asc()).limit(ksub).collect()
            )
            books.append(
                [
                    (i, [float(v) for v in r[vec_col]])
                    for i, r in enumerate(seed)
                ]
            )
    return books


def _pq_bind_subvecs(df: DataFrame, m: int, dsub: int, vec_col: str):
    """Bind each subvector to a real column — every subspace expression
    references its slice ksub times, and an inlined slice would re-slice
    per centroid (the CLAUDE.md bind-before-lambda rule)."""
    cols = fresh_names(df, *(f"_pqs{j}" for j in range(m)))
    for j, c in enumerate(cols):
        df = df.withColumn(c, F.slice(F.col(vec_col), j * dsub + 1, dsub))
    return df, cols


def _pq_codes_expr(
    codebooks: list[list[tuple[int, list[float]]]], subcols: list[str]
) -> str:
    """``array(code_0, …, code_{m-1})`` — per subspace the argmin-L2
    centroid as argmax of ``dot(x_j, c) - 0.5·|c|²`` over inlined
    literals, ties to the lowest cid (the nearest_cell_expr posture)."""
    code_exprs = []
    for j, book in enumerate(codebooks):
        structs = []
        for cid, cvec in book:
            lit = _vec_literal(cvec)
            score = (
                f"({_dot(f'`{subcols[j]}`', lit)}) - 0.5D * {_sq_norm(lit)}"
            )
            structs.append(
                f"named_struct('s', {score}, 'ncid', {-int(cid)}L)"
            )
        code_exprs.append(
            f"CAST(-(array_max(array({', '.join(structs)})).ncid) AS INT)"
        )
    return f"array({', '.join(code_exprs)})"


def _pq_rnorm_expr(codebooks: list[list[tuple[int, list[float]]]]) -> str:
    """Reconstruction norm from a ``codes`` column: sqrt of the chosen
    centroids' squared norms folded in subspace order.  The per-(j, cid)
    squared norms are SQL folds over the literals (constant-folded;
    bit-identical to the oracle's fold by construction, unlike a
    Python-side sum)."""
    nsq = (
        "array("
        + ", ".join(
            "array("
            + ", ".join(_sq_norm(_vec_literal(cvec)) for _, cvec in book)
            + ")"
            for book in codebooks
        )
        + ")"
    )
    return (
        f"sqrt(aggregate(zip_with(codes, {nsq}, "
        f"(c, ns) -> element_at(ns, c + 1)), 0D, (acc, v) -> acc + v))"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """Corpus → ``(id, codes array<int>, rnorm double)``.

    ``codes[j]`` is the argmin-L2 centroid of subspace ``j`` (expressed
    as argmax of ``dot(x_j, c) - 0.5·|c|²``, ties to the lowest cid).
    ``rnorm`` is the L2 norm of the RECONSTRUCTION (sqrt of the chosen
    centroids' squared norms, folded in subspace order) — the
    denominator ADC cosine needs, carried as one double so scoring never
    touches the original vector.

    Strategies (the :func:`prototype_scores` split — the inlined-literal
    expression is HOF-interpreted at any size, cost ∝ ksub·dim per row):
    ``'literal'`` — one shuffle-free projection over inlined literals,
    bit-identical to the DuckDB oracle (what ``sim_pq_topk`` pins);
    ``'pandas'`` — Arrow-batched NumPy per-subspace matmul argmax,
    needed at the PUBLISHED PQ setting (ksub = 256, where the literal
    path crawls).  ``'auto'`` picks literal iff
    ``ksub <= _LITERAL_CENTS_MAX``.  The pandas path's per-codeword
    ``0.5·|c|²`` constants and the rnorm accumulation reuse the SAME
    sequential fold order, so identical code choices give a
    BIT-identical rnorm; only the BLAS dot can differ in the last ulp,
    which flips a code only on an exact argmax score tie (pytest pins
    zero divergence on the test corpus)."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0][1])
    strategy = resolve_strategy(
        strategy, ksub <= _LITERAL_CENTS_MAX, ("literal", "pandas")
    )
    if strategy == "literal":
        bound, subcols = _pq_bind_subvecs(
            df.select(F.col(id_col), F.col(vec_col)), m, dsub, vec_col
        )
        coded = bound.select(
            F.col(id_col),
            F.expr(_pq_codes_expr(codebooks, subcols)).alias("codes"),
        )
        return coded.select(
            id_col, "codes",
            F.expr(_pq_rnorm_expr(codebooks)).alias("rnorm"),
        )
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    books = [sorted(b, key=lambda c: int(c[0])) for b in codebooks]
    C = [
        np.array([[float(x) for x in v] for _, v in b], dtype=np.float64)
        for b in books
    ]
    cid_maps = [
        np.array([int(cid) for cid, _ in b], dtype=np.int32) for b in books
    ]
    nsq = [
        np.array([_seq_sq_norm(v) for _, v in b], dtype=np.float64)
        for b in books
    ]
    dim = m * dsub
    in_fields = {f.name: f for f in df.schema.fields}
    schema = StructType([
        in_fields[id_col],
        StructField("codes", ArrayType(IntegerType(), False), False),
        StructField("rnorm", DoubleType(), False),
    ])

    def _encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[[id_col]].assign(
                    codes=[], rnorm=np.array([], dtype=np.float64)
                )
                continue
            V = _coerce_vec_batch(pdf, vec_col, id_col, dim)
            n = len(V)
            codes = np.empty((n, m), dtype=np.int32)
            acc = np.zeros(n, dtype=np.float64)
            for j in range(m):
                Vj = V[:, j * dsub:(j + 1) * dsub]
                S = Vj @ C[j].T - 0.5 * nsq[j]
                cj = S.argmax(axis=1)  # first max = lowest cid (sorted)
                codes[:, j] = cid_maps[j][cj]
                acc += nsq[j][cj]  # j-order sequential adds == the fold
            yield pdf[[id_col]].assign(
                codes=list(codes), rnorm=np.sqrt(acc)
            )

    return df.select(id_col, vec_col).mapInPandas(_encode, schema)


def _pq_luts_expr(
    codebooks: list[list[tuple[int, list[float]]]], subcols: list[str]
) -> str:
    """Per-query ADC lookup tables: ``luts[j][c] = dot(q_j, centroid_{j,c})``
    over the inlined codebooks, one array per subspace."""
    luts = []
    for j, book in enumerate(codebooks):
        dots = ", ".join(
            _dot(f"`{subcols[j]}`", _vec_literal(cvec)) for _, cvec in book
        )
        luts.append(f"array({dots})")
    return f"array({', '.join(luts)})"


# ADC cosine of a (codes, rnorm) candidate against the broadcast
# (_luts, _qn) query: m lookups folded in subspace order, zero-guarded.
_ADC_COS = (
    "CASE WHEN rnorm = 0D OR _qn = 0D THEN 0D ELSE ("
    "aggregate(transform(codes, (c, j) -> "
    "element_at(element_at(_luts, j + 1), c + 1)), "
    "0D, (acc, v) -> acc + v)) / (_qn * rnorm) END"
)


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salts: int = 32,
) -> DataFrame:
    """Approximate top-k by ADC cosine over PQ codes.

    Queries (small side) compute one lookup table each — ``luts[j][c] =
    dot(q_j, centroid_{j,c})`` over the inlined codebooks, plus the
    exact query norm — and broadcast; each candidate then costs ``m``
    array lookups folded in subspace order, one division, and the
    salted two-stage exact rank.  The corpus side ships 4-byte codes
    and one double — never vectors (the id-only-pair-join rule applied
    to the scoring payload itself).  Scores approximate the true cosine
    to the quantization error; measure with
    :func:`ann_recall_report(methods=("pq",))` before trusting at
    scale.  Zero reconstructions or zero queries score 0, not NaN."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    qb, subcols = _pq_bind_subvecs(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col)
        ),
        m,
        dsub,
        vec_col,
    )
    q = F.broadcast(
        qb.select(
            "query_id",
            F.expr(_pq_luts_expr(codebooks, subcols)).alias("_luts"),
            F.expr(_norm(vec_col)).alias("_qn"),
        )
    )
    scored = corpus_codes.join(
        q, F.col(id_col) != F.col("query_id")
    ).withColumn("cos", F.expr(_ADC_COS))
    return _topk_neighbors(scored, k, id_col, salts)


def ivf_pq_encode(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """One-pass IVF-PQ index build: ``(id, cell, codes, rnorm)``.

    Cell assignment (cosine argmax over the coarse centroids) and PQ
    encoding (argmin-L2 per subspace) happen in the SAME shuffle-free
    pass — the write-once artifact a deployment stores (bucketed by
    ``cell``) instead of the vectors: ~(4 + m + 8) bytes per vector.

    ``strategy`` follows :func:`pq_encode`/:func:`prototype_scores`
    (the HOF-interpreted ceiling hits BOTH halves here: coarse argmax ∝
    n_centroids·dim, codes ∝ ksub·dim): ``'auto'`` stays on the
    bit-exact literal projection iff ``max(len(cents), ksub)`` ≤
    :data:`_LITERAL_CENTS_MAX`; the pandas path does cells + codes +
    rnorm in ONE Arrow worker (sequential-fold norms, BLAS dots — same
    parity contract as its two parents, and the same loud refusal of
    malformed rows)."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0][1])
    strategy = resolve_strategy(
        strategy,
        max(len(cents), ksub) <= _LITERAL_CENTS_MAX,
        ("literal", "pandas"),
    )
    if strategy == "literal":
        [tmp] = fresh_names(df, "_rnorm")
        bound, subcols = _pq_bind_subvecs(
            df.select(F.col(id_col), F.col(vec_col)), m, dsub, vec_col
        )
        bound = bound.withColumn(tmp, F.expr(_norm(vec_col)))
        coded = bound.select(
            F.col(id_col),
            F.expr(
                nearest_cell_expr(vec_col, cents, norm_expr=f"`{tmp}`")
            ).alias("cell"),
            F.expr(_pq_codes_expr(codebooks, subcols)).alias("codes"),
        )
        return coded.select(
            id_col, "cell", "codes",
            F.expr(_pq_rnorm_expr(codebooks)).alias("rnorm"),
        )
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    ordered = sorted(cents, key=lambda c: int(c[0]))
    CC = np.array([[float(x) for x in v] for _, v in ordered],
                  dtype=np.float64)
    ccids = np.array([int(cid) for cid, _ in ordered], dtype=np.int64)
    ccn = np.sqrt(
        np.array([_seq_sq_norm(v) for _, v in ordered], dtype=np.float64)
    )
    books = [sorted(b, key=lambda c: int(c[0])) for b in codebooks]
    PB = [
        np.array([[float(x) for x in v] for _, v in b], dtype=np.float64)
        for b in books
    ]
    pb_cids = [
        np.array([int(cid) for cid, _ in b], dtype=np.int32) for b in books
    ]
    nsq = [
        np.array([_seq_sq_norm(v) for _, v in b], dtype=np.float64)
        for b in books
    ]
    dim = m * dsub
    in_fields = {f.name: f for f in df.schema.fields}
    schema = StructType([
        in_fields[id_col],
        StructField("cell", LongType(), False),
        StructField("codes", ArrayType(IntegerType(), False), False),
        StructField("rnorm", DoubleType(), False),
    ])

    def _encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[[id_col]].assign(
                    cell=np.array([], dtype=np.int64),
                    codes=[],
                    rnorm=np.array([], dtype=np.float64),
                )
                continue
            V = _coerce_vec_batch(pdf, vec_col, id_col, dim)
            n = len(V)
            rn_v = np.sqrt(_seq_row_sq_norms(V))
            S = V @ CC.T
            denom = np.outer(rn_v, ccn)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(denom > 0, S / denom, 0.0)
            cell = ccids[S.argmax(axis=1)]
            codes = np.empty((n, m), dtype=np.int32)
            acc = np.zeros(n, dtype=np.float64)
            for j in range(m):
                Vj = V[:, j * dsub:(j + 1) * dsub]
                Sj = Vj @ PB[j].T - 0.5 * nsq[j]
                cj = Sj.argmax(axis=1)
                codes[:, j] = pb_cids[j][cj]
                acc += nsq[j][cj]
            yield pdf[[id_col]].assign(
                cell=cell, codes=list(codes), rnorm=np.sqrt(acc)
            )

    return df.select(id_col, vec_col).mapInPandas(_encode, schema)


def ivf_pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 2,
    salts: int = 32,
) -> DataFrame:
    """The full FAISS IVF-PQ shape: probe the query's ``n_probe`` nearest
    cells, ADC-score the PQ codes inside them, salted exact rank.

    ``encoded`` is :func:`ivf_pq_encode`'s output (read it bucketed by
    ``cell`` at 10^12 scale so the probe join has no corpus-side
    exchange).  Each query touches ~``n_probe / n_centroids`` of the
    codes, and every touched candidate costs ``m`` lookups — the two
    approximations compose, so measure both at once:
    ``ivf_pq_topk(n_probe=n_centroids) == pq_topk`` EXACTLY (same codes,
    full probe — pinned in tests), and recall vs brute force is the
    ledger's job.  No distinct is needed on the probe join: a corpus row
    lives in exactly one cell, so (q, c) pairs are unique by
    construction."""
    m = len(codebooks)
    dsub = len(codebooks[0][0][1])
    [tmp] = fresh_names(queries, "_qnorm")
    qb, subcols = _pq_bind_subvecs(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        m,
        dsub,
        vec_col,
    )
    qb = qb.withColumn(tmp, F.expr(_norm(vec_col)))
    cells = _probe_cells_expr(vec_col, tmp, cents, n_probe)
    q = F.broadcast(
        qb.select(
            "query_id",
            F.explode(F.expr(cells)).alias("cell"),
            F.expr(_pq_luts_expr(codebooks, subcols)).alias("_luts"),
            F.col(tmp).alias("_qn"),
        )
    )
    scored = (
        encoded.join(q, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cos", F.expr(_ADC_COS))
    )
    return _topk_neighbors(scored, k, id_col, salts)


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023, arXiv
# 2303.09540).  The paper's algorithm — k-means the embedding space,
# compute pairwise cosine WITHIN each cluster only, connect pairs above a
# threshold, keep one representative per connected group — re-expressed
# as DataFrame ops: deterministic Lloyd (train_centroids) + shuffle-free
# argmax assignment (assign_cells) + an id-only within-cell self-join +
# min-label components (dedup.connected_components).  Distinct from
# embed.semantic_near_dup (hyperplane-LSH buckets): clustering bounds the
# candidate set by CELL, the paper's recipe for corpora where near-dups
# are semantic rather than lexical.


def _check_cells(
    cells: DataFrame,
    id_col: str,
    vec_col: str,
    n_cents: int | None = None,
) -> None:
    _check_frame(
        cells, "cells", [id_col, vec_col, "cell"], "cell",
        f"assign_cells(df, cents, {vec_col!r}, {id_col!r}) over this "
        f"call's centroids",
        n_cents=n_cents, vec_col=vec_col,
    )


def _cells_frame(
    df: DataFrame | None,
    cents: list[tuple[int, list[float]]] | None,
    cells: DataFrame | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The :func:`assign_cells` frame: assigned from ``(df, cents)``, or
    the caller's shared ``cells`` frame after the param guard."""
    if cells is None:
        if df is None or cents is None:
            raise ValueError("pass (df, cents) or a precomputed cells frame")
        return assign_cells(df.select(id_col, vec_col), cents, vec_col, id_col)
    _check_cells(cells, id_col, vec_col,
                 len(cents) if cents is not None else None)
    return cells


def semdedup_hot_cells(
    df: DataFrame | None = None,
    cents: list[tuple[int, list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cell: int = 100_000,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Audit view of the clusters a ``max_cell`` cap would exclude from
    :func:`semdedup_pairs` — same never-cap-silently contract as every
    pair operator's audit.  Pass the capped run's persisted
    :func:`assign_cells` frame via ``cells`` to share the assignment."""
    cells = _cells_frame(df, cents, cells, vec_col, id_col)
    return _hot_keys(cells, ["cell"], max_cell)


def semdedup_pairs(
    df: DataFrame | None = None,
    cents: list[tuple[int, list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_cell: int | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Within-cluster near-dup pairs: ``(cell, doc_a, doc_b, cos)`` for
    every same-cell pair with cosine ≥ ``threshold``.

    Plan shape (the 100 TB posture): the cell self-join carries ONLY
    ``(cell, id)`` rows — the id-only pair rule; vectors and their norms
    rejoin once per side AFTER the pair set exists, and each row's norm
    is computed in the pre-join projection (once per id, not once per
    pair — the inline ``_norm`` per pair costs 2 extra O(dim) folds on
    every candidate).  Within-cell pairing is quadratic in cell size by
    construction (the paper's trade: candidate quality for candidate
    count), so ``n_centroids`` must scale with the corpus — SemDeDup uses
    tens of thousands of clusters at web scale, keeping cells ~10^4 rows.
    A degenerate mega-cell (constant embeddings) is the same hazard as a
    hot LSH bucket: cap it with ``max_cell`` (OPT-IN, default None —
    recall is never bounded silently) and log :func:`semdedup_hot_cells`
    alongside, sharing the persisted ``cells`` frame with the audit.
    """
    cells = _cells_frame(df, cents, cells, vec_col, id_col)
    pairs = _posting_pairs(
        cells.select("cell", id_col), ["cell"], id_col, max_cell
    )
    return _rerank_pairs(pairs, cells, id_col, vec_col, threshold)


def semdedup_corpus(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 8,
    train_iters: int = 1,
    threshold: float = 0.9,
    cents: list[tuple[int, list[float]]] | None = None,
    max_cell: int | None = None,
) -> DataFrame:
    """End-to-end SemDeDup: rows of ``df`` that survive cluster-scoped
    semantic dedup (one min-id representative per connected near-dup
    group, all unpaired rows kept).  Trains centroids when ``cents`` is
    None — on a real corpus fit them on a bounded sample and pass them in
    (train_centroids' docstring; the assignment projection is the part
    that scales to 10^12 rows).

    The cells frame is persisted for the duration of the components
    build (the plan references it four times — both self-join sides and
    both vector rejoins — and Spark does not reuse-merge identical
    non-broadcast subtrees) and unpersisted before returning:
    connected_components materializes its edge list eagerly
    (localCheckpoint), so the returned anti-join plan no longer
    references the assignment."""
    from .dedup import dedup_by_clusters

    if cents is None:
        cents = train_centroids(
            df, vec_col, id_col, n_centroids=n_centroids, iters=train_iters
        )
    cells = assign_cells(
        df.select(id_col, vec_col), cents, vec_col, id_col
    ).persist()
    try:
        pairs = semdedup_pairs(
            cells=cells,
            cents=cents,
            vec_col=vec_col,
            id_col=id_col,
            threshold=threshold,
            max_cell=max_cell,
        )
        return dedup_by_clusters(df, pairs, id_col=id_col)
    finally:
        # dedup_by_clusters ran connected_components eagerly (per-round
        # localCheckpoint); the surviving plan is df ⟕ anti losers with
        # the cells lineage already cut
        cells.unpersist()


# The inlined-literal argmax is a higher-order-function expression, and
# Spark HOFs are CodegenFallback — the projection runs INTERPRETED at any
# k (measured: WholeStageCodegen absent even at k=2), so its per-row cost
# is a straight k·dim interpreted fold.  Fine to ~64 cells; past that the
# Arrow/NumPy kernel wins by the matmul margin (measured at k=256,
# 200k × dim-16: literal 22.3 s vs pandas 2.8 s — 8×, and the gap grows
# linearly with k).  The auto threshold:
_LITERAL_CENTS_MAX = 64


def prototype_scores(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    strategy: str = "auto",
) -> DataFrame:
    """``(id, vec, cell, proto_cos)`` — each vector's nearest centroid AND
    its cosine to that centroid (its "prototypicality").

    Two physical strategies (``'auto'`` picks by ``len(cents)`` vs
    :data:`_LITERAL_CENTS_MAX`):

    - ``'literal'`` — ONE shuffle-free projection chain:
      :func:`assign_cells` plus the winning score; the argmax struct
      (:func:`_best_cell_struct`) is bound to a real column and both
      fields are read from that one binding, so the n_centroids-way
      scoring runs once per row (the CLAUDE.md bind-don't-inline rule).
      Values are BIT-identical to the DuckDB oracles (sequential folds),
      which is why every contract row pins this strategy.  HOF-
      interpreted, so cost is linear in k·dim — the small-k strategy.
    - ``'pandas'`` — Arrow-batched ``mapInPandas``: one float64 BLAS
      matmul per batch against the (k × dim) centroid matrix, argmax
      with lowest-cid ties (centroids sorted by cid; NumPy argmax takes
      the first maximum).  Also shuffle-free (a mapper stage), 8×+
      faster at k ≥ 256 — the SemDeDup/D4 web-scale regime (tens of
      thousands of clusters).  Element widening matches the fold
      (``CAST(x AS DOUBLE)`` before multiply), but BLAS sums pairwise,
      so cosines can differ from the fold path in the last ulp and an
      EXACT argmax tie could in principle assign a different cell
      (pytest pins zero divergence on the test corpora).  Use
      ``'literal'`` when bit-exact oracle reproducibility matters more
      than speed.  MALFORMED rows diverge by design: a SQL expression
      cannot raise, so the literal path silently lands a NULL/short/NaN
      vector in the lowest cid with a NULL/NaN score, while the pandas
      path REFUSES it with the offending id
      (:func:`_coerce_vec_batch` — never-silent); clean your corpus
      before relying on ``'auto'``, which switches by ``len(cents)``,
      not by data.

    The ``cell`` column carries the same build-parameter metadata under
    both strategies, so the frame can be shared with every ``cells=``
    consumer (:func:`semdedup_hot_cells`, :func:`semdedup_pairs`) and a
    mismatched geometry is refused rather than silently mis-bucketed."""
    strategy = resolve_strategy(
        strategy, len(cents) <= _LITERAL_CENTS_MAX, ("literal", "pandas")
    )
    if strategy == "literal":
        rn, best = fresh_names(df, "_rnorm", "_best")
        bound = (
            df.select(F.col(id_col), F.col(vec_col))
            .withColumn(rn, F.expr(_norm(vec_col)))
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.expr(
                    _best_cell_struct(vec_col, cents, norm_expr=f"`{rn}`")
                ).alias(best),
            )
        )
        return bound.select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(f"-(`{best}`.ncid)").alias(
                "cell", metadata={"n_cents": len(cents), "vec_col": vec_col}
            ),
            F.col(f"{best}.ccos").alias("proto_cos"),
        )
    import numpy as np
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    ordered = sorted(cents, key=lambda c: int(c[0]))
    C = np.array([[float(x) for x in v] for _, v in ordered],
                 dtype=np.float64)
    cids = np.array([int(cid) for cid, _ in ordered], dtype=np.int64)
    # centroid norms via the SEQUENTIAL fold (CLAUDE.md: never np.sum —
    # pairwise rounding differs): the denominator is then bit-identical
    # to the literal path's, leaving only the BLAS numerator's
    # summation-order ulp
    cn = np.sqrt(
        np.array([_seq_sq_norm(v) for _, v in ordered], dtype=np.float64)
    )
    dim = C.shape[1]
    in_fields = {f.name: f for f in df.schema.fields}
    schema = StructType([
        in_fields[id_col],
        in_fields[vec_col],
        StructField(
            "cell", LongType(), False,
            metadata={"n_cents": len(cents), "vec_col": vec_col},
        ),
        StructField("proto_cos", DoubleType(), False),
    ])

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cell=np.array([], dtype=np.int64),
                                 proto_cos=np.array([], dtype=np.float64))
                continue
            V = _coerce_vec_batch(pdf, vec_col, id_col, dim)
            rn_v = np.sqrt(_seq_row_sq_norms(V))
            S = V @ C.T
            denom = np.outer(rn_v, cn)
            # zero-norm rows/centroids score 0 (the literal CASE guard)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(denom > 0, S / denom, 0.0)
            idx = S.argmax(axis=1)
            yield pdf.assign(
                cell=cids[idx],
                proto_cos=S[np.arange(len(V)), idx],
            )

    return df.select(id_col, vec_col).mapInPandas(_score, schema)


def prototype_prune(
    df: DataFrame,
    cents: list[tuple[int, list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prune_fraction: float = 0.5,
    scored: DataFrame | None = None,
    max_cell: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Prototype pruning (Sorscher et al. 2022, "Beyond neural scaling
    laws"; the second stage of D4, Tirumala et al. 2023): within each
    embedding cluster, DROP the ``prune_fraction`` most *prototypical*
    examples — the ones closest to their cluster centroid — and keep the
    informative tail.  Run after :func:`semdedup_corpus` (D4's stage one)
    for the published pipeline: dedup removes the near-copies, pruning
    then removes the easy redundant core of each semantic cluster.

    Returns the surviving rows of ``df`` with four appended audit columns
    — ``cell``, ``proto_cos``, ``proto_rank`` (1 = most prototypical in
    its cell), ``cell_n`` — so a curator can SEE why each row survived
    (never-silent policy).  Per cell of size n, exactly
    ``floor(prune_fraction · n)`` rows are dropped, chosen by
    (proto_cos DESC, id ASC) — deterministic across partitionings and
    engines (cosines here are dot/sqrt/÷ folds, the IEEE
    correctly-rounded set, so the order is engine-stable; no
    transcendentals).  Singleton cells lose nothing at fractions < 1.

    Plan shape: one shuffle-free scoring projection
    (:func:`prototype_scores`), one rank window partitioned by cell, one
    id-keyed semi-join back to ``df``.  The per-cell window is the same
    posture as :func:`semdedup_pairs`' within-cell pairing — SemDeDup/D4
    size ``n_centroids`` with the corpus (tens of thousands of clusters
    at web scale, cells ~10^4 rows), and ranking is n·log n per cell vs
    the pairing's n².  A degenerate mega-cell is the familiar hazard:
    pass ``max_cell`` (OPT-IN, default None) to EXEMPT cells above the
    cap from pruning — exempted rows are all KEPT (the conservative
    direction; a cap must never silently widen what gets dropped) with
    ``proto_rank`` still reported — and log
    :func:`semdedup_hot_cells(cells=scored, max_cell=...)` alongside,
    sharing this run's persisted ``scored`` frame with the audit.

    Pass ``scored`` (a persisted :func:`prototype_scores` frame) to share
    the scoring across the prune, the audit, and any SemDeDup stage run
    over the same geometry; the frame's ``cell`` metadata is verified
    against ``cents`` before use.  A shared frame may cover a SUPERSET of
    ``df`` (e.g. scores computed before a dedup stage removed rows) —
    ranks and cell sizes are always computed over ``df``'s CURRENT
    members only (stale rows would otherwise inflate the drop boundary
    past the survivors: a cell whose top half was already deduped away
    would then lose EVERYTHING silently).  A ``df`` row with no score row
    is an error (it could neither rank nor survive) and RAISES."""
    if not (0.0 <= prune_fraction < 1.0):
        raise ValueError(
            f"prune_fraction must be in [0, 1), got {prune_fraction} "
            f"(1.0 would drop every row of every cell)"
        )
    out_cols = {"cell", "proto_cos", "proto_rank", "cell_n"}
    clash = out_cols & set(df.columns)
    if clash:
        raise ValueError(
            f"input already carries reserved output column(s) "
            f"{sorted(clash)}; drop or rename them before prototype_prune"
        )
    if scored is None:
        if cents is None:
            raise ValueError("pass cents or a precomputed scored frame")
        scored = prototype_scores(df, cents, vec_col, id_col, strategy)
    else:
        _check_cells(scored, id_col, vec_col,
                     len(cents) if cents is not None else None)
        if "proto_cos" not in scored.columns:
            raise ValueError(
                "scored frame lacks proto_cos — build it with "
                "prototype_scores (assign_cells frames carry no score)"
            )
        # reconcile membership: rank over df's CURRENT rows only (a
        # stale superset inflates floor(frac·n) past the survivors), and
        # refuse a df row the frame cannot score (it would silently
        # vanish through the final inner join) — bounded probe, eager
        ids = df.select(id_col)
        unscored = ids.join(scored.select(id_col), id_col, "left_anti")
        missing = unscored.limit(1).collect()
        if missing:
            raise ValueError(
                f"df contains rows absent from the scored frame (e.g. "
                f"{id_col}={missing[0][0]!r}) — score the full input, or "
                f"let prototype_prune compute its own scores"
            )
        scored = scored.join(ids, id_col, "left_semi")
    rk, nc = "_prank", "_pn"
    w_rank = Window.partitionBy("cell").orderBy(
        F.col("proto_cos").desc(), F.col(id_col).asc()
    )
    w_cell = Window.partitionBy("cell")
    ranked = (
        scored.select(id_col, "cell", "proto_cos")
        .withColumn(rk, F.row_number().over(w_rank))
        .withColumn(nc, F.count(F.lit(1)).over(w_cell))
    )
    survive = F.col(rk) > F.floor(
        F.lit(float(prune_fraction)) * F.col(nc)
    )
    if max_cell is not None:
        survive = survive | (F.col(nc) > max_cell)
    keep = ranked.filter(survive).select(
        F.col(id_col),
        F.col("cell"),
        F.col("proto_cos"),
        F.col(rk).alias("proto_rank"),
        F.col(nc).alias("cell_n"),
    )
    return df.join(keep, id_col)
